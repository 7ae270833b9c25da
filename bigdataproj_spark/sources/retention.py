"""S19 (engine extension): targeted DELETE / retention — tombstones
propagated through every maintained layout.

Every real corpus pipeline needs a delete path (opt-out removal,
contamination recall, GDPR erasure): remove specific documents or
orders and have EVERY subsequent answer — cube-routed, spine-routed,
scan-routed, raw, verbatim SQL — describe the reduced corpus, without
rebuilding a 100 TB warehouse per request. Round-7 VERDICT ("What's
missing" item 5) named this the engine's one missing write operation.

The design is the lakehouse merge-on-read split, adapted to this
engine's serving model:

- **Row-level layouts keep their bytes; readers subtract.** A delete
  records the keys in a session TOMBSTONE set (a slim parquet of key
  values, versioned and swung like every projection). Every row-level
  read path — the CURRENT relations, the bucketed spine, the
  Z-order/dated/clustered scan layouts — applies one anti-join against
  it (:func:`apply_tombstones`; the set is delete-sized, so AQE
  broadcasts it and no plan gains a fact-side shuffle). Physical
  removal is deferred to the scheduled OPTIMIZE pass
  (``optimize_warehouse``), which rewrites the affected layouts
  without the dead rows and clears the tombstones — exactly
  Delta/Iceberg's delete-vector + rewrite-data-files cadence.
- **Aggregate layouts rebuild their AFFECTED GROUPS eagerly.** A cube
  cannot subtract (min/max and HLL-sketch partials are not invertible
  monoids), so the delete recomputes exactly the groups the deleted
  rows touched — O(rows in affected groups), never the corpus — from
  the remaining (tombstone-filtered) rows, splices them into the
  stored cube, and publishes a new version. Additive, min/max, and
  sketch partials all come out exact because they are re-derived from
  surviving rows, not adjusted.
- **Order deletes cascade.** ``delete_orders`` removes the order rows
  AND their lineitems (the l_orderkey anti-join rides the same
  tombstone set) — the natural retention semantics for an order-keyed
  star.
- **Dimension registries stay.** A source whose last document is
  deleted keeps its registry row: every dim join is INNER, so an
  unreferenced dim row changes no answer, and registries are
  append-only by design (completeness is their invariant).
- **Dedup indexes.** The stored fingerprint/bands indexes the
  incremental dedup paths join against (operators/dedup.py) are
  caller-owned tables keyed by doc_id; :func:`delete_from_index`
  rewrites one without the deleted documents' rows so a removed
  document can never re-suppress a future re-submission.

The whole delete runs inside :class:`~.txn.WarehouseTxn`, so a failure
mid-propagation rolls every memo back — a delete is all-or-nothing
exactly like an ingest batch.

At 100 TB: the tombstone set is |deleted| keys (broadcast forever);
affected-group recompute reads only the touched groups' surviving rows
(pruned by the layouts' own partition/zone structure where available);
the deferred physical rewrite batches any number of deletes into one
scheduled pass.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import key_join
from ..session import one_split, run_parallel
from .bucketed import _layout_paths
from .snapshots import versioned_parquet
from .state import session_state, warehouse
from .user_projections import _build, _keyed, _publish_cube, deployed_views

# base table -> tombstone key column
TOMBSTONE_KEYS = {"documents": "doc_id", "orders": "o_orderkey"}


def tombstone_df(
    spark: SparkSession, sf_dir: str, table_name: str
) -> DataFrame | None:
    """The current tombstone key set for (sf_dir, table), or None.
    Tombstone sets publish to NEW ``_v{n}`` paths (immutable once
    written), so the scan is memoized per path — this read sits on
    EVERY routed scan once a delete exists (apply_tombstones)."""
    path = warehouse(spark, sf_dir).tombstones.get(table_name)
    if not path:
        return None
    return versioned_parquet(spark, path)


def apply_tombstones(
    spark: SparkSession,
    sf_dir: str,
    table_name: str,
    df: DataFrame,
    key_col: str | None = None,
) -> DataFrame:
    """Subtract the tombstoned keys from ``df`` (anti-join on
    ``key_col``, default the table's own key). No-op — zero plan
    nodes added — when no delete has happened, so the hot paths pay
    one dict probe."""
    t = tombstone_df(spark, sf_dir, table_name)
    if t is None:
        return df
    key = key_col or TOMBSTONE_KEYS[table_name]
    tomb = t.withColumnRenamed(TOMBSTONE_KEYS[table_name], key)
    return df.join(tomb, key, "left_anti")


def _normalize_ids(spark: SparkSession, ids, key: str) -> DataFrame:
    """The distinct requested keys as one ``key bigint`` column. A key
    frame goes through the one-split rule. A literal id list is already
    held by the driver, so it is one partition whatever its length; it
    goes through Arrow, which makes a local relation Spark can size
    (so joins against it may broadcast), where a Python row list would
    make an RDD whose size Spark does not know."""
    if isinstance(ids, DataFrame):
        frame = one_split(ids.select(F.col(ids.columns[0]).alias(key)))
    else:
        import pyarrow as pa

        frame = spark.createDataFrame(
            pa.table({key: pa.array([int(i) for i in ids], pa.int64())})
        ).coalesce(1)
    return frame.distinct()


def _fresh_keys(
    spark: SparkSession, sf_dir: str, table_name: str, ids: DataFrame
) -> DataFrame:
    """The NEW keys of a delete request: the requested ids minus the
    already-tombstoned set, pinned eagerly. Computed OUTSIDE the
    transaction (round-9 review finding) so a re-issued delete — the
    documented-idempotent scheduled-retention case — discovers it is a
    no-op before paying WarehouseTxn's snapshot (state copy + warehouse
    file walk). A re-delete must not re-trigger group rebuilds."""
    key = TOMBSTONE_KEYS[table_name]
    stored = tombstone_df(spark, sf_dir, table_name)
    fresh = ids if stored is None else ids.join(stored, key, "left_anti")
    return fresh.localCheckpoint(eager=True)  # pin before any memo swing


def _publish_tombstones(
    spark: SparkSession, sf_dir: str, table_name: str, fresh: DataFrame
) -> None:
    """Union the (non-empty) fresh keys into the stored tombstone set
    and publish a new version the memo swings to. In-txn half of the
    old _record_tombstones."""
    stored = tombstone_df(spark, sf_dir, table_name)
    merged = fresh if stored is None else stored.unionByName(fresh)
    tag, wh = _layout_paths(sf_dir)
    base = os.path.join(wh, f"tombstones_{table_name}_{tag}")
    ws = warehouse(spark, sf_dir)
    new_path = ws.publish(base)
    merged.write.mode("overwrite").parquet(new_path)
    ws.tombstones[table_name] = new_path


def _splice_groups(
    spark: SparkSession,
    stored: DataFrame,
    keys: list[str],
    affected: DataFrame,
    recomputed: DataFrame,
) -> DataFrame:
    """stored − affected groups + recomputed affected groups (a group
    whose rows all died simply disappears — recomputed has no row for
    it, matching a from-scratch build; a NULL group key is a group like
    any other)."""
    return key_join(stored, affected, keys, "left_anti").unionByName(recomputed)


def _recompute_groups(
    spark: SparkSession,
    sf_dir: str,
    table_name: str,
    current,
    affected_of,
    done: dict[str, str],
) -> None:
    """THE affected-group recompute of every view over ``table_name``
    the mutation hooks maintain — its deployed built-ins and its
    refresh-maintained user views alike. ``affected_of(view)`` gives
    the group-key tuples the mutation touched (None skips the view);
    the view rebuilds exactly those groups from ``current(spark,
    sf_dir)``, the table's live rows, semi-filtered BEFORE the groupBy
    (O(rows in affected groups), never the corpus), splices them into
    its stored cube and publishes a new version. The views read
    settled state and publish disjoint outputs, so they recompute in
    parallel (run_parallel awaits every leg before any raise)."""

    def leg(e):
        def run() -> None:
            affected = affected_of(e.view)
            if affected is None:
                return
            recomputed = _build(
                spark, sf_dir, current(spark, sf_dir), e.view, group_filter=affected
            )
            # versioned_parquet: the stored cube path is immutable once
            # published and already memoized by the routed read path
            merged = _splice_groups(
                spark, versioned_parquet(spark, e.path), list(e.view.group_cols),
                affected, recomputed,
            )
            done[e.label] = _publish_cube(spark, sf_dir, e, merged)

        return f"recompute: {e.label}", run

    run_parallel(*map(leg, deployed_views(spark, sf_dir, table_name)))


def _dead_groups(spark: SparkSession, sf_dir: str, dead: DataFrame):
    """``affected_of`` for a delete: the groups the dead rows fell in,
    through each view's own arm joins."""
    return lambda v: (
        _keyed(spark, sf_dir, dead, v).select(*v.group_cols).distinct()
    )


# ---------------------------------------------------------------------------
# delete_documents
# ---------------------------------------------------------------------------


def delete_documents(spark: SparkSession, sf_dir: str, doc_ids) -> dict[str, str]:
    """Delete documents by id from the warehouse: record tombstones
    (every row-level read path subtracts them from now on), eagerly
    rebuild the affected groups of every deployed documents cube —
    built-in and user-declared — and mark the corpus changed so
    verbatim views re-point. Returns {layout: new path} for the
    layouts that were republished. All-or-nothing under WarehouseTxn."""
    from ..catalog import bump_mutation_epoch
    from ..plans.routing import current_documents
    from .txn import WarehouseTxn

    ids = _normalize_ids(spark, doc_ids, "doc_id")
    # no-op check OUTSIDE the txn: a re-issued delete must not pay the
    # snapshot (round-9 review finding)
    fresh = _fresh_keys(spark, sf_dir, "documents", ids)
    if not fresh.take(1):
        return {}
    with WarehouseTxn(spark, sf_dir, note="delete documents"):
        # the rows being deleted, captured against the PRE-delete
        # corpus (they drive the affected-group computation)
        deleted = (
            current_documents(spark, sf_dir)
            .join(fresh, "doc_id", "semi")
            .localCheckpoint(eager=True)
        )
        # S23b: the deleted rows ARE the commit's change set
        from .snapshots import stage_changes

        stage_changes(spark, sf_dir, "documents", deleted, "delete")
        _publish_tombstones(spark, sf_dir, "documents", fresh)
        bump_mutation_epoch(spark, sf_dir, "documents")
        done: dict[str, str] = {}
        # the documents views' affected groups rebuild from the
        # (now tombstone-filtered) current relation
        _recompute_groups(
            spark, sf_dir, "documents", current_documents,
            _dead_groups(spark, sf_dir, deleted), done,
        )

        # verbatim views must re-point at the (now tombstone-aware)
        # current relation
        warehouse(spark, sf_dir).ingested.add("documents")
        return done


# ---------------------------------------------------------------------------
# delete_orders (cascades to lineitems)
# ---------------------------------------------------------------------------


def delete_orders(spark: SparkSession, sf_dir: str, order_keys) -> dict[str, str]:
    """Delete orders — and, cascading, all their lineitems — from the
    warehouse. Row-level layouts (bucketed fact/orders, rollup/denorm
    spine, Z-order, ship-month) subtract via tombstones at read;
    every deployed lineitem CUBE (pricing, star-date, segment,
    user-declared) eagerly rebuilds exactly the groups the deleted
    lineitems touched — including the star cube's HLL sketch partials,
    which are re-derived from surviving rows because sketches cannot
    subtract. All-or-nothing under WarehouseTxn."""
    from ..catalog import bump_mutation_epoch
    from ..plans.routing import current_lineitem
    from .txn import WarehouseTxn

    ids = _normalize_ids(spark, order_keys, "o_orderkey")
    # no-op check OUTSIDE the txn (round-9 review finding)
    fresh = _fresh_keys(spark, sf_dir, "orders", ids)
    if not fresh.take(1):
        return {}
    with WarehouseTxn(spark, sf_dir, note="delete orders"):
        deleted_li = (
            current_lineitem(spark, sf_dir)
            .join(
                fresh.withColumnRenamed("o_orderkey", "l_orderkey"),
                "l_orderkey",
                "semi",
            )
            .localCheckpoint(eager=True)
        )
        # S23b: stage BOTH sides of the cascade before the tombstone
        # swing hides them from the current relations — the orders
        # rows die, and their lineitems go with them
        from ..plans.routing import current_orders
        from .snapshots import stage_changes

        stage_changes(
            spark, sf_dir, "orders",
            current_orders(spark, sf_dir).join(fresh, "o_orderkey", "semi"),
            "delete",
        )
        stage_changes(spark, sf_dir, "lineitem", deleted_li, "delete")
        _publish_tombstones(spark, sf_dir, "orders", fresh)
        bump_mutation_epoch(spark, sf_dir, "orders", "lineitem")
        done: dict[str, str] = {}
        _recompute_groups(
            spark, sf_dir, "lineitem", current_lineitem,
            _dead_groups(spark, sf_dir, deleted_li), done,
        )

        warehouse(spark, sf_dir).ingested.update(("lineitem", "orders"))
        return done


# ---------------------------------------------------------------------------
# S21 (round 9): order-UPDATE reattribution. Re-ingesting an EXISTING
# o_orderkey upserts the bucketed orders row and the denorm (so the
# spine, the rollup⋈denorm pair, and every raw path serve the new
# attributes immediately) — but a cube that aggregated the order's
# EXISTING lineitems under the old attributes (segment/star built-ins,
# chain>=1 user views) kept serving the old attribution, diverging
# routed from raw (found by direct experiment this round). The fix is
# the S19 affected-group machinery applied to updates: the groups the
# conflicting orders' lineitems belonged to under the OLD attributes
# and the groups they belong to under the NEW attributes both
# recompute from the post-update relations. O(conflict lineitems +
# rows in affected groups), never the corpus; a pure-append orders
# batch skips all of this on one emptiness probe.
# ---------------------------------------------------------------------------


def reattribute_order_updates(
    spark: SparkSession,
    sf_dir: str,
    old_orders: DataFrame,
    new_orders: DataFrame,
) -> dict[str, str]:
    """Rebuild the affected groups of every order-attributed cube
    after an order UPDATE batch. ``old_orders`` are the PRE-upsert
    stored rows of the conflicting keys (captured by refresh_warehouse
    before the upsert, pinned); ``new_orders`` the delta's rows for
    the same keys. Runs inside the caller's WarehouseTxn."""
    from ..plans.routing import current_lineitem

    keys = old_orders.select("o_orderkey")
    li = (
        current_lineitem(spark, sf_dir)
        .join(
            keys.withColumnRenamed("o_orderkey", "l_orderkey"),
            "l_orderkey",
            "semi",
        )
        .localCheckpoint(eager=True)
    )
    done: dict[str, str] = {}
    if not li.take(1):
        return done  # childless orders: no cube row derives from them

    # the views joining the order chain: the groups the conflicting
    # orders' lineitems fall in under the OLD and the NEW attributes
    def _affected(v):
        if "orders" not in v.arms:
            return None
        return (
            _keyed(spark, sf_dir, li, v, opened={"orders": old_orders})
            .select(*v.group_cols)
            .unionByName(
                _keyed(spark, sf_dir, li, v, opened={"orders": new_orders})
                .select(*v.group_cols)
            )
            .distinct()
        )

    _recompute_groups(
        spark, sf_dir, "lineitem", current_lineitem, _affected, done
    )
    return done


# ---------------------------------------------------------------------------
# Dedup-index propagation + physical rewrite hooks.
# ---------------------------------------------------------------------------


def delete_from_index(
    spark: SparkSession, index_path: str, doc_ids, key: str = "doc_id"
) -> int:
    """Remove deleted documents' rows from a stored dedup index (the
    fingerprint or MinHash-bands tables the incremental dedup paths
    join each batch against — operators/dedup.py). Without this, a
    deleted document would keep suppressing future re-submissions of
    the same content as 'dup_index'. Rewrites the index in place
    (localCheckpoint pins the surviving rows before the overwrite —
    the same pattern as the engine's other self-referential rewrites).
    Returns the surviving row count."""
    ids = _normalize_ids(spark, doc_ids, key)
    stored = spark.read.parquet(index_path)
    kept = stored.join(ids, key, "left_anti").localCheckpoint(eager=True)
    n = kept.count()
    kept.write.mode("overwrite").parquet(index_path)
    return n


def clear_tombstones_after_rewrite(spark: SparkSession, sf_dir: str) -> None:
    """Called by optimize_warehouse once every row-level layout has
    been physically rewritten without the dead rows: the tombstone
    sets are no longer needed and every read path drops its
    anti-join."""
    warehouse(spark, sf_dir).tombstones.clear()


# ---------------------------------------------------------------------------
# Driver queries: delete in, routed answers out. The engine deletes on
# a session-scoped COPY of the fixture (registry queries must never
# mutate the shared corpus other queries read), while the DuckDB
# oracle computes the same aggregate from the ORIGINAL tables with the
# deleted keys excluded by predicate — post-delete warehouse ==
# never-had-those-rows, differentially checked.
# ---------------------------------------------------------------------------

import tempfile  # noqa: E402

from ..catalog import pid_scratch, table  # noqa: E402
from ..registry import query  # noqa: E402

_DEMO_ROOT = os.path.join(tempfile.gettempdir(), "bigdataproj_retention_demo")


def _demo_corpus(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...], demo: str = ""
) -> str:
    """A session-scoped mutable copy of selected fixture tables (the
    delete/DML demos' sandbox; memoized per (sf_dir, tables, demo)).
    Each key gets its OWN directory — tombstones and watermarks are
    keyed by corpus path, so two mutation demos sharing a directory
    would see each other's deletions and drift from their oracles
    (found by the driver running all demos in one session). ``demo``
    separates demos that need the same table set."""
    import hashlib

    from .bucketed import _layout_paths

    tag, _wh = _layout_paths(sf_dir)
    sub = hashlib.md5(",".join(tables).encode() + demo.encode()).hexdigest()[:8]
    root = os.path.join(pid_scratch(_DEMO_ROOT), f"{tag}_{sub}")
    memo = session_state(spark).sandboxes
    key = (sf_dir, tables, demo)
    if key in memo:
        return memo[key]
    # BYTE-copy the fixture files (round 12, guide §1.2): the old
    # Spark read→write round-trip paid a full job + parquet re-encode
    # per table (~1.4 s × 10 tables per sandbox — the single largest
    # fixed cost of every DML demo query). A byte-identical copy is
    # semantically identical because every engine read goes through
    # catalog.table(), which normalizes the fixture's TIMESTAMP(NANOS)
    # at READ time — the copy's stored types don't matter, only that
    # they match what table() expects from a fixture dir (they are the
    # fixture's own bytes, so they do by construction).
    import shutil

    os.makedirs(root, exist_ok=True)
    for t in tables:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(root, f"{t}.parquet")
        # REPLACE, never merge (round-13, r12-ADVICE medium): the memo
        # is per-SparkSession but the pid-scratch dir outlives it, so a
        # second session in one process re-initializes a sandbox an
        # earlier session's DML mutated — leftover mutated part-files
        # (different names than the fixture's) would otherwise mix with
        # the re-copied fixture bytes and double-count rows. rmtree
        # restores the old Spark write's mode('overwrite') truncation.
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)
    memo[key] = root
    return root


_DELETE_DOCS_ORACLE = """
SELECT lang, source,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  COUNT(*) AS n
FROM documents
WHERE doc_id % 17 <> 3
GROUP BY lang, source
ORDER BY lang, source
"""


@query(
    "q17_delete_documents_sql",
    oracle=_DELETE_DOCS_ORACLE,
    tags=("S19", "S15", "A1"),
)
def q17_delete_documents_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19 end-to-end (round-8, r7-VERDICT item 5): opt-out removal.
    A copy of the corpus deploys the doc-stats cube, then
    ``delete_documents`` tombstones every doc_id ≡ 3 (mod 17); the
    cube's affected (lang, source) groups are rebuilt from surviving
    rows and the identical profile statement — still answered FROM THE
    CUBE — matches DuckDB computing over the raw table with the
    deleted keys predicated out. Redelivered deletes no-op (the
    tombstone set already covers them), so the steady state is
    idempotent."""
    from ..plans.sqlfront import route_sql
    from .corpus_cubes import docs_stats_cube_table

    demo = _demo_corpus(spark, sf_dir, ("documents",))
    docs_stats_cube_table(spark, demo)
    ids = (
        table(spark, demo, "documents")
        .filter(F.col("doc_id") % 17 == 3)
        .select("doc_id")
    )
    delete_documents(spark, demo, ids)
    sql = (
        "SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
        "COUNT(*) AS n FROM documents GROUP BY lang, source "
        "ORDER BY lang, source"
    )
    df, chosen = route_sql(spark, demo, sql)
    assert chosen == "docs_stats_cube", chosen
    return df


_DELETE_ORDERS_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n
FROM lineitem
WHERE l_orderkey % 23 <> 7
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query(
    "q37_delete_orders_sql",
    oracle=_DELETE_ORDERS_ORACLE,
    tags=("S19", "S13", "A1"),
)
def q37_delete_orders_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19's cascading form: ``delete_orders`` tombstones every order
    ≡ 7 (mod 23) AND their lineitems; the pricing cube's affected
    (flag, status, day) groups rebuild from surviving rows, and the
    identical pricing statement — still cube-routed — matches DuckDB
    over the raw lineitem with the dead keys predicated out."""
    from ..plans.sqlfront import route_sql
    from .bucketed import pricing_cube_table

    demo = _demo_corpus(spark, sf_dir, ("lineitem", "orders"))
    pricing_cube_table(spark, demo)
    keys = (
        table(spark, demo, "orders")
        .filter(F.col("o_orderkey") % 23 == 7)
        .select("o_orderkey")
    )
    delete_orders(spark, demo, keys)
    sql = (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) "
        "* (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) "
        "AS revenue, COUNT(*) AS n "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"
    )
    df, chosen = route_sql(spark, demo, sql)
    assert chosen == "pricing_cube", chosen
    return df


_DML_DELETE_ORACLE = """
SELECT lang,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  COUNT(*) AS n
FROM documents
WHERE doc_id % 19 <> 6
GROUP BY lang
ORDER BY lang
"""


@query(
    "q09_sql_delete_dml",
    oracle=_DML_DELETE_ORACLE,
    tags=("S19", "E1", "A1"),
)
def q09_sql_delete_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19's DML spelling end to end: the erasure request arrives as
    SQL text — ``DELETE FROM documents WHERE doc_id IN (…)`` through
    Engine.sql (plans/ddl.py) — and the subsequent profile statement,
    still answered from the doc-stats cube, matches DuckDB over the
    raw table with the deleted keys predicated out. The id list is
    derived from the corpus (doc_id ≡ 6 mod 19), chunked through the
    strict IN-list grammar exactly as an opt-out batch would arrive."""
    from ..catalog import TABLES
    from ..engine import Engine
    from .corpus_cubes import docs_stats_cube_table

    # Engine.sql registers EVERY fixture view, so this demo corpus
    # copies the full table set (unlike r135/r136, which drive the
    # routers directly)
    demo = _demo_corpus(spark, sf_dir, TABLES)
    docs_stats_cube_table(spark, demo)
    ids = [
        r["doc_id"]
        for r in table(spark, demo, "documents")
        .filter(F.col("doc_id") % 19 == 6)
        .select("doc_id")
        .collect()
    ]
    eng = Engine(spark, demo)
    eng.sql(
        "DELETE FROM documents WHERE doc_id IN ("
        + ", ".join(str(i) for i in ids)
        + ")"
    )
    sql = (
        "SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
        "COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang"
    )
    from ..plans.sqlfront import route_sql

    df, chosen = route_sql(spark, demo, sql)
    assert chosen == "docs_stats_cube", chosen
    return df


# ---------------------------------------------------------------------------
# S19b: TIME-BASED retention (TTL) for the event log. Key-list
# tombstones are the wrong tool for "expire everything before T" —
# the dead-key set is unbounded — so expiry is a WATERMARK: one
# timestamp per (corpus, table), applied as a plain ``ts >= T``
# predicate on every row-level read path (which the day-partitioned
# layout turns into directory pruning — expired days are never
# opened), with the hour-grain cubes REBUILT-BY-FILTER exactly
# (the cutoff is required to sit on an hour boundary, so dropping
# stored hour groups < T is a row-set equivalence — the same
# grain-boundary argument plans/routing.py makes for time
# predicates). The scheduled OPTIMIZE rewrite physically drops the
# expired rows (whole day directories on the dated layout).
# ---------------------------------------------------------------------------

_WATERMARK_BOUNDARY = re.compile(r"^\d{4}-\d{2}-\d{2}( \d{2}:00:00)?$")


def event_watermark(spark: SparkSession, sf_dir: str) -> str | None:
    """The current events expiry cutoff ('YYYY-MM-DD HH:00:00'), or
    None when nothing has been expired."""
    return warehouse(spark, sf_dir).watermarks.get("events")


def apply_event_watermark(
    spark: SparkSession, sf_dir: str, df: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Subtract expired rows (``ts >= watermark``). No-op — zero plan
    nodes — before any expiry. On the day-partitioned layout the
    derived ``event_day_p >= day(watermark)`` conjunct (added by the
    layout readers) prunes whole directories; this row predicate is
    the exactness guarantee either way."""
    wm = event_watermark(spark, sf_dir)
    if wm is None:
        return df
    return df.filter(F.col(ts_col) >= F.lit(wm).cast("timestamp"))


def expire_events(spark: SparkSession, sf_dir: str, before_ts: str) -> dict[str, str]:
    """Expire every event with ``ts < before_ts`` (an HOUR-BOUNDARY
    literal — 'YYYY-MM-DD' or 'YYYY-MM-DD HH:00:00'; anything finer is
    refused, because the stored hour groups could not express the
    cutoff exactly). Monotone: a cutoff older than the current
    watermark is a no-op. The hourly cube (and every hour-keyed user
    view) drops its expired groups by an exact stored-key filter;
    non-time-keyed user event views rebuild whole from the surviving
    rows (every group may have lost rows — documented cost, on the
    retention cadence, never per query). All-or-nothing under
    WarehouseTxn."""
    from ..plans.routing import current_events
    from .txn import WarehouseTxn

    raw = before_ts.strip()
    if not _WATERMARK_BOUNDARY.match(raw):
        raise ValueError(
            "expire_events takes an hour-boundary cutoff "
            "('YYYY-MM-DD' or 'YYYY-MM-DD HH:00:00'); sub-hour cutoffs "
            "cannot drop whole stored hour groups exactly"
        )
    cutoff = raw if len(raw) > 10 else f"{raw} 00:00:00"
    # the regex checks SHAPE only; a calendar-invalid literal
    # ('2024-02-30', hour 24) would commit a watermark every later
    # events read casts — ANSI mode then errors the whole event log —
    # so validate by actually parsing (the round-6 date-literal lesson,
    # sources/dated.py)
    import datetime as _dt

    try:
        _dt.datetime.strptime(cutoff, "%Y-%m-%d %H:%M:%S")
    except ValueError as e:
        raise ValueError(f"not a valid timestamp: {raw!r} ({e})") from e
    # monotone no-op check OUTSIDE the txn: a scheduled retention job
    # re-issuing an unchanged cutoff must not pay the txn's snapshot
    current = warehouse(spark, sf_dir).watermarks.get("events")
    if current is not None and current >= cutoff:
        return {}
    with WarehouseTxn(spark, sf_dir, note="expire events"):
        from ..catalog import bump_mutation_epoch

        # S23b: capture the newly-expired rows BEFORE the watermark
        # swing subtracts them from the current relation — the dated
        # layout's day-partition pruning keeps this scan O(expired
        # days), not O(event log)
        from .snapshots import stage_changes

        stage_changes(
            spark, sf_dir, "events",
            current_events(spark, sf_dir).filter(
                F.col("ts") < F.lit(cutoff).cast("timestamp")
            ),
            "delete",
        )
        ws = warehouse(spark, sf_dir)
        ws.watermarks["events"] = cutoff
        bump_mutation_epoch(spark, sf_dir, "events")
        done: dict[str, str] = {}

        # hour-keyed views drop their expired groups by a stored-key
        # filter (== rebuild: the cutoff is on an hour boundary); the
        # others rebuild whole from the (now watermarked) relation
        for e in deployed_views(spark, sf_dir, "events"):
            if e.view.time_key is not None:
                merged = versioned_parquet(spark, e.path).filter(
                    F.col(e.view.time_key[0]) >= F.lit(cutoff).cast("timestamp")
                )
            else:
                merged = _build(spark, sf_dir, current_events(spark, sf_dir), e.view)
            done[e.label] = _publish_cube(spark, sf_dir, e, merged)

        ws.ingested.add("events")
        return done


_EXPIRE_ORACLE = """
SELECT event_type,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
  COUNT(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "q15_sql_expire_events",
    oracle=_EXPIRE_ORACLE,
    tags=("S19", "S15", "A1", "ST1"),
)
def q15_sql_expire_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19b end to end: TTL retention on the event log. The demo
    corpus expires everything before 2024-01-10 (a day boundary); the
    hourly cube drops its expired groups by an exact stored-key
    filter, and the per-type rollup — still cube-routed — matches
    DuckDB computing over the raw table with the cutoff predicated.
    Re-expiring an older cutoff is a no-op (monotone watermark)."""
    from ..plans.sqlfront import route_sql
    from .corpus_cubes import events_hourly_cube_table

    demo = _demo_corpus(spark, sf_dir, ("events",))
    events_hourly_cube_table(spark, demo)
    expire_events(spark, demo, "2024-01-10")
    expire_events(spark, demo, "2024-01-05")  # older cutoff: no-op
    sql = (
        "SELECT event_type, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value, "
        "COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type"
    )
    df, chosen = route_sql(spark, demo, sql)
    assert chosen == "events_hourly_cube", chosen
    return df


_PRED_DELETE_ORACLE = """
SELECT lang, source,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  COUNT(*) AS n
FROM documents
WHERE NOT (n_chars < 120)
GROUP BY lang, source
ORDER BY lang, source
"""


@query(
    "q20_sql_delete_predicate",
    oracle=_PRED_DELETE_ORACLE,
    tags=("S19", "E1", "A1"),
)
def q20_sql_delete_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate DELETE lowering (round-9, r8-VERDICT item 3): the
    retention policy arrives as SQL text — ``DELETE FROM documents
    WHERE n_chars < 120`` — and the front door derives the key set
    with ONE scan of the current relation, then rides the full S19
    tombstone + affected-group machinery; the profile statement, still
    cube-routed, matches DuckDB over the raw table with the predicate
    negated. Re-issuing the same DELETE is a no-op (the derived keys
    are already tombstoned)."""
    from ..catalog import TABLES
    from ..engine import Engine
    from ..plans.sqlfront import route_sql
    from .corpus_cubes import docs_stats_cube_table

    demo = _demo_corpus(spark, sf_dir, TABLES, demo="pred_delete")
    docs_stats_cube_table(spark, demo)
    eng = Engine(spark, demo)
    eng.sql("DELETE FROM documents WHERE n_chars < 120")
    eng.sql("DELETE FROM documents WHERE n_chars < 120")  # idempotent
    sql = (
        "SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
        "COUNT(*) AS n FROM documents GROUP BY lang, source "
        "ORDER BY lang, source"
    )
    df, chosen = route_sql(spark, demo, sql)
    assert chosen == "docs_stats_cube", chosen
    return df


_EXPIRE_DML_ORACLE = """
SELECT event_type,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
  COUNT(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "q32_sql_expire_dml",
    oracle=_EXPIRE_DML_ORACLE,
    tags=("S19", "E1", "S15", "A1"),
)
def q32_sql_expire_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19b's DML spelling (round-9, r8-VERDICT item 3): ``DELETE FROM
    events WHERE ts < '2024-01-12'`` through Engine.sql lowers onto
    expire_events — the watermark commits, the hourly cube drops its
    expired stored groups exactly, and the per-type rollup (still
    cube-routed) matches DuckDB with the cutoff predicated. The
    sub-hour refusal and monotonicity live in expire_events itself and
    are pinned by tests/test_ddl.py."""
    from ..catalog import TABLES
    from ..engine import Engine
    from ..plans.sqlfront import route_sql
    from .corpus_cubes import events_hourly_cube_table

    demo = _demo_corpus(spark, sf_dir, TABLES, demo="expire_dml")
    events_hourly_cube_table(spark, demo)
    eng = Engine(spark, demo)
    eng.sql("DELETE FROM events WHERE ts < '2024-01-12'")
    sql = (
        "SELECT event_type, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value, "
        "COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type"
    )
    df, chosen = route_sql(spark, demo, sql)
    assert chosen == "events_hourly_cube", chosen
    return df
