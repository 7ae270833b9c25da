"""Warehouse maintenance orchestration: ONE call per ingest batch.

The engine's at-rest catalog is, by round 6, a dozen layouts across
four fact tables — bucketed fact + derived columns, per-order rollup,
dimension-denormalized orders, two lineitem cubes, Z-order and
ship-month scan layouts, the doc-stats and hourly-event cubes, and the
day-partitioned event log. Each has its own incremental refresh with
its own proven rebuild-equality; what a USER of the engine needs is
none of that taxonomy — it is "a batch of rows arrived, make every
deployed layout reflect it". :func:`refresh_warehouse` is that call.

Ordering is the one piece of knowledge this module owns (and the
reason a single entry point is safer than a dozen): dimension deltas
refresh BEFORE any layout whose delta path joins the dimension side —
the star-date cube resolves region/nation through the stored denorm,
so a batch carrying both new orders and their lineitems must upsert
the denorm first or the cube delta would drop the new orders' rows
(consistently on both refresh and rebuild paths, but not what the
ingest meant — see the ORDERING note of user_projections._denorm_covers,
which this function encodes so callers don't have to).

Cost shape at 100 TB: every cube refresh is O(|delta| + |cube|) with
scale-invariant cubes; the row-level layouts take appends (new
clustered/partitioned files, skipping degrades gracefully between
scheduled OPTIMIZE rewrites); nothing rebuilds the corpus. The
streaming twin is calling this from a foreachBatch sink — exactly what
tests/test_bucketing.py and tests/test_corpus_routing.py do for the
individual layouts.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..plans.routing import BUILTIN_VIEWS, CORPUS_TABLES, SCAN_LAYOUTS
from ..session import one_split, run_parallel
from .bucketed import (
    BUCKETED_TABLES,
    append_bucketed_lineitem,
    append_bucketed_orders,
    bucketed_fact_tables,
    build_delta_frame,
    order_revenue_projection,
    refresh_order_revenue_rollup,
    refresh_orders_denorm,
)
from .corpus_cubes import refresh_registry
from .snapshots import ensure_base, mark_cdf_staged, record_commit, stage_changes
from .state import session_state, warehouse
from .user_projections import deploy_builtin, refresh_projection, refresh_projections_for


def refresh_warehouse(
    spark: SparkSession,
    sf_dir: str,
    *,
    lineitem: DataFrame | None = None,
    orders: DataFrame | None = None,
    documents: DataFrame | None = None,
    events: DataFrame | None = None,
) -> dict[str, str]:
    """Refresh every deployed layout affected by the given deltas, in
    dependency order. Returns {layout name: table name or path} for
    the layouts that were maintained (introspection; the routers keep
    serving through their memoized catalogs, which each refresh swings
    atomically to the new version).

    A layout not yet deployed in this session is deployed over the
    base corpus first (the refresh functions' own semantics), so the
    post-state is always "base corpus + this delta" regardless of
    call history.

    Each fact table's block is data-driven: its registries
    (:data:`~..plans.routing.CORPUS_TABLES` arms), its built-in cubes
    (:data:`~..plans.routing.BUILTIN_VIEWS`) and its clustered layouts
    (:data:`~..plans.routing.SCAN_LAYOUTS`, each appending
    ``delta.select(*cols)``) become labeled legs of one
    :func:`~..session.run_parallel` pool — lineitem adds the rollup
    merge and the bucketed append — and its user views refresh after
    the pool.

    ATOMICITY (round-7 VERDICT item 2): the whole batch runs inside a
    :class:`~.txn.WarehouseTxn` — on any failure mid-sequence, every
    serving memo, ledger, and engine-owned temp view is rolled back to
    the pre-batch epoch and the batch's partially-written files are
    removed, so routed answers NEVER disagree by layout after a crash
    and redelivering the same batch applies it exactly once. The
    failure-injection tests in tests/test_maintenance.py pin this
    contract."""
    from .txn import WarehouseTxn

    deltas = {
        t: d for t, d in (
            ("lineitem", lineitem), ("orders", orders),
            ("documents", documents), ("events", events),
        ) if d is not None
    }
    with WarehouseTxn(spark, sf_dir, note=f"ingest {','.join(deltas) or 'nothing'}"):
        return _refresh_warehouse_body(spark, sf_dir, deltas)


def _refresh_warehouse_body(
    spark: SparkSession, sf_dir: str, deltas: dict[str, DataFrame]
) -> dict[str, str]:
    from ..catalog import bump_mutation_epoch
    from ..schemas import FIXTURE_SCHEMAS
    from .retention import apply_event_watermark, apply_tombstones

    done: dict[str, str] = {}
    ws = warehouse(spark, sf_dir)
    mark_cdf_staged(spark, sf_dir)
    for tname, delta in deltas.items():
        # The INGEST ledger: which base tables have actually had a
        # delta applied this session. Engine._ensure_current_views keys
        # the verbatim fact-view re-pointing on this (never on mere
        # layout deployment — round-7 ADVICE), so routed=False A/B
        # baselines keep reading fixture parquet until an ingest
        # genuinely changes data.
        ws.ingested.add(tname)
        bump_mutation_epoch(spark, sf_dir, tname)
        # S19: a TOMBSTONED key stays deleted — delta rows carrying one
        # are dropped from the batch BEFORE any layout sees them.
        # Without this, the cube delta-merges would count a re-ingested
        # dead key while every row-level read path still subtracts it
        # (tombstones are retained against the immutable fixture,
        # docs/DECISIONS.md), and routed vs raw answers would disagree
        # forever. Restoring deleted content requires a NEW key — the
        # standard erasure semantics. S19b twin: late events older than
        # the retention watermark are dropped from the batch — the cube
        # must never count rows the row-level paths subtract.
        if tname == "events":
            delta = apply_event_watermark(spark, sf_dir, delta)
        elif tname == "lineitem":
            delta = apply_tombstones(spark, sf_dir, "orders", delta, "l_orderkey")
        else:
            delta = apply_tombstones(spark, sf_dir, tname, delta)
        if tname != "orders":
            # S23b (round 11): stage the commit's change rows beside
            # the ledger entry — the POST-FILTER deltas are exactly the
            # rows every layout will absorb. For the append-only tables
            # the staged write doubles as the delta's MATERIALIZATION:
            # the (possibly lazy, possibly expensive) delta plan
            # evaluates once into the stored delta, and the downstream
            # layout refreshes read that parquet instead of
            # re-evaluating the plan each. Read back ONLY the insert
            # rows just staged: inside a MERGE's outer txn the same
            # (commit, table) delta dir may already hold the
            # statement's DELETE rows (delete clauses run first), and a
            # whole-dir read would re-ingest the just-deleted rows into
            # every layout (round-11 self-review — the delete+insert
            # documents MERGE is the standard full-load sync). Orders
            # stage below in step 1, where the S21 conflict split
            # classifies them.
            path = stage_changes(spark, sf_dir, tname, delta, "insert")
            schema = StructType(
                list(FIXTURE_SCHEMAS[tname].fields)
                + [StructField("_change_type", StringType())]
            )
            delta = (
                one_split(spark.read.schema(schema).parquet(path))
                .filter(F.col("_change_type") == "insert")
                .select(*FIXTURE_SCHEMAS[tname].fieldNames())
            )
        deltas[tname] = delta
    orders = deltas.get("orders")
    # 1. Dimension side first: the star cube's delta joins the stored
    #    denorm, so new orders must be visible there before any
    #    lineitem-driven cube refresh runs.
    if orders is not None:
        # S21 (round 9): detect UPDATES — delta keys already stored —
        # BEFORE the upsert, capturing their pre-update rows; rows
        # byte-identical to stored ones are redeliveries, not updates
        # (exceptAll drops them, so redelivering a batch stays free).
        # Without the reattribution below, a cube that aggregated an
        # updated order's EXISTING lineitems under the old attributes
        # (segment/star/user views) would diverge from the raw paths,
        # which see the upserted denorm immediately.
        #
        # pin the delta ONCE (round-9 review finding): it feeds four
        # consumers below (conflict probe, denorm refresh, bucketed
        # upsert, reattribution), and a nondeterministic plan — a
        # limit() without order, a sample — re-evaluated per consumer
        # could make the conflict pre-images disagree with what the
        # upsert actually stores
        orders = orders.localCheckpoint(eager=True)
        ocols = list(FIXTURE_SCHEMAS["orders"].fieldNames())
        _li_name, od_name = bucketed_fact_tables(spark, sf_dir)
        # ONE probe of the stored relation answers both questions:
        # the pre-image rows of every conflicting key (an identical
        # redelivered row is still a KEY conflict — the bucketed
        # upsert must replace, not append it), and — after exceptAll
        # subtracts byte-identical rows — which conflicts are genuine
        # UPDATES needing cube reattribution
        conflict_rows = (
            spark.table(od_name)
            .select(*ocols)
            .join(orders.select("o_orderkey").distinct(), "o_orderkey", "semi")
            .localCheckpoint(eager=True)
        )
        has_key_conflict = bool(conflict_rows.take(1))
        old_conflicts = conflict_rows.exceptAll(
            orders.select(*ocols)
        ).localCheckpoint(eager=True)
        # S23b: classify the batch for the stored delta — non-conflict
        # keys are inserts; genuine updates stage pre/post images
        # below once new_rows is derived (identical redeliveries are
        # NO logical change: excluded from both sides, exactly what
        # the state diff would conclude)
        stage_changes(
            spark, sf_dir, "orders",
            orders.select(*ocols).join(
                conflict_rows.select("o_orderkey").distinct(),
                "o_orderkey", "anti",
            ),
            "insert",
        )
        # Round 13 (guide §2.6): the denorm refresh and the bucketed
        # orders upsert read settled stored state + the pinned delta
        # and write DISJOINT tables/memo keys — overlap them (each is
        # a full bucketed rewrite on the update path, the orders verb's
        # two biggest serial steps). The bucketed orders table is the
        # MAINTAINED orders relation (raw fixture parquet is
        # immutable): user projections and any other order-side
        # consumer must see the new orders before the lineitem-driven
        # refreshes run. The rollup/denorm deploy must SETTLE first: a
        # lazy deploy inside the denorm leg scans the orders table the
        # other leg is rewriting.
        order_revenue_projection(spark, sf_dir)
        _run_legs(done, {
            "orders_denorm": lambda: refresh_orders_denorm(
                spark, sf_dir, orders, has_update=has_key_conflict
            )[1],
            "bucketed_orders": lambda: append_bucketed_orders(
                spark, sf_dir, orders, has_update=has_key_conflict
            ),
        })
        if old_conflicts.take(1):
            from .retention import reattribute_order_updates

            new_rows = (
                orders.select(*ocols)
                .join(
                    old_conflicts.select("o_orderkey"), "o_orderkey", "semi"
                )
                .localCheckpoint(eager=True)
            )
            stage_changes(
                spark, sf_dir, "orders", old_conflicts, "update_preimage"
            )
            stage_changes(
                spark, sf_dir, "orders", new_rows, "update_postimage"
            )
            done.update(
                reattribute_order_updates(spark, sf_dir, old_conflicts, new_rows)
            )
    # 2. Fact tables, one block each: registries, built-in cubes and
    #    row-level layouts as data-driven legs of one pool (guide
    #    §2.6, round 13). The registry refresh, a cube's delta-merge
    #    and a layout's append read disjoint settled inputs and write
    #    disjoint outputs; the routed dim arm inner-joins the registry
    #    at query time, and inside the txn all publishes are
    #    all-or-nothing, so "dims before their fact-driven cubes"
    #    needs no ordering beyond the pool.
    #
    # 2a. SETTLE every lazy deploy BEFORE any append leg runs. The
    #     cube deploys scan the table's CURRENT relation — the live
    #     bucketed fact for lineitem, the maintained layout for the
    #     corpus tables; a deploy running inside the pool could list
    #     files after an append leg's commit, folding the batch into
    #     the deployed cube AND delta-merging it on top (double
    #     count). Cubes settle before layouts, so a corpus cube deploy
    #     never races the deploy of the layout its CURRENT relation
    #     reads; deploys of one kind are independent read-only scans
    #     and overlap.
    # 2b. lineitem computes the batch⋈denorm delta frame ONCE and
    #     localCheckpoints it: every lineitem leg reads one
    #     materialized RDD instead of re-running the staged scan +
    #     derived columns (+ a denorm join) per leg. The rollup merge
    #     and the bucketed append ride the same pool.
    # 2c. User projections run AFTER the pool: a chain>=1 view may
    #     read the bucketed/clustered layouts a pool leg is appending
    #     to, and a batch introducing a new order or source must land
    #     in the bucketed orders table or the registry before the
    #     view's delta joins through it. Failure semantics:
    #     run_parallel awaits every leg BEFORE any exception re-raises,
    #     so WarehouseTxn's rollback never races a still-running
    #     writer's files.
    for tname in ("lineitem", "documents", "events"):
        delta = deltas.get(tname)
        if delta is None:
            continue
        cubes = [n for n, v in BUILTIN_VIEWS.items() if v.table == tname]
        layouts = [lay for lay in SCAN_LAYOUTS if lay.table == tname]
        if tname == "lineitem":
            # the cube deploys and the delta frame read the bucketed
            # facts and the denorm — settle them first
            order_revenue_projection(spark, sf_dir)
        run_parallel(*(
            (f"deploy: {n}", partial(deploy_builtin, spark, sf_dir, n))
            for n in cubes if n not in ws.projections
        ))
        run_parallel(*(
            (f"deploy: {lay.name}", partial(lay.deploy, spark, sf_dir))
            for lay in layouts if lay.name not in ws.layouts
        ))
        legs = {
            f"{arm}_dim": partial(refresh_registry, spark, sf_dir, arm, delta)
            for arm in (CORPUS_TABLES[tname].arms if tname in CORPUS_TABLES else ())
        }
        shared = None
        if tname == "lineitem":
            shared = build_delta_frame(spark, sf_dir, delta).localCheckpoint(eager=True)
            legs["order_revenue_rollup"] = lambda: refresh_order_revenue_rollup(
                spark, sf_dir, delta, prejoined=shared
            )[0]
            legs["bucketed_lineitem"] = partial(
                append_bucketed_lineitem, spark, sf_dir, delta, prejoined=shared
            )
        for n in cubes:
            legs[n] = partial(
                refresh_projection, spark, sf_dir, n, delta, prejoined=shared
            )
        for lay in layouts:
            legs[lay.name] = partial(
                lay.refresh, spark, sf_dir, delta if shared is None else shared
            )
        _run_legs(done, legs)
        for name, path in refresh_projections_for(
            spark, sf_dir, tname, delta, shared
        ).items():
            done[f"user:{name}"] = path
    return done


def _run_legs(done: dict[str, str], legs: dict) -> None:
    """Run ``legs`` (layout name -> thunk returning its new path or
    name) from one pool, each labeled by its layout, and record what
    each returned in ``done``."""
    done.update(zip(legs, run_parallel(
        *((f"refresh: {n}", leg) for n, leg in legs.items())
    )))


def optimize_warehouse(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The scheduled OPTIMIZE pass — the compaction twin of
    :func:`refresh_warehouse`. Ingest appends are deliberately cheap
    (new clustered files per batch), which degrades the row-level
    layouts gradually: the Z-order curve and the in-partition date
    sort stay tight per FILE but not globally, and the bucketed fact
    accretes one file per bucket per batch. This pass rewrites each
    DEPLOYED row-level layout (serving memo present — it never deploys
    a pristine layout from the fixture just to rewrite it) from its
    CURRENT content (base + every appended batch) back to its
    globally-optimal form, publishing each as a new
    version the serving memo swings to atomically — write-new-then-
    swing, never an in-place overwrite of a layout being read. Content
    is row-identical by construction (sort/partition are the only
    transforms; proven in tests). The aggregate cubes need no optimize
    pass: every refresh already rewrites them whole (they are
    scale-invariant small).

    The pass is one loop over the layout records
    (:data:`~.bucketed.BUCKETED_TABLES`, then
    :data:`~..plans.routing.SCAN_LAYOUTS`): publish ``<base>_opt<n>``,
    write the record's subtracted read-back there (``rewrite``), swing
    its :attr:`WarehouseState.layouts` entry.

    Deployments run this on a schedule (nightly, or after N appends) —
    the same cadence Delta/Iceberg run OPTIMIZE — not per batch.

    S19 (sources/retention.py): every rewrite subtracts the TOMBSTONED
    rows, so the pass doubles as the physical-delete step (Iceberg's
    rewrite-data-files). The tombstone sets themselves are RETAINED:
    the immutable fixture parquet remains a legal deploy source for a
    not-yet-deployed layout, and a pristine deploy after a cleared
    tombstone would resurrect the deleted rows. A deployment that owns
    its base tables would rewrite them too and then call
    retention.clear_tombstones_after_rewrite; against read-only
    fixtures the retained set costs one no-op anti-join per read."""
    from .retention import tombstone_df

    if session_state(spark).as_of is not None:
        raise ValueError(
            "the warehouse is read-only inside an AS OF snapshot read"
        )
    ensure_base(spark, sf_dir)
    done: dict[str, str] = {}
    ws = warehouse(spark, sf_dir)
    # Only layouts DEPLOYED this session (serving entry present) are
    # rewritten — optimizing compacts append degradation; deploying a
    # pristine layout from the fixture just to rewrite it would be
    # several full-corpus passes for nothing (round-7 review finding).
    # The order-side tables declare ``rewrite_under``: the pass
    # rewrites them only to drop deleted orders' bytes.
    for lay in (*BUCKETED_TABLES, *SCAN_LAYOUTS):
        stored = ws.layouts.get(lay.name)
        if stored is None or (
            lay.rewrite_under and tombstone_df(spark, sf_dir, lay.rewrite_under) is None
        ):
            continue
        new = ws.publish(lay.base(sf_dir), "_opt")
        lay.rewrite(spark, sf_dir, stored, new)
        ws.layouts[lay.name] = done[lay.name] = new
    # S22: optimize swings memos outside a txn; record its post-state
    # so time travel across the rewrite resolves the new versions
    record_commit(spark, sf_dir, "optimize")
    return done


def gc_warehouse(
    spark: SparkSession, sf_dir: str, retain_seconds: float = 0.0
) -> dict[str, int]:
    """The scheduled VACUUM — the third maintenance verb next to
    refresh (ingest) and optimize (rewrite). Every refresh publishes a
    NEW version and swings its serving memo, deliberately leaving the
    superseded files on disk ("a reader planned before the swing may
    still be scanning them"); this pass deletes every top-level
    warehouse entry no serving memo references. Run it at a quiet
    point on the OPTIMIZE cadence — exactly Delta/Iceberg's VACUUM
    posture, with the same caveat: a DataFrame handle planned against
    a superseded version errors after GC (the memo-routed paths never
    do; they only reference live versions).

    ``retain_seconds`` is the Delta ``VACUUM ... RETAIN n HOURS``
    guard (round-9, r8-VERDICT item 4): a superseded entry whose
    newest file is younger than the window SURVIVES this pass, so a
    long-planned reader still scanning it cannot lose files mid-query;
    it is collected on a later pass once it ages out. The default is
    0 — delete superseded versions immediately — which is safe in the
    engine's single-session serving model (every live plan resolves
    through the memos, which only ever reference current versions); a
    deployment where other sessions may hold plans against older
    versions should pass a window covering its longest-running query,
    e.g. ``retain_seconds=7*24*3600`` for Delta's 7-day posture.

    Returns {"removed": n_entries, "bytes": total_bytes_freed}.

    The LIVE set is :meth:`WarehouseState.live_paths` of the serving
    state and of every reachable ledger entry, so a new layout kind
    cannot be forgotten here silently as long as it serves through a
    WarehouseState field."""
    import os
    import shutil

    from .bucketed import _layout_paths
    from .snapshots import prune_ledger

    if session_state(spark).as_of is not None:
        raise ValueError(
            "the warehouse is read-only inside an AS OF snapshot read"
        )
    _tag, wh = _layout_paths(sf_dir)
    if not os.path.isdir(wh):
        return {"removed": 0, "bytes": 0}
    ws = warehouse(spark, sf_dir)
    # S22 (time travel ⟷ VACUUM retention, Delta's contract): first
    # expire snapshot versions older than the window, then everything
    # a SURVIVING version references joins the live set — a reachable
    # AS OF version can never lose its files to this pass. With the
    # default window of 0 the ledger clears and only the serving
    # state keeps files, exactly the eager-GC behavior.
    prune_ledger(spark, sf_dir, retain_seconds)
    # a path (basename lives directly under wh) or a table name (its
    # external location is wh/<name> by the write_bucketed construction);
    # a reachable commit's stored change deltas are live too
    paths = list(ws.live_paths())
    for e in ws.history.ledger:
        paths += e["state"].live_paths()
        paths += (e.get("cdf") or {}).values()
    live = {os.path.basename(os.path.normpath(p)) for p in paths}

    import time

    now = time.time()
    removed = 0
    freed = 0
    for entry in sorted(os.listdir(wh)):
        if entry in live:
            continue
        full = os.path.join(wh, entry)
        size = 0
        try:
            newest = os.path.getmtime(full)
        except OSError:
            continue  # vanished under a concurrent pass: nothing to do
        for dirpath, _dirs, files in os.walk(full):
            for f in files:
                try:
                    p = os.path.join(dirpath, f)
                    size += os.path.getsize(p)
                    newest = max(newest, os.path.getmtime(p))
                except OSError:
                    pass
        if retain_seconds > 0 and now - newest < retain_seconds:
            continue  # inside the retention window: a planned reader
            # may still be scanning it — collect on a later pass
        shutil.rmtree(full, ignore_errors=True)
        removed += 1
        freed += size
    # the pass records itself in DESCRIBE HISTORY (Delta logs VACUUM
    # in the transaction log too): one "vacuum" commit capturing the
    # post-GC state, so the warehouse's maintenance trail is readable
    # from history alone and the post-vacuum state is immediately
    # reachable to AS OF — the lazy "checkpoint" entry the next
    # mutation would otherwise write becomes this eager one.
    from .snapshots import evict_pinned_memo, record_commit

    record_commit(spark, sf_dir, "vacuum")
    # pruned versions' pinned-scan plans can never be probed again
    # (round-10 VERDICT item 6): a long audit session stays bounded
    # by the REACHABLE versions, not by every version it ever read
    evict_pinned_memo(spark)
    return {"removed": removed, "bytes": freed}
