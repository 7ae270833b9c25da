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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.routing import BUILTIN_VIEWS
from ..session import one_split
from .bucketed import (
    append_bucketed_lineitem,
    append_bucketed_orders,
    refresh_order_revenue_rollup,
    refresh_orders_denorm,
)
from .corpus_cubes import refresh_registry
from .dated import append_dated, append_dated_events, dated_events, dated_lineitem
from .state import session_state, warehouse
from .user_projections import deploy_builtin, refresh_projection, refresh_projections_for
from .zorder import ZORDER_COLS, ZORDER_KEYS, append_zordered, zordered_lineitem


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

    ATOMICITY (round-7 VERDICT item 2): the whole batch runs inside a
    :class:`~.txn.WarehouseTxn` — on any failure mid-sequence, every
    serving memo, ledger, and engine-owned temp view is rolled back to
    the pre-batch epoch and the batch's partially-written files are
    removed, so routed answers NEVER disagree by layout after a crash
    and redelivering the same batch applies it exactly once. The
    failure-injection tests in tests/test_maintenance.py pin this
    contract."""
    from .txn import WarehouseTxn

    touched = ",".join(
        t for t, d in (
            ("lineitem", lineitem), ("orders", orders),
            ("documents", documents), ("events", events),
        ) if d is not None
    )
    with WarehouseTxn(spark, sf_dir, note=f"ingest {touched or 'nothing'}"):
        return _refresh_warehouse_body(
            spark, sf_dir,
            lineitem=lineitem, orders=orders,
            documents=documents, events=events,
        )


def _refresh_warehouse_body(
    spark: SparkSession,
    sf_dir: str,
    *,
    lineitem: DataFrame | None = None,
    orders: DataFrame | None = None,
    documents: DataFrame | None = None,
    events: DataFrame | None = None,
) -> dict[str, str]:
    done: dict[str, str] = {}
    # The INGEST ledger: which base tables have actually had a delta
    # applied this session. Engine._ensure_current_views keys the
    # verbatim fact-view re-pointing on this (never on mere layout
    # deployment — round-7 ADVICE), so routed=False A/B baselines keep
    # reading fixture parquet until an ingest genuinely changes data.
    from ..catalog import bump_mutation_epoch

    ws = warehouse(spark, sf_dir)
    for tname, delta in (
        ("lineitem", lineitem), ("orders", orders),
        ("documents", documents), ("events", events),
    ):
        if delta is not None:
            ws.ingested.add(tname)
            bump_mutation_epoch(spark, sf_dir, tname)
    # S19: a TOMBSTONED key stays deleted — delta rows carrying one are
    # dropped from the batch BEFORE any layout sees them. Without this,
    # the cube delta-merges would count a re-ingested dead key while
    # every row-level read path still subtracts it (tombstones are
    # retained against the immutable fixture, docs/DECISIONS.md), and
    # routed vs raw answers would disagree forever. Restoring deleted
    # content requires a NEW key — the standard erasure semantics.
    from .retention import apply_event_watermark, apply_tombstones

    if lineitem is not None:
        lineitem = apply_tombstones(spark, sf_dir, "orders", lineitem, "l_orderkey")
    if orders is not None:
        orders = apply_tombstones(spark, sf_dir, "orders", orders)
    if documents is not None:
        documents = apply_tombstones(spark, sf_dir, "documents", documents)
    if events is not None:
        # S19b twin of the rule above: late events older than the
        # retention watermark are dropped from the batch — the cube
        # must never count rows the row-level paths subtract
        events = apply_event_watermark(spark, sf_dir, events)
    # S23b (round 11): stage the commit's change rows beside the
    # ledger entry — the POST-FILTER deltas are exactly the rows every
    # layout will absorb. For the append-only tables the staged write
    # doubles as the delta's MATERIALIZATION: the (possibly lazy,
    # possibly expensive) delta plan evaluates once into the stored
    # delta, and the ~6 downstream layout refreshes read that parquet
    # instead of re-evaluating the plan each. Orders stage below in
    # step 1, where the S21 conflict split classifies them.
    from pyspark.sql.types import StringType, StructField, StructType

    from ..schemas import FIXTURE_SCHEMAS as _FS
    from .snapshots import mark_cdf_staged, stage_changes

    def _staged_inserts(path: str, tname: str) -> DataFrame:
        # Read back ONLY the insert rows just staged: inside a MERGE's
        # outer txn the same (commit, table) delta dir may already
        # hold the statement's DELETE rows (delete clauses run first),
        # and a whole-dir read would re-ingest the just-deleted rows
        # into every layout (found by round-11 self-review — the
        # delete+insert documents MERGE is the standard full-load
        # sync). The _change_type filter keeps the read-back exactly
        # the frame this staging call wrote.
        schema = StructType(
            list(_FS[tname].fields)
            + [StructField("_change_type", StringType())]
        )
        return (
            one_split(spark.read.schema(schema).parquet(path))
            .filter(F.col("_change_type") == "insert")
            .select(*_FS[tname].fieldNames())
        )

    mark_cdf_staged(spark, sf_dir)
    if lineitem is not None:
        p = stage_changes(spark, sf_dir, "lineitem", lineitem, "insert")
        lineitem = _staged_inserts(p, "lineitem")
    if documents is not None:
        p = stage_changes(spark, sf_dir, "documents", documents, "insert")
        documents = _staged_inserts(p, "documents")
    if events is not None:
        p = stage_changes(spark, sf_dir, "events", events, "insert")
        events = _staged_inserts(p, "events")
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
        from ..schemas import FIXTURE_SCHEMAS
        from .bucketed import bucketed_fact_tables

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
        # two biggest serial steps). Same await-all + label-reset
        # discipline as the lineitem pool below. The rollup/denorm
        # deploy must SETTLE first: a lazy deploy inside the denorm leg
        # scans the orders table the other leg is rewriting.
        from ..session import run_parallel
        from .bucketed import order_revenue_projection

        order_revenue_projection(spark, sf_dir)

        def _leg_denorm() -> None:
            spark.sparkContext.setJobDescription("refresh: orders denorm")
            _roll, den = refresh_orders_denorm(
                spark, sf_dir, orders, has_update=has_key_conflict
            )
            done["orders_denorm"] = den

        def _leg_orders() -> None:
            # the bucketed orders table is the MAINTAINED orders
            # relation (raw fixture parquet is immutable): user
            # projections and any other order-side consumer must see
            # the new orders before the lineitem-driven refreshes run
            spark.sparkContext.setJobDescription("refresh: bucketed orders")
            done["bucketed_orders"] = append_bucketed_orders(
                spark, sf_dir, orders, has_update=has_key_conflict
            )

        try:
            run_parallel(_leg_denorm, _leg_orders)
        finally:
            spark.sparkContext.setJobDescription(None)
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
            for k, v in reattribute_order_updates(
                spark, sf_dir, old_conflicts, new_rows
            ).items():
                done[k] = v
    # 2. Fact side: aggregate projections (delta-merge), then the
    #    row-level layouts (clustered/partitioned appends).
    if lineitem is not None:
        # Round 12 introduced the overlapped refresh pool (guide §2.6);
        # round 13 restructures it (r12-VERDICT item 1):
        #
        # 2a. SETTLE every lazy deploy BEFORE any append leg runs. The
        #     cube deploys scan the LIVE bucketed fact table; in the
        #     round-12 pool they ran lazily INSIDE the refresh legs,
        #     racing the bucketed-append leg's file commit — a deploy
        #     whose scan listed files after the append landed would
        #     fold the batch into the deployed cube AND delta-merge it
        #     on top (double count). Deploys are mutually independent
        #     read-only scans of settled tables, so they still overlap
        #     — with each other, never with writers.
        # 2b. Compute the batch⋈denorm delta frame ONCE and
        #     localCheckpoint it: before, every cube leg re-ran the
        #     staged scan + derived columns (+ its own denorm join for
        #     star/segment) — the legs now read one materialized RDD.
        # 2c. Run all seven refresh legs (rollup merge joined the pool
        #     this round — it reads/writes state disjoint from every
        #     other leg) from the pool. Each leg reads only SETTLED
        #     state and writes a disjoint output dir + memo key;
        #     session-dict memo writes are GIL-atomic on distinct
        #     keys. User projections stay AFTER the pool: a chain>=1
        #     view may read the bucketed/clustered layouts a pool leg
        #     is appending to. Failure semantics: run_parallel awaits
        #     every leg BEFORE any exception re-raises, so
        #     WarehouseTxn's rollback never races a still-running
        #     writer's files; the job-description reset is in a
        #     finally (r12-ADVICE: a failing leg must not leave its
        #     label on later jobs).
        from ..session import run_parallel
        from .bucketed import build_delta_frame

        def _labeled(label: str, fn):
            def leg():
                spark.sparkContext.setJobDescription(label)
                return fn()

            return leg

        cubes = [n for n, v in BUILTIN_VIEWS.items() if v.table == "lineitem"]
        deploys = [
            _labeled(f"deploy: {n}", lambda n=n: deploy_builtin(spark, sf_dir, n))
            for n in cubes
            if n not in ws.projections
        ]
        if ws.zorder is None:
            deploys.append(_labeled("deploy: zorder", lambda: zordered_lineitem(spark, sf_dir)))
        if ws.dated is None:
            deploys.append(_labeled("deploy: dated", lambda: dated_lineitem(spark, sf_dir)))
        try:
            if deploys:
                # order_revenue_projection (and through it the bucketed
                # facts) must settle first — the cube deploys read both
                from .bucketed import order_revenue_projection

                order_revenue_projection(spark, sf_dir)
                run_parallel(*deploys)

            shared = build_delta_frame(
                spark, sf_dir, lineitem
            ).localCheckpoint(eager=True)

            def _leg_rollup() -> None:
                roll, _den = refresh_order_revenue_rollup(
                    spark, sf_dir, lineitem, prejoined=shared
                )
                done["order_revenue_rollup"] = roll

            def _leg_cube(name: str):
                def leg() -> None:
                    done[name] = refresh_projection(
                        spark, sf_dir, name, lineitem, prejoined=shared
                    )

                return _labeled(f"refresh: {name}", leg)

            def _leg_bucketed() -> None:
                done["bucketed_lineitem"] = append_bucketed_lineitem(
                    spark, sf_dir, lineitem, prejoined=shared
                )

            def _leg_zorder() -> None:
                zp = zordered_lineitem(spark, sf_dir)
                append_zordered(shared.select(*ZORDER_COLS), zp, *ZORDER_KEYS)
                done["zorder_lineitem"] = zp

            def _leg_dated() -> None:
                from ..schemas import FIXTURE_SCHEMAS

                dp = dated_lineitem(spark, sf_dir)
                append_dated(
                    shared.select(*FIXTURE_SCHEMAS["lineitem"].fieldNames()), dp
                )
                done["dated_lineitem"] = dp

            run_parallel(
                *map(_leg_cube, cubes),
                _labeled("refresh: order rollup", _leg_rollup),
                _labeled("refresh: bucketed append", _leg_bucketed),
                _labeled("refresh: zorder append", _leg_zorder),
                _labeled("refresh: dated append", _leg_dated),
            )
        finally:
            spark.sparkContext.setJobDescription(None)
    # 3. Corpus tables: dims BEFORE their fact-driven cubes only in
    #    the PUBLISH-visibility sense (the routed dim arm inner-joins
    #    the registry at query time; inside the txn all publishes are
    #    all-or-nothing) — the dim refresh, the cube delta-merge and
    #    the row-store append of one table read disjoint settled
    #    inputs and write disjoint outputs, so they overlap from the
    #    same §2.6 pool the lineitem legs use (round 13). Lazy cube
    #    deploys SETTLE first, same double-count-race rationale as
    #    step 2a: the docs/events cube deploys read current_* (the
    #    maintained row store when deployed), which an append leg is
    #    writing to.
    if documents is not None:
        from ..session import run_parallel
        from .docstore import append_clustered_docs, clustered_documents

        deploy_builtin(spark, sf_dir, "docs_stats_cube")

        def _leg_sources_dim() -> None:
            spark.sparkContext.setJobDescription("refresh: sources dim")
            done["sources_dim"] = refresh_registry(spark, sf_dir, "sources", documents)

        def _leg_docs_cube() -> None:
            spark.sparkContext.setJobDescription("refresh: docs cube")
            done["docs_stats_cube"] = refresh_projection(
                spark, sf_dir, "docs_stats_cube", documents
            )

        def _leg_docstore() -> None:
            spark.sparkContext.setJobDescription("refresh: clustered docs")
            cp = clustered_documents(spark, sf_dir)
            append_clustered_docs(documents, cp)
            done["clustered_documents"] = cp

        try:
            run_parallel(_leg_sources_dim, _leg_docs_cube, _leg_docstore)
        finally:
            spark.sparkContext.setJobDescription(None)
    if events is not None:
        from ..session import run_parallel

        deploy_builtin(spark, sf_dir, "events_hourly_cube")

        def _leg_events_dim() -> None:
            spark.sparkContext.setJobDescription("refresh: event types dim")
            done["event_types_dim"] = refresh_registry(
                spark, sf_dir, "event_types", events
            )

        def _leg_events_cube() -> None:
            spark.sparkContext.setJobDescription("refresh: events cube")
            done["events_hourly_cube"] = refresh_projection(
                spark, sf_dir, "events_hourly_cube", events
            )

        def _leg_dated_events() -> None:
            spark.sparkContext.setJobDescription("refresh: dated events")
            ep = dated_events(spark, sf_dir)
            append_dated_events(events, ep)
            done["dated_events"] = ep

        try:
            run_parallel(_leg_events_dim, _leg_events_cube, _leg_dated_events)
        finally:
            spark.sparkContext.setJobDescription(None)
    # user-declared views refresh after the dims and built-in cubes of
    # their table (the same dimension-first ordering as above: a batch
    # introducing a new order or source must land in the bucketed
    # orders table or the registry before the view's delta joins
    # through it)
    for tname, delta in (
        ("lineitem", lineitem), ("documents", documents), ("events", events)
    ):
        if delta is None:
            continue
        for name, path in refresh_projections_for(
            spark, sf_dir, tname, delta, shared if tname == "lineitem" else None
        ).items():
            done[f"user:{name}"] = path
    return done


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
    import os

    from .bucketed import (
        _N_BUCKETS,
        _layout_paths,
        bucketed_fact_tables,
        write_bucketed,
    )
    from .dated import write_dated, write_dated_events
    from .retention import apply_tombstones, tombstone_df
    from .snapshots import ensure_base, record_commit
    from .zorder import write_zordered

    if session_state(spark).as_of is not None:
        raise ValueError(
            "the warehouse is read-only inside an AS OF snapshot read"
        )
    ensure_base(spark, sf_dir)

    tag, wh = _layout_paths(sf_dir)
    done: dict[str, str] = {}
    ws = warehouse(spark, sf_dir)

    # Only layouts DEPLOYED this session (serving memo present) are
    # rewritten — optimizing compacts append degradation; deploying a
    # pristine layout from the fixture just to rewrite it would be
    # several full-corpus passes for nothing (round-7 review finding).
    if _N_BUCKETS in ws.bucketed:
        # bucketed fact: rewrite current content, one sorted pass per
        # bucket
        li_name, od_name = bucketed_fact_tables(spark, sf_dir)
        base = li_name.split("_opt")[0]
        new_li = ws.publish(base, "_opt")
        write_bucketed(
            apply_tombstones(
                spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
            ),
            new_li, os.path.join(wh, new_li), "l_orderkey",
        )
        new_od = od_name
        if tombstone_df(spark, sf_dir, "orders") is not None:
            # physical delete on the orders side too (and, below, the
            # rollup/denorm spine) — the row-level stores stop carrying
            # the dead orders' bytes
            od_base = od_name.split("_opt")[0].split("_v")[0]
            new_od = ws.publish(od_base, "_opt")
            write_bucketed(
                apply_tombstones(spark, sf_dir, "orders", spark.table(od_name)),
                new_od, os.path.join(wh, new_od), "o_orderkey",
            )
            done["bucketed_orders"] = new_od
        ws.bucketed[_N_BUCKETS] = (new_li, new_od)
        done["bucketed_lineitem"] = new_li

    if (
        tombstone_df(spark, sf_dir, "orders") is not None
        and "order_revenue" in ws.projections
    ):
        from .bucketed import order_revenue_projection

        roll_name, den_name = order_revenue_projection(spark, sf_dir)
        for old, key, slot in (
            (roll_name, "l_orderkey", 0),
            (den_name, "o_orderkey", 1),
        ):
            obase = old.split("_opt")[0].split("_v")[0]
            new = ws.publish(obase, "_opt")
            write_bucketed(
                apply_tombstones(spark, sf_dir, "orders", spark.table(old), key),
                new, os.path.join(wh, new), key,
            )
            pair = list(ws.projections["order_revenue"])
            pair[slot] = new
            ws.projections["order_revenue"] = tuple(pair)
            done["order_rollup" if slot == 0 else "orders_denorm"] = new

    if ws.zorder is not None:
        # Z-order: full recluster over base + appended deltas
        zp = zordered_lineitem(spark, sf_dir)
        zbase = os.path.join(wh, f"lineitem_zorder_{tag}")
        new_z = ws.publish(zbase, "_opt")
        write_zordered(
            apply_tombstones(
                spark, sf_dir, "orders", spark.read.parquet(zp), "l_orderkey"
            ),
            new_z, *ZORDER_KEYS,
        )
        ws.zorder = new_z
        done["zorder_lineitem"] = new_z

    # dated layouts: re-partition + re-sort whole; the hive partition
    # column is re-derived by the writer, so drop the read-back copy
    if ws.dated is not None:
        dp = dated_lineitem(spark, sf_dir)
        dbase = os.path.join(wh, f"lineitem_dated_{tag}")
        new_d = ws.publish(dbase, "_opt")
        write_dated(
            apply_tombstones(
                spark, sf_dir, "orders",
                spark.read.parquet(dp).drop("ship_month"), "l_orderkey",
            ),
            new_d,
        )
        ws.dated = new_d
        done["dated_lineitem"] = new_d

    if ws.dated_events is not None:
        from .retention import apply_event_watermark

        ep = dated_events(spark, sf_dir)
        ebase = os.path.join(wh, f"events_dated_{tag}")
        new_e = ws.publish(ebase, "_opt")
        write_dated_events(
            apply_event_watermark(
                spark, sf_dir, spark.read.parquet(ep).drop("event_day_p")
            ),
            new_e,
        )
        ws.dated_events = new_e
        done["dated_events"] = new_e

    if ws.docstore is not None:
        # clustered documents: re-merge appended files back to the
        # globally-clustered form (the read-back lang partition column
        # feeds the writer's partitionBy directly)
        from .docstore import clustered_documents, write_clustered_docs

        cp = clustered_documents(spark, sf_dir)
        cbase = os.path.join(wh, f"documents_clustered_{tag}")
        new_c = ws.publish(cbase, "_opt")
        write_clustered_docs(
            apply_tombstones(
                spark, sf_dir, "documents", spark.read.parquet(cp)
            ),
            new_c,
        )
        ws.docstore = new_c
        done["clustered_documents"] = new_c
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
