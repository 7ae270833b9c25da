"""refresh_warehouse: the one-call ingest maintenance orchestrator.

The individual refreshes are each proven rebuild-equal in their own
suites; what THIS suite pins is the orchestration — a mixed batch
(new orders + their lineitems + documents + events) applied through
one call leaves EVERY layout identical to a from-scratch deploy over
the full corpus. The new-orders-with-new-lineitems case is the
ordering trap: the star cube's delta joins the stored denorm, so
refreshing the cube before the denorm would silently drop the new
orders' rows — refresh_warehouse encodes the correct order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataproj_spark.catalog import table
from bigdataproj_spark.plans import physical_plan
from bigdataproj_spark.sources.maintenance import refresh_warehouse
from bigdataproj_spark.sources.state import warehouse


def test_optimize_warehouse_restores_layouts_row_identically(spark, sf_dir, tmp_path):
    """After ingest appends degrade the row-level layouts, the OPTIMIZE
    pass rewrites each from its current content: row sets identical,
    file counts back to the deploy shape, the serving memos swung to
    the new versions, and routed queries keep answering. The fixture
    is smaller than one split, so at the default threshold each layout
    is one file (session.range_files): the append added files and
    optimize compacts the Z-order layout back to one."""
    pre_files, post_files = _optimize_restores_layouts(spark, sf_dir, tmp_path)
    assert post_files == 1 < pre_files, (pre_files, post_files)


def test_optimize_warehouse_restores_multi_file_layouts(spark, sf_dir, tmp_path):
    """The same pass with the one-split threshold forced to 1 byte, so
    the layouts keep their multi-file widths: row sets and routing as
    above, and optimize returns the Z-order layout to the 32-file
    clustered form."""
    from bigdataproj_spark.testing import session_conf

    with session_conf(spark, **{"spark.sql.files.openCostInBytes": "1"}):
        pre_files, post_files = _optimize_restores_layouts(spark, sf_dir, tmp_path)
    assert post_files <= 32 < pre_files, (pre_files, post_files)


def _optimize_restores_layouts(spark, sf_dir, tmp_path):
    """Run ingest + OPTIMIZE on a copy of the fixture, assert row
    identity and routing, and return the Z-order layout's file counts
    before and after OPTIMIZE."""
    import glob

    from bigdataproj_spark.plans.routing import (
        Pred,
        ScanQuery,
        TableScanQuery,
        route_scan,
    )
    from bigdataproj_spark.sources.maintenance import optimize_warehouse

    base_dir = tmp_path / "base"
    deltas = _copy_tables(
        spark, sf_dir, base_dir,
        {
            "lineitem": F.col("l_orderkey") % 5 == 0,
            "events": F.col("event_id") % 5 == 0,
        },
    )
    sf_base = str(base_dir)
    refresh_warehouse(
        spark, sf_base, lineitem=deltas["lineitem"], events=deltas["events"]
    )
    from bigdataproj_spark.sources.zorder import zordered_lineitem

    pre_files = len(glob.glob(zordered_lineitem(spark, sf_base) + "/*.parquet"))

    done = optimize_warehouse(spark, sf_base)
    # only layouts DEPLOYED this session are rewritten: the ingest
    # above touched the lineitem/events layouts, so the pristine
    # clustered-documents layout is (correctly) not deployed-then-
    # rewritten from the fixture
    assert set(done) == {
        "bucketed_lineitem", "zorder_lineitem", "dated_lineitem", "dated_events",
    }
    # files compacted back to the deploy shape on the clustered layout
    post_files = len(glob.glob(done["zorder_lineitem"] + "/*.parquet"))

    # row identity: every optimized layout holds exactly the full
    # corpus ((orderkey, linenumber) is NOT unique in the synthetic
    # fixture, so sort by the full tuple — ties are then identical rows)
    full_li = table(spark, sf_dir, "lineitem")
    zcols = [
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice",
    ]
    assert (
        spark.read.parquet(done["zorder_lineitem"]).orderBy(*zcols).toPandas()
        .equals(full_li.select(*zcols).orderBy(*zcols).toPandas())
    )
    licols = full_li.columns
    assert (
        spark.read.parquet(done["dated_lineitem"]).select(*licols)
        .orderBy(*licols).toPandas()
        .equals(full_li.orderBy(*licols).toPandas())
    )
    assert (
        spark.read.parquet(done["dated_events"]).count()
        == table(spark, sf_dir, "events").count()
    )
    assert spark.table(done["bucketed_lineitem"]).count() == full_li.count()

    # the routers serve the optimized versions
    df, chosen = route_scan(
        spark, sf_base,
        ScanQuery(("l_orderkey", "l_partkey"), (Pred("l_partkey", "<=", 40),)),
    )
    assert chosen == "zorder_lineitem"
    assert df.count() == full_li.filter(F.col("l_partkey") <= 40).count()
    df, chosen = route_scan(
        spark, sf_base,
        TableScanQuery(
            "events", ("event_id", "ts"),
            (Pred("ts", ">=", "2024-01-25 00:00:00", cast="timestamp"),),
        ),
    )
    assert chosen == "dated_events"
    assert df.count() == table(spark, sf_dir, "events").filter(
        F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp")
    ).count()
    return pre_files, post_files


def _copy_tables(spark, sf_dir, out_dir, splits):
    """Write a base corpus at ``out_dir``: every fixture table the
    layout deploys read, with ``splits[t]`` (a filter Column) REMOVED
    from table t — the removed rows are returned as the deltas."""
    deltas = {}
    for t in ("lineitem", "orders", "customer", "nation", "region",
              "documents", "events"):
        df = table(spark, sf_dir, t)
        if t in splits:
            deltas[t] = df.filter(splits[t])
            df = df.filter(~splits[t])
        df.write.parquet(str(out_dir / f"{t}.parquet"))
    return deltas


_LINEITEM_DTYPES = [
    ("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
    ("l_linenumber", "int"), ("l_quantity", "double"),
    ("l_extendedprice", "double"), ("l_discount", "double"), ("l_tax", "double"),
    ("l_returnflag", "string"), ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
]
# (dtypes as read back, hive partition column) of each clustered layout
_CLUSTERED_LAYOUTS = {
    "zorder_lineitem": ([
        ("l_orderkey", "bigint"), ("l_linenumber", "int"),
        ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
        ("l_quantity", "double"), ("l_extendedprice", "double"),
    ], None),
    "dated_lineitem": ([*_LINEITEM_DTYPES, ("ship_month", "string")], "ship_month"),
    "dated_events": ([
        ("event_id", "bigint"), ("ts", "timestamp"), ("user_id", "bigint"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
        ("event_day_p", "date"),
    ], "event_day_p"),
    "clustered_documents": ([
        ("doc_id", "bigint"), ("text", "string"), ("source", "string"),
        ("n_chars", "bigint"), ("lang", "string"),
    ], "lang"),
}


def test_row_level_layout_schemas_are_pinned(spark, sf_dir, tmp_path):
    """The stored schema of every row-level layout is a contract: the
    clustered layouts' columns, types, order and hive partition column
    after deploy and after OPTIMIZE (which rewrites from the read-back,
    so a partition column it failed to re-derive or drop would show
    here), and the column lists of the bucketed fact tables and the
    rollup/denorm pair. An orders delete makes OPTIMIZE rewrite every
    one of them."""
    import glob
    import os

    from bigdataproj_spark.sources.bucketed import (
        bucketed_fact_tables,
        order_revenue_projection,
    )
    from bigdataproj_spark.sources.dated import dated_events, dated_lineitem
    from bigdataproj_spark.sources.docstore import clustered_documents
    from bigdataproj_spark.sources.maintenance import optimize_warehouse
    from bigdataproj_spark.sources.retention import delete_orders
    from bigdataproj_spark.sources.zorder import zordered_lineitem

    _copy_tables(spark, sf_dir, tmp_path, {})
    sf_base = str(tmp_path)

    def clustered(path):
        parts = {os.path.basename(d).split("=")[0] for d in glob.glob(path + "/*=*")}
        assert len(parts) <= 1, parts
        return spark.read.parquet(path).dtypes, next(iter(parts), None)

    def tables(names):
        return [spark.table(n).columns for n in names]

    deployed = {
        "zorder_lineitem": zordered_lineitem(spark, sf_base),
        "dated_lineitem": dated_lineitem(spark, sf_base),
        "dated_events": dated_events(spark, sf_base),
        "clustered_documents": clustered_documents(spark, sf_base),
    }
    assert {k: clustered(p) for k, p in deployed.items()} == _CLUSTERED_LAYOUTS
    derived = ["l_qty_i", "l_price_i", "l_disc_i", "l_tax_i", "l_rev_i", "l_charge_i"]
    expected = [
        [c for c, _ in _LINEITEM_DTYPES] + derived,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
        ["l_orderkey", "rev_i", "n_items"],
        ["o_orderkey", "r_name", "n_name", "c_mktsegment", "o_orderstatus",
         "o_orderpriority", "o_orderdate"],
    ]
    spine = [*bucketed_fact_tables(spark, sf_base), *order_revenue_projection(spark, sf_base)]
    assert tables(spine) == expected

    dead = table(spark, sf_base, "orders").first().o_orderkey
    delete_orders(spark, sf_base, [dead])
    done = optimize_warehouse(spark, sf_base)
    assert {k: clustered(done[k]) for k in deployed} == _CLUSTERED_LAYOUTS
    rewritten = [*bucketed_fact_tables(spark, sf_base), *order_revenue_projection(spark, sf_base)]
    assert tables(rewritten) == expected
    assert not {*deployed.values(), *spine} & {*done.values()}
    assert set(rewritten) <= set(done.values())


def test_refresh_warehouse_mixed_batch_equals_full_deploy(spark, sf_dir, tmp_path):
    from bigdataproj_spark.sources.bucketed import (
        bucketed_fact_tables,
        pricing_cube_table,
        star_date_cube_table,
    )
    from bigdataproj_spark.plans.routing import _STAR_CUBE_KEYS
    from bigdataproj_spark.sources.corpus_cubes import (
        docs_stats_cube_table,
        events_hourly_cube_table,
    )
    from bigdataproj_spark.plans.routing import (
        DOCS_CUBE_KEYS,
        EVENTS_CUBE_KEYS,
    )

    base_dir = tmp_path / "base"
    deltas = _copy_tables(
        spark, sf_dir, base_dir,
        {
            # the delta ships whole NEW orders: the order rows AND all
            # their lineitems arrive in the same batch (the ordering
            # trap: the cube delta can only see them through the denorm
            # refresh that must run first)
            "orders": F.col("o_orderkey") % 7 == 0,
            "lineitem": F.col("l_orderkey") % 7 == 0,
            "documents": F.col("doc_id") % 9 == 0,
            "events": F.col("event_id") % 9 == 0,
        },
    )
    sf_base = str(base_dir)

    done = refresh_warehouse(
        spark, sf_base,
        lineitem=deltas["lineitem"],
        orders=deltas["orders"],
        documents=deltas["documents"],
        events=deltas["events"],
    )
    assert set(done) == {
        "orders_denorm", "bucketed_orders", "order_revenue_rollup",
        "pricing_cube", "star_date_cube", "segment_cube",
        "bucketed_lineitem", "zorder_lineitem", "dated_lineitem",
        "sources_dim", "docs_stats_cube", "events_hourly_cube",
        "dated_events", "clustered_documents", "event_types_dim",
    }

    # Every maintained aggregate layout equals the same layout deployed
    # from scratch over the FULL corpus (which is exactly sf_dir).
    def frames_equal(a, b, keys):
        pa = a.orderBy(*keys).toPandas()
        pb = b.orderBy(*keys).toPandas()
        assert pa.equals(pb[pa.columns.tolist()]), keys

    frames_equal(
        spark.read.parquet(pricing_cube_table(spark, sf_base)),
        spark.read.parquet(pricing_cube_table(spark, sf_dir)),
        ["l_returnflag", "l_linestatus", "l_shipdate"],
    )
    # the star cube is the ordering-sensitive one: new orders' rows
    # must appear under their region/nation (sketch partials compare
    # at the estimate level, like every sketch rebuild check)
    from bigdataproj_spark.plans.routing import _STAR_SKETCH_COLS

    def est_star(df):
        for c in _STAR_SKETCH_COLS:
            df = df.withColumn(c, F.hll_sketch_estimate(c))
        return df

    frames_equal(
        est_star(spark.read.parquet(star_date_cube_table(spark, sf_base))),
        est_star(spark.read.parquet(star_date_cube_table(spark, sf_dir))),
        list(_STAR_CUBE_KEYS),
    )
    from bigdataproj_spark.sources.bucketed import segment_cube_table
    from bigdataproj_spark.plans.routing import _SEGMENT_CUBE_KEYS

    frames_equal(
        spark.read.parquet(segment_cube_table(spark, sf_base)),
        spark.read.parquet(segment_cube_table(spark, sf_dir)),
        list(_SEGMENT_CUBE_KEYS),
    )
    frames_equal(
        spark.read.parquet(docs_stats_cube_table(spark, sf_base)),
        spark.read.parquet(docs_stats_cube_table(spark, sf_dir)),
        list(DOCS_CUBE_KEYS),
    )
    # sketch partials compare at the estimate level (serialized sparse
    # form may differ between merge and rebuild; the register state —
    # and so the estimate — must not)
    est = lambda df: df.withColumn(  # noqa: E731
        "users_hll", F.hll_sketch_estimate("users_hll")
    )
    frames_equal(
        est(spark.read.parquet(events_hourly_cube_table(spark, sf_base))),
        est(spark.read.parquet(events_hourly_cube_table(spark, sf_dir))),
        list(EVENTS_CUBE_KEYS),
    )

    # Row-level layouts carry the appended rows (content equality for
    # the bucketed fact incl. derived columns; counts for the scan
    # layouts, whose content asserts live in their own suites).
    li_base, _ = bucketed_fact_tables(spark, sf_base)
    li_full, _ = bucketed_fact_tables(spark, sf_dir)
    frames_equal(
        spark.table(li_base), spark.table(li_full),
        ["l_orderkey", "l_linenumber"],
    )
    total_li = table(spark, sf_dir, "lineitem").count()
    assert spark.read.parquet(done["zorder_lineitem"]).count() == total_li
    assert spark.read.parquet(done["dated_lineitem"]).count() == total_li
    assert (
        spark.read.parquet(done["dated_events"]).count()
        == table(spark, sf_dir, "events").count()
    )

    # The appended bucketed fact still serves the exchange-free spine:
    # per-bucket files multiplied, the bucket SPEC did not.
    agg = (
        spark.table(li_base)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = physical_plan(agg)
    assert "Exchange" not in plan, plan


def test_order_update_upserts_bucketed_orders(spark, sf_dir, tmp_path):
    """ADVICE r6 (medium): a re-ingested o_orderkey must REPLACE the
    stored bucketed-orders row — matching refresh_orders_denorm's
    upsert — not append a duplicate that double-counts every matching
    lineitem through chain>=1 user-projection refreshes. A batch of
    genuinely NEW orders must still take the cheap append path (no
    version rewrite)."""
    from bigdataproj_spark.sources.bucketed import bucketed_fact_tables

    base_dir = tmp_path / "base"
    _copy_tables(spark, sf_dir, base_dir, {})
    sf_base = str(base_dir)
    _, od_name = bucketed_fact_tables(spark, sf_base)
    before = spark.table(od_name).count()

    orders = table(spark, sf_dir, "orders")
    keys = [r.o_orderkey for r in orders.select("o_orderkey").distinct().take(5)]
    upd = (
        orders.filter(F.col("o_orderkey").isin(keys))
        .dropDuplicates(["o_orderkey"])
        .withColumn("o_orderpriority", F.lit("9-UPDATED"))
    )
    done = refresh_warehouse(spark, sf_base, orders=upd)
    od_now = done["bucketed_orders"]
    assert od_now != od_name  # conflict: rewritten as a new version
    got = spark.table(od_now)
    assert got.count() == before  # replaced, not appended
    rows = got.filter(F.col("o_orderkey").isin(keys)).collect()
    assert len(rows) == len(keys)
    assert all(r.o_orderpriority == "9-UPDATED" for r in rows)
    # bucketed orders and denorm describe the SAME per-key row set
    den = spark.table(done["orders_denorm"])
    assert den.filter(F.col("o_orderkey").isin(keys)).count() == len(keys)

    # new-orders batch: cheap append, same version, and still the
    # relation bucketed_fact_tables serves
    new = (
        orders.dropDuplicates(["o_orderkey"]).limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10**9))
    )
    done2 = refresh_warehouse(spark, sf_base, orders=new)
    assert done2["bucketed_orders"] == od_now
    assert spark.table(od_now).count() == before + 3
    assert bucketed_fact_tables(spark, sf_base)[1] == od_now


def test_raw_fallback_sees_ingested_corpus(spark, sf_dir, tmp_path):
    """ADVICE r6 (medium): after an ingest, a RAW-routed query must
    describe the same corpus (base + delta) the projection-routed
    twin describes — the raw fallback reads the maintained bucketed
    relations once they exist, not the immutable base fixture."""
    from bigdataproj_spark.plans.routing import (
        AggCall,
        AggQuery,
        Pred,
        route,
    )

    base_dir = tmp_path / "base"
    deltas = _copy_tables(
        spark, sf_dir, base_dir, {"lineitem": F.col("l_orderkey") % 4 == 0}
    )
    sf_base = str(base_dir)
    refresh_warehouse(spark, sf_base, lineitem=deltas["lineitem"])

    # l_comment is no projection's group key: the router must fall
    # back to the raw plan — which now reads base + delta
    spec = AggQuery(
        filters=(Pred("l_quantity", ">=", 0),),
        group_by=("l_returnflag",),
        aggs=(AggCall("count_star", None, "n"),),
    )
    df, chosen = route(spark, sf_base, spec)
    assert chosen == "raw", chosen
    got = {r.l_returnflag: r.n for r in df.collect()}
    want = {
        r.l_returnflag: r.n
        for r in table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want, (got, want)


def test_optimize_warehouse_crash_window_leaves_old_version_serving(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r6-VERDICT item 6: inject a failure INSIDE a layout rewrite
    (between staging the new version and swinging the serving memo)
    and assert the write-new-then-swing claim: readers keep the OLD
    consistent version, and a re-run converges. Layouts completed
    before the crash keep their (complete) new versions — each swing
    is individually atomic; the orchestrator is resumable."""
    from bigdataproj_spark.plans.routing import Pred, ScanQuery, route_scan
    from bigdataproj_spark.sources import zorder as zorder_mod
    from bigdataproj_spark.sources.maintenance import optimize_warehouse
    from bigdataproj_spark.sources.zorder import zordered_lineitem

    base_dir = tmp_path / "base"
    deltas = _copy_tables(
        spark, sf_dir, base_dir, {"lineitem": F.col("l_orderkey") % 5 == 0}
    )
    sf_base = str(base_dir)
    refresh_warehouse(spark, sf_base, lineitem=deltas["lineitem"])
    old_z = zordered_lineitem(spark, sf_base)

    q = ScanQuery(("l_orderkey", "l_partkey"), (Pred("l_partkey", "<=", 40),))
    want = route_scan(spark, sf_base, q)[0].orderBy(
        "l_orderkey", "l_partkey"
    ).toPandas()

    real_write = zorder_mod.write_zordered

    def exploding_write(df, path, *cols, **kw):
        # stage a PARTIAL new version, then die before the memo swing
        import os as _os

        _os.makedirs(path, exist_ok=True)
        (tmp_path / "marker").write_text(path)
        raise RuntimeError("injected crash between stage and publish")

    monkeypatch.setattr(zorder_mod, "write_zordered", exploding_write)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        optimize_warehouse(spark, sf_base)

    # the serving memo was NOT swung: readers still see the old,
    # complete Z-order version, and routed answers are unchanged
    assert zordered_lineitem(spark, sf_base) == old_z
    df, chosen = route_scan(spark, sf_base, q)
    assert chosen == "zorder_lineitem"
    assert df.orderBy("l_orderkey", "l_partkey").toPandas().equals(want)

    # re-run after the crash: converges — every layout rewritten,
    # memos swung, content identical
    monkeypatch.setattr(zorder_mod, "write_zordered", real_write)
    done = optimize_warehouse(spark, sf_base)
    assert zordered_lineitem(spark, sf_base) == done["zorder_lineitem"] != old_z
    df2, chosen2 = route_scan(spark, sf_base, q)
    assert chosen2 == "zorder_lineitem"
    assert df2.orderBy("l_orderkey", "l_partkey").toPandas().equals(want)


def test_refresh_warehouse_failure_rolls_back_every_layout(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r7-VERDICT item 2 (warehouse-level atomicity): a failure MID-
    SEQUENCE inside refresh_warehouse rolls the ENTIRE batch back —
    layouts whose refresh already completed (memo swung) AND row-level
    appends already committed all return to the pre-batch epoch, so
    routed answers never disagree by layout after a crash; redelivering
    the batch then applies it exactly once (no double-counted cube
    merges, no duplicated appends)."""
    import os

    import pytest as _pytest

    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.sources import maintenance as maint_mod
    from bigdataproj_spark.sources.bucketed import (
        _layout_paths,
        bucketed_fact_tables,
        pricing_cube_table,
        segment_cube_table,
    )
    from bigdataproj_spark.plans.routing import _SEGMENT_CUBE_KEYS
    from bigdataproj_spark.sources.txn import _walk_files
    from bigdataproj_spark.sources.corpus_cubes import docs_stats_cube_table
    from bigdataproj_spark.plans.routing import DOCS_CUBE_KEYS
    from bigdataproj_spark.sources.zorder import zordered_lineitem

    base_dir = tmp_path / "base"
    splits = {
        "orders": F.col("o_orderkey") % 7 <= 1,
        "lineitem": F.col("l_orderkey") % 7 <= 1,
        "documents": F.col("doc_id") % 9 <= 1,
        "events": F.col("event_id") % 9 <= 1,
    }
    deltas = _copy_tables(spark, sf_dir, base_dir, splits)
    # Engine.sql registers EVERY fixture view; _copy_tables only writes
    # the layout-feeding subset, so copy the rest verbatim
    for t in ("supplier", "part", "embeddings"):
        table(spark, sf_dir, t).write.parquet(str(base_dir / f"{t}.parquet"))
    keycol = {
        "orders": "o_orderkey", "lineitem": "l_orderkey",
        "documents": "doc_id", "events": "event_id",
    }
    mod = {"orders": 7, "lineitem": 7, "documents": 9, "events": 9}
    b1 = {t: d.filter(F.col(keycol[t]) % mod[t] == 0) for t, d in deltas.items()}
    b2 = {t: d.filter(F.col(keycol[t]) % mod[t] == 1) for t, d in deltas.items()}
    sf_base = str(base_dir)

    # batch 1 commits normally — this is the epoch the crash must
    # preserve everywhere
    refresh_warehouse(spark, sf_base, **b1)
    eng = Engine(spark, sf_base)

    def snapshot():
        li_name, od_name = bucketed_fact_tables(spark, sf_base)
        return {
            "pricing_path": pricing_cube_table(spark, sf_base),
            "pricing": spark.read.parquet(pricing_cube_table(spark, sf_base))
            .orderBy("l_returnflag", "l_linestatus", "l_shipdate").toPandas(),
            "segment": spark.read.parquet(segment_cube_table(spark, sf_base))
            .orderBy(*_SEGMENT_CUBE_KEYS).toPandas(),
            "docs": spark.read.parquet(docs_stats_cube_table(spark, sf_base))
            .orderBy(*DOCS_CUBE_KEYS).toPandas(),
            "li_rows": spark.table(li_name).count(),
            "od_rows": spark.table(od_name).count(),
            "z_rows": spark.read.parquet(
                zordered_lineitem(spark, sf_base)
            ).count(),
            "sql_li": eng.sql("SELECT count(*) AS n FROM lineitem")
            .collect()[0]["n"],
        }

    epoch1 = snapshot()
    wh = _layout_paths(sf_base)[1]
    wh_files = _walk_files(wh) if os.path.isdir(wh) else set()

    # inject the crash LATE in the sequence (the events cube refresh),
    # so by then the order/lineitem cubes have all swung, the bucketed
    # appends have committed, and the corpus docs layouts refreshed —
    # the maximal rollback surface
    real_refresh = maint_mod.refresh_projection

    def boom(spark_, sf_dir_, name, *a, **kw):
        out = real_refresh(spark_, sf_dir_, name, *a, **kw)
        if name == "events_hourly_cube":
            raise RuntimeError("injected mid-sequence crash")
        return out

    monkeypatch.setattr(maint_mod, "refresh_projection", boom)
    with _pytest.raises(RuntimeError, match="injected mid-sequence"):
        refresh_warehouse(spark, sf_base, **b2)

    # every layout — including the ones whose refresh COMPLETED before
    # the crash — serves the batch-1 epoch again
    after = snapshot()
    for k, v in epoch1.items():
        if hasattr(v, "equals"):
            assert after[k].equals(v), k
        else:
            assert after[k] == v, k
    # the failed batch's staged files are gone (uncommitted-file GC)
    leftover = _walk_files(wh) - wh_files
    assert not leftover, sorted(leftover)[:5]
    # S23b: the failed batch's staged change deltas must not leak into
    # the NEXT commit — pending cleared on rollback
    assert warehouse(spark, sf_base).history.cdf_pending is None

    # redelivery applies exactly once: every cube equals the same cube
    # deployed from scratch over the FULL corpus
    monkeypatch.undo()
    refresh_warehouse(spark, sf_base, **b2)
    # ...and the redelivered commit's stored delta describes exactly
    # the b2 batch: the feed's insert counts per table equal the batch
    led = warehouse(spark, sf_base).history.ledger
    assert set(led[-1].get("cdf", {})) == set(b2)
    v_last = led[-1]["version"]
    from bigdataproj_spark.sources.snapshots import table_changes

    for t, delta in b2.items():
        feed = table_changes(spark, sf_base, t, v_last - 1, v_last)
        assert feed.count() == delta.count(), t
        assert (
            feed.filter(F.col("_change_type") != "insert").count() == 0
        ), t

    def frames_equal(a, b, keys):
        pa = a.orderBy(*keys).toPandas()
        pb = b.orderBy(*keys).toPandas()
        assert pa.equals(pb[pa.columns.tolist()]), keys

    frames_equal(
        spark.read.parquet(pricing_cube_table(spark, sf_base)),
        spark.read.parquet(pricing_cube_table(spark, sf_dir)),
        ["l_returnflag", "l_linestatus", "l_shipdate"],
    )
    frames_equal(
        spark.read.parquet(segment_cube_table(spark, sf_base)),
        spark.read.parquet(segment_cube_table(spark, sf_dir)),
        list(_SEGMENT_CUBE_KEYS),
    )
    frames_equal(
        spark.read.parquet(docs_stats_cube_table(spark, sf_base)),
        spark.read.parquet(docs_stats_cube_table(spark, sf_dir)),
        list(DOCS_CUBE_KEYS),
    )
    li_name, _ = bucketed_fact_tables(spark, sf_base)
    assert (
        spark.table(li_name).count()
        == table(spark, sf_dir, "lineitem").count()
    )
    assert (
        eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
        == table(spark, sf_dir, "lineitem").count()
    )


def test_gc_warehouse_removes_only_superseded_versions(
    spark, sf_dir, tmp_path
):
    """The VACUUM verb: after two refresh batches (each publishing new
    cube/denorm versions) plus a delete (tombstone versions), GC
    removes the superseded entries, keeps every SERVING version —
    routed answers are bit-identical before and after — and a second
    GC finds nothing."""
    import os

    from bigdataproj_spark.plans.routing import AggCall, AggQuery, route
    from bigdataproj_spark.sources.bucketed import _layout_paths
    from bigdataproj_spark.sources.maintenance import gc_warehouse
    from bigdataproj_spark.sources.retention import delete_orders

    base_dir = tmp_path / "base"
    splits = {
        "orders": F.col("o_orderkey") % 13 <= 1,
        "lineitem": F.col("l_orderkey") % 13 <= 1,
    }
    deltas = _copy_tables(spark, sf_dir, base_dir, splits)
    sf_base = str(base_dir)
    for rem in (0, 1):
        refresh_warehouse(
            spark, sf_base,
            lineitem=deltas["lineitem"].filter(F.col("l_orderkey") % 13 == rem),
            orders=deltas["orders"].filter(F.col("o_orderkey") % 13 == rem),
        )
    delete_orders(
        spark, sf_base,
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 101 == 3)
        .select("o_orderkey"),
    )
    spec = AggQuery(
        filters=(),
        group_by=("l_returnflag", "l_linestatus"),
        aggs=(AggCall("sum", "revenue", "rev"), AggCall("count_star", None, "n")),
    )
    before, chosen = route(spark, sf_base, spec)
    before = before.toPandas()
    wh = _layout_paths(sf_base)[1]
    n_before = len(os.listdir(wh))

    out = gc_warehouse(spark, sf_base)
    assert out["removed"] > 0 and out["bytes"] > 0
    assert len(os.listdir(wh)) == n_before - out["removed"]

    after, chosen2 = route(spark, sf_base, spec)
    assert chosen2 == chosen
    assert after.toPandas().equals(before)
    # every serving path still opens (spine + scans + verbatim view)
    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.plans.routing import Pred, ScanQuery, route_scan

    sdf, _ = route_scan(
        spark, sf_base,
        ScanQuery(("l_orderkey", "l_partkey"), (Pred("l_partkey", "<=", 40),)),
    )
    sdf.count()
    for t in ("supplier", "part", "embeddings"):
        p = base_dir / f"{t}.parquet"
        if not p.exists():
            table(spark, sf_dir, t).write.parquet(str(p))
    Engine(spark, sf_base).sql("SELECT count(*) AS n FROM lineitem").collect()
    # idempotent
    assert gc_warehouse(spark, sf_base)["removed"] == 0


def test_ingest_batch_never_rewrites_pre_batch_files(spark, sf_dir, tmp_path):
    """The load-bearing invariant WarehouseTxn's rollback depends on
    (sources/txn.py module docstring, pinned here per round-8 VERDICT):
    no layout ever overwrites a file in place — every refresh publishes
    a NEW versioned directory or APPENDS new files. A full mixed ingest
    batch over a fully-deployed warehouse must leave every pre-batch
    file byte-identical; a layout that rewrote in place would make
    'delete files not in the entry listing + restore memos' an
    incomplete undo."""
    import hashlib
    import os

    from bigdataproj_spark.sources.bucketed import (
        _layout_paths,
        bucketed_fact_tables,
        pricing_cube_table,
    )
    from bigdataproj_spark.sources.corpus_cubes import docs_stats_cube_table
    from bigdataproj_spark.sources.txn import _walk_files

    base_dir = tmp_path / "base"
    deltas = _copy_tables(
        spark, sf_dir, base_dir,
        {
            "orders": F.col("o_orderkey") % 7 == 0,
            "lineitem": F.col("l_orderkey") % 7 == 0,
            "documents": F.col("doc_id") % 9 == 0,
        },
    )
    sf_base = str(base_dir)
    # deploy a representative layout set (row-append + cube + corpus)
    bucketed_fact_tables(spark, sf_base)
    pricing_cube_table(spark, sf_base)
    docs_stats_cube_table(spark, sf_base)

    _tag, wh = _layout_paths(sf_base)

    def digest(files):
        out = {}
        for f in files:
            h = hashlib.md5()
            with open(f, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
            out[f] = (os.path.getsize(f), h.hexdigest())
        return out

    pre = digest(_walk_files(wh))
    refresh_warehouse(
        spark, sf_base,
        lineitem=deltas["lineitem"], orders=deltas["orders"],
        documents=deltas["documents"],
    )
    post_files = _walk_files(wh)
    missing = set(pre) - post_files
    assert not missing, f"pre-batch files deleted by ingest: {sorted(missing)[:5]}"
    post = digest(set(pre))
    changed = {f for f in pre if pre[f] != post[f]}
    assert not changed, f"pre-batch files rewritten in place: {sorted(changed)[:5]}"


def test_gc_retention_window_keeps_young_superseded_versions(
    spark, sf_dir, tmp_path
):
    """The VACUUM RETAIN guard (round-9, r8-VERDICT item 4): with a
    retention window, a superseded version younger than the window
    SURVIVES the pass (a long-planned reader may still be scanning
    it), while a superseded version older than the window goes. A
    later windowless pass collects the survivor."""
    import os
    import time

    from bigdataproj_spark.sources.bucketed import (
        _layout_paths,
        pricing_cube_table,
    )
    from bigdataproj_spark.sources.maintenance import gc_warehouse

    base_dir = tmp_path / "base"
    splits = {
        "orders": F.col("o_orderkey") % 13 <= 1,
        "lineitem": F.col("l_orderkey") % 13 <= 1,
    }
    deltas = _copy_tables(spark, sf_dir, base_dir, splits)
    sf_base = str(base_dir)
    pricing_cube_table(spark, sf_base)
    v1 = pricing_cube_table(spark, sf_base)  # memoized: still v-initial
    for rem in (0, 1):
        refresh_warehouse(
            spark, sf_base,
            lineitem=deltas["lineitem"].filter(F.col("l_orderkey") % 13 == rem),
            orders=deltas["orders"].filter(F.col("o_orderkey") % 13 == rem),
        )
    v3 = pricing_cube_table(spark, sf_base)
    assert v3 != v1  # v1 and the middle version are superseded

    # backdate ONE superseded entry beyond the window; the other
    # superseded entries stay young
    old = time.time() - 7200
    for dirpath, _dirs, files in os.walk(v1):
        os.utime(dirpath, (old, old))
        for f in files:
            os.utime(os.path.join(dirpath, f), (old, old))
    # S22: the commit ledger also references v1 (it was the serving
    # version at the early commits), and a version reachable by time
    # travel keeps its files ALIVE regardless of file age — the
    # stronger Delta-style contract. This test simulates the passage
    # of time, so the simulated age must apply to the commit history
    # too, not just the bytes.
    from bigdataproj_spark.sources.snapshots import _ledger

    for entry in _ledger(spark, sf_base):
        entry["wall"] = min(entry["wall"], old)
    wh = _layout_paths(sf_base)[1]
    n0 = len(os.listdir(wh))

    out = gc_warehouse(spark, sf_base, retain_seconds=3600)
    # exactly the aged-out entries went; v1 is among them
    assert out["removed"] >= 1
    assert not os.path.exists(v1)
    assert len(os.listdir(wh)) == n0 - out["removed"]
    # young superseded versions survived the windowed pass...
    survivors = gc_warehouse(spark, sf_base)  # windowless
    assert survivors["removed"] > 0
    # ...and the serving version is still there after both passes
    assert os.path.exists(v3)
    assert spark.read.parquet(v3).count() > 0


class TestOrderUpdateReattribution:
    """S21 (round 9): re-ingesting an EXISTING order key with changed
    attributes must reattribute its existing lineitems in every
    order-keyed cube — found as a routed-vs-raw divergence on the
    segment cube (the denorm upserts immediately; the cubes did not)."""

    def _sandbox(self, spark, sf_dir, tmp_path):
        base_dir = tmp_path / "base"
        _copy_tables(spark, sf_dir, base_dir, {})
        for t in ("supplier", "part", "embeddings"):
            table(spark, sf_dir, t).write.parquet(str(base_dir / f"{t}.parquet"))
        return str(base_dir)

    def _segment_sql(self):
        return (
            "SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY c_mktsegment, o_orderpriority "
            "ORDER BY c_mktsegment, o_orderpriority"
        )

    def test_attribute_update_reaches_segment_and_star_cubes(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.engine import Engine
        from bigdataproj_spark.plans.sqlfront import route_sql
        from bigdataproj_spark.sources.bucketed import (
            segment_cube_table,
            star_date_cube_table,
        )

        sf_base = self._sandbox(spark, sf_dir, tmp_path)
        eng = Engine(spark, sf_base)
        segment_cube_table(spark, sf_base)
        star_date_cube_table(spark, sf_base)
        orders = table(spark, sf_base, "orders")
        upd = (
            orders.filter(F.col("o_orderkey") % 97 == 1)
            .withColumn("o_orderpriority", F.lit("9-UPDATED"))
        )
        done = eng.ingest(orders=upd)
        assert {"segment_cube", "star_date_cube"} <= set(done)
        df, chosen = route_sql(spark, sf_base, self._segment_sql())
        assert chosen == "segment_cube", chosen
        routed = df.toPandas()
        verbatim = eng.sql(self._segment_sql(), routed=False).toPandas()
        assert routed.equals(verbatim)
        assert (routed["o_orderpriority"] == "9-UPDATED").any()

    def test_custkey_update_reattributes_star_regions(
        self, spark, sf_dir, tmp_path
    ):
        """Moving an order to a customer in another nation/region must
        move its lineitems between the star cube's (r_name, n_name)
        groups."""
        from bigdataproj_spark.engine import Engine
        from bigdataproj_spark.plans.sqlfront import route_sql
        from bigdataproj_spark.sources.bucketed import star_date_cube_table

        sf_base = self._sandbox(spark, sf_dir, tmp_path)
        eng = Engine(spark, sf_base)
        star_date_cube_table(spark, sf_base)
        # pick a replacement customer deterministically
        c0 = (
            table(spark, sf_base, "customer")
            .orderBy("c_custkey")
            .first()["c_custkey"]
        )
        orders = table(spark, sf_base, "orders")
        upd = orders.filter(F.col("o_orderkey") % 131 == 1).withColumn(
            "o_custkey", F.lit(c0)
        )
        eng.ingest(orders=upd)
        sql = (
            "SELECT r_name, n_name, COUNT(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name, n_name ORDER BY r_name, n_name"
        )
        df, chosen = route_sql(spark, sf_base, sql)
        assert chosen == "star_date_cube", chosen
        assert df.toPandas().equals(
            eng.sql(sql, routed=False).toPandas()
        )

    def test_update_reaches_user_projection_order_measures(
        self, spark, sf_dir, tmp_path
    ):
        """A user view keyed on an order attribute and storing the
        order-home money measure must reflect BOTH the moved group
        keys and the changed o_totalprice sums."""
        from bigdataproj_spark.engine import Engine
        from bigdataproj_spark.plans.sqlfront import SUM_SQL, route_sql
        from bigdataproj_spark.sources.user_projections import deploy_projection

        sf_base = self._sandbox(spark, sf_dir, tmp_path)
        eng = Engine(spark, sf_base)
        deploy_projection(
            spark, sf_base, "upd_prio_total",
            ("o_orderpriority",), ("order_total",),
        )
        orders = table(spark, sf_base, "orders")
        upd = (
            orders.filter(F.col("o_orderkey") % 113 == 1)
            .withColumn("o_orderpriority", F.lit("9-UPDATED"))
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        )
        done = eng.ingest(orders=upd)
        assert "user:upd_prio_total" in done
        sql = (
            f"SELECT o_orderpriority, {SUM_SQL['order_total']} AS total, "
            "COUNT(*) AS n FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        )
        df, chosen = route_sql(spark, sf_base, sql)
        assert chosen == "user:upd_prio_total", chosen
        assert df.toPandas().equals(eng.sql(sql, routed=False).toPandas())

    def test_mixed_update_plus_new_lineitems_single_batch(
        self, spark, sf_dir, tmp_path
    ):
        """One batch carrying an order UPDATE and NEW lineitems for
        that same order: reattribution covers the existing rows, the
        delta merge adds the new ones under the new attributes."""
        from bigdataproj_spark.engine import Engine
        from bigdataproj_spark.plans.sqlfront import route_sql
        from bigdataproj_spark.sources.bucketed import segment_cube_table

        sf_base = self._sandbox(spark, sf_dir, tmp_path)
        eng = Engine(spark, sf_base)
        segment_cube_table(spark, sf_base)
        orders = table(spark, sf_base, "orders")
        key = orders.orderBy("o_orderkey").first()["o_orderkey"]
        upd = orders.filter(F.col("o_orderkey") == key).withColumn(
            "o_orderpriority", F.lit("9-UPDATED")
        )
        li = table(spark, sf_base, "lineitem")
        new_li = (
            li.filter(F.col("l_orderkey") == key)
            .limit(1)
            .withColumn("l_linenumber", F.lit(99))
        )
        eng.ingest(orders=upd, lineitem=new_li)
        df, chosen = route_sql(spark, sf_base, self._segment_sql())
        assert chosen == "segment_cube", chosen
        assert df.toPandas().equals(
            eng.sql(self._segment_sql(), routed=False).toPandas()
        )

    def test_redelivery_and_pure_append_skip_reattribution(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.engine import Engine
        from bigdataproj_spark.sources.bucketed import segment_cube_table

        sf_base = self._sandbox(spark, sf_dir, tmp_path)
        eng = Engine(spark, sf_base)
        segment_cube_table(spark, sf_base)
        orders = table(spark, sf_base, "orders")
        upd = orders.filter(F.col("o_orderkey") % 97 == 1).withColumn(
            "o_orderpriority", F.lit("9-UPDATED")
        )
        done1 = eng.ingest(orders=upd)
        assert "segment_cube" in done1
        # byte-identical redelivery: no conflict rows survive exceptAll
        done2 = eng.ingest(orders=upd)
        assert "segment_cube" not in done2
        # genuinely new orders: pure append, no reattribution
        new = orders.limit(2).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(10**9)
        )
        done3 = eng.ingest(orders=new)
        assert "segment_cube" not in done3


def test_update_optimize_gc_lifecycle_stays_consistent(
    spark, sf_dir, tmp_path
):
    """S21 ∘ OPTIMIZE ∘ VACUUM: after an order UPDATE, the scheduled
    rewrite and GC must preserve the updated attribution — routed and
    verbatim answers stay identical through the whole maintenance
    lifecycle, and GC removes the superseded pre-update versions."""
    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.plans.sqlfront import route_sql
    from bigdataproj_spark.sources.bucketed import segment_cube_table
    from bigdataproj_spark.sources.maintenance import gc_warehouse

    base_dir = tmp_path / "base"
    _copy_tables(spark, sf_dir, base_dir, {})
    for t in ("supplier", "part", "embeddings"):
        table(spark, sf_dir, t).write.parquet(str(base_dir / f"{t}.parquet"))
    sf_base = str(base_dir)
    eng = Engine(spark, sf_base)
    segment_cube_table(spark, sf_base)
    eng.sql(
        "UPDATE orders SET o_orderpriority = '9-LIFECYCLE' "
        "WHERE o_totalprice > 250000"
    )
    sql = (
        "SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY c_mktsegment, o_orderpriority "
        "ORDER BY c_mktsegment, o_orderpriority"
    )
    df, chosen = route_sql(spark, sf_base, sql)
    assert chosen == "segment_cube", chosen
    want = df.toPandas()
    assert (want["o_orderpriority"] == "9-LIFECYCLE").any()

    eng.optimize()
    out = gc_warehouse(spark, sf_base)
    assert out["removed"] > 0  # superseded pre-update versions go
    df2, chosen2 = route_sql(spark, sf_base, sql)
    assert chosen2 == "segment_cube"
    assert df2.toPandas().equals(want)
    assert eng.sql(sql, routed=False).toPandas().equals(want)


def test_orphaning_custkey_update_drops_order_everywhere(
    spark, sf_dir, tmp_path
):
    """Round-9 review finding (the second pass): an UPDATE pointing
    o_custkey at a customer that does not exist must REMOVE the
    order's denorm row — the raw star join drops the orphan (inner-join
    semantics), so every routed path must too. Before the fix, the
    stale pre-update denorm row survived the upsert's anti-join (keyed
    on the inner-join survivors, which the orphan had vanished from)
    and the segment cube kept the old attribution forever."""
    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.plans.sqlfront import route_sql
    from bigdataproj_spark.sources.bucketed import segment_cube_table

    base_dir = tmp_path / "base"
    _copy_tables(spark, sf_dir, base_dir, {})
    for t in ("supplier", "part", "embeddings"):
        table(spark, sf_dir, t).write.parquet(str(base_dir / f"{t}.parquet"))
    sf_base = str(base_dir)
    eng = Engine(spark, sf_base)
    segment_cube_table(spark, sf_base)
    key = (
        table(spark, sf_base, "orders").orderBy("o_orderkey").first()["o_orderkey"]
    )
    eng.sql(
        f"UPDATE orders SET o_custkey = 999999999 WHERE o_orderkey = {key}"
    )
    sql = (
        "SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY c_mktsegment, o_orderpriority "
        "ORDER BY c_mktsegment, o_orderpriority"
    )
    df, chosen = route_sql(spark, sf_base, sql)
    assert chosen == "segment_cube", chosen
    assert df.toPandas().equals(eng.sql(sql, routed=False).toPandas())
    # the orphaned order's lineitems left the chain-joined counts
    n_li = (
        table(spark, sf_base, "lineitem")
        .filter(F.col("l_orderkey") == key)
        .count()
    )
    assert n_li > 0  # the scenario is real: this order has lineitems
    total_routed = int(df.toPandas()["n"].sum())
    full = (
        table(spark, sf_base, "lineitem")
        .join(
            table(spark, sf_base, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert total_routed == full - n_li


def test_shared_delta_frame_matches_per_leg_formulations(spark, sf_dir):
    """Round 13: refresh_warehouse computes ONE batch⋈denorm delta
    frame shared by every lineitem refresh leg. This pins the
    equivalence that makes the sharing legal, on the exact edge that
    distinguishes the formulations — a delta lineitem whose order is
    ABSENT from the denorm: the LEFT-joined frame (denorm columns
    dropped) is row-identical to ``_lineitem_with_derived`` for the
    pricing/rollup/append consumers, and its denorm-matched rows are
    row-identical to the star/segment legs' old INNER join (which
    drops the orphan on both paths)."""
    from bigdataproj_spark.sources.bucketed import (
        _DELTA_DENORM_COLS,
        _lineitem_with_derived,
        build_delta_frame,
        order_revenue_projection,
    )
    from bigdataproj_spark.plans.routing import BUILTIN_VIEWS, _SEGMENT_CUBE_KEYS
    from bigdataproj_spark.sources.user_projections import _partial_aggs

    _roll, den_name = order_revenue_projection(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    delta = li.filter(F.col("l_orderkey") % 1999 == 1).unionByName(
        # an orphan: no such order exists in the denorm
        li.limit(1).withColumn("l_orderkey", F.lit(999_999_999))
    )
    assert delta.count() > 1

    shared = build_delta_frame(spark, sf_dir, delta).localCheckpoint(
        eager=True
    )

    # pricing/rollup/append view: every delta row, derived cols intact
    a = shared.drop(*_DELTA_DENORM_COLS)
    b = _lineitem_with_derived(delta)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # star/segment view: denorm-matched rows == the old INNER join
    den = spark.table(den_name).select(
        "o_orderkey", "c_mktsegment", "o_orderpriority", "o_orderstatus"
    )
    lid = _lineitem_with_derived(delta)
    inner = (
        lid.join(den, lid.l_orderkey == den.o_orderkey)
        .groupBy(*_SEGMENT_CUBE_KEYS)
        .agg(*_partial_aggs(BUILTIN_VIEWS["segment_cube"]))
    )
    via_shared = (
        shared.filter(F.col("o_orderkey").isNotNull())
        .groupBy(*_SEGMENT_CUBE_KEYS)
        .agg(*_partial_aggs(BUILTIN_VIEWS["segment_cube"]))
    )
    assert via_shared.exceptAll(inner).count() == 0
    assert inner.exceptAll(via_shared).count() == 0

    # the orphan row is visible to pricing and invisible to star/segment
    orphan = shared.filter(F.col("l_orderkey") == 999_999_999)
    assert orphan.count() == 1
    assert orphan.filter(F.col("o_orderkey").isNotNull()).count() == 0
