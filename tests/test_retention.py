"""S19 targeted delete / retention: tombstone propagation.

The contract: after ``delete_documents``/``delete_orders``, EVERY
answer path — cube-routed, spine-routed, scan-routed, raw, verbatim —
equals the same query over a corpus that never contained the deleted
rows; re-deleting is a no-op; a failure mid-propagation rolls the
whole delete back; OPTIMIZE physically removes the bytes; and a cube
deployed AFTER a delete is built without the dead rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataproj_spark.catalog import table
from bigdataproj_spark.plans.routing import (
    AggCall,
    AggQuery,
    Pred,
    ScanQuery,
    TableAggQuery,
    TableScanQuery,
    route,
    route_scan,
)
from bigdataproj_spark.sources.retention import (
    delete_documents,
    delete_from_index,
    delete_orders,
    tombstone_df,
)


def _copy(spark, sf_dir, out_dir, tables):
    out_dir.mkdir(parents=True, exist_ok=True)
    for t in tables:
        table(spark, sf_dir, t).write.parquet(str(out_dir / f"{t}.parquet"))
    return str(out_dir)


def _reduced(spark, sf_dir, out_dir, keep_filters):
    """A corpus that NEVER contained the to-be-deleted rows — the
    ground truth every post-delete layout must equal."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for t, flt in keep_filters.items():
        df = table(spark, sf_dir, t)
        if flt is not None:
            df = df.filter(flt)
        df.write.parquet(str(out_dir / f"{t}.parquet"))
    return str(out_dir)


class TestDeleteDocuments:
    def test_cube_splice_equals_fresh_deploy_on_reduced_corpus(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.corpus_cubes import docs_stats_cube_table
        from bigdataproj_spark.plans.routing import DOCS_CUBE_KEYS

        work = _copy(spark, sf_dir, tmp_path / "w", ("documents",))
        truth = _reduced(
            spark, sf_dir, tmp_path / "t",
            {"documents": F.col("doc_id") % 11 != 4},
        )
        docs_stats_cube_table(spark, work)
        ids = (
            table(spark, work, "documents")
            .filter(F.col("doc_id") % 11 == 4)
            .select("doc_id")
        )
        done = delete_documents(spark, work, ids)
        assert "docs_stats_cube" in done
        got = (
            spark.read.parquet(docs_stats_cube_table(spark, work))
            .orderBy(*DOCS_CUBE_KEYS)
            .toPandas()
        )
        want = (
            spark.read.parquet(docs_stats_cube_table(spark, truth))
            .orderBy(*DOCS_CUBE_KEYS)
            .toPandas()
        )
        assert got.equals(want[got.columns.tolist()])
        # re-delete is a no-op (nothing republished)
        assert delete_documents(spark, work, ids) == {}

    def test_every_read_path_subtracts(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.engine import Engine
        from bigdataproj_spark.sources.docstore import clustered_documents

        work = _copy(
            spark, sf_dir, tmp_path / "w",
            ("region", "nation", "customer", "supplier", "part",
             "orders", "lineitem", "events", "documents", "embeddings"),
        )
        clustered_documents(spark, work)
        delete_documents(
            spark, work,
            table(spark, work, "documents")
            .filter(F.col("doc_id") % 13 == 2)
            .select("doc_id"),
        )
        survivors = table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 13 != 2
        )
        # raw aggregate (no cube deployed for this shape)
        spec = TableAggQuery(
            "documents", (), ("lang",),
            (AggCall("count_star", None, "n"),),
        )
        df, chosen = route(spark, work, spec)
        want = (
            survivors.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang")
            .toPandas()
        )
        assert df.toPandas().equals(want)
        # clustered scan
        sdf, schosen = route_scan(
            spark, work,
            TableScanQuery(
                "documents", ("doc_id", "lang"),
                (Pred("lang", "=", "en"),),
            ),
        )
        assert schosen == "clustered_documents"
        swant = (
            survivors.filter(F.col("lang") == "en")
            .select("doc_id", "lang")
            .orderBy("doc_id")
            .toPandas()
        )
        assert sdf.orderBy("doc_id").toPandas().equals(swant)
        # verbatim SQL view
        eng = Engine(spark, work)
        n = eng.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
        assert n == survivors.count()

    def test_deploy_after_delete_excludes_dead_rows(
        self, spark, sf_dir, tmp_path
    ):
        """A cube deployed AFTER the delete (not deployed at delete
        time) must be built from surviving rows only."""
        from bigdataproj_spark.sources.corpus_cubes import docs_stats_cube_table
        from bigdataproj_spark.plans.routing import DOCS_CUBE_KEYS

        work = _copy(spark, sf_dir, tmp_path / "w", ("documents",))
        truth = _reduced(
            spark, sf_dir, tmp_path / "t",
            {"documents": F.col("doc_id") % 7 != 5},
        )
        delete_documents(
            spark, work,
            table(spark, work, "documents")
            .filter(F.col("doc_id") % 7 == 5)
            .select("doc_id"),
        )
        got = (
            spark.read.parquet(docs_stats_cube_table(spark, work))
            .orderBy(*DOCS_CUBE_KEYS)
            .toPandas()
        )
        want = (
            spark.read.parquet(docs_stats_cube_table(spark, truth))
            .orderBy(*DOCS_CUBE_KEYS)
            .toPandas()
        )
        assert got.equals(want[got.columns.tolist()])

    def test_user_corpus_view_rebuilds_affected_groups(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.user_projections import (
            deploy_projection,
            drop_projection,
            list_projections,
        )

        work = _copy(spark, sf_dir, tmp_path / "w", ("documents",))
        truth = _reduced(
            spark, sf_dir, tmp_path / "t",
            {"documents": F.col("doc_id") % 9 != 1},
        )
        deploy_projection(
            spark, work, "t_del_kind",
            ("s_kind", "lang"), ("chars",), table="documents",
        )
        done = delete_documents(
            spark, work,
            table(spark, work, "documents")
            .filter(F.col("doc_id") % 9 == 1)
            .select("doc_id"),
        )
        assert "user:t_del_kind" in done
        deploy_projection(
            spark, truth, "t_del_truth",
            ("s_kind", "lang"), ("chars",), table="documents",
        )
        paths = {
            p["name"]: p["path"]
            for d in (work, truth)
            for p in list_projections(spark, d)
        }
        got = (
            spark.read.parquet(paths["t_del_kind"])
            .orderBy("s_kind", "lang")
            .toPandas()
        )
        want = (
            spark.read.parquet(paths["t_del_truth"])
            .orderBy("s_kind", "lang")
            .toPandas()
        )
        assert got.equals(want[got.columns.tolist()])
        drop_projection(spark, work, "t_del_kind")
        drop_projection(spark, truth, "t_del_truth")


_STAR_SPEC = AggQuery(
    filters=(),
    group_by=("r_name", "l_returnflag"),
    aggs=(
        AggCall("sum", "revenue", "rev"),
        AggCall("min", "quantity", "min_q"),
        AggCall("count_star", None, "n"),
    ),
)


class TestDeleteOrders:
    def _setup(self, spark, sf_dir, tmp_path, mod, rem):
        tables = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
        work = _copy(spark, sf_dir, tmp_path / "w", tables)
        keep = {t: None for t in tables}
        keep["orders"] = F.col("o_orderkey") % mod != rem
        keep["lineitem"] = F.col("l_orderkey") % mod != rem
        truth = _reduced(spark, sf_dir, tmp_path / "t", keep)
        keys = (
            table(spark, work, "orders")
            .filter(F.col("o_orderkey") % mod == rem)
            .select("o_orderkey")
        )
        return work, truth, keys

    def test_cubes_and_spine_equal_reduced_corpus(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.bucketed import (
            pricing_cube_table,
            star_date_cube_table,
        )
        from bigdataproj_spark.plans.routing import (
            _STAR_CUBE_KEYS,
            _STAR_SKETCH_COLS,
        )

        work, truth, keys = self._setup(spark, sf_dir, tmp_path, 19, 6)
        pricing_cube_table(spark, work)
        star_date_cube_table(spark, work)
        done = delete_orders(spark, work, keys)
        assert {"pricing_cube", "star_date_cube"} <= set(done)

        def est(df):
            for c in _STAR_SKETCH_COLS:
                df = df.withColumn(c, F.hll_sketch_estimate(c))
            return df

        got = (
            est(spark.read.parquet(star_date_cube_table(spark, work)))
            .orderBy(*_STAR_CUBE_KEYS)
            .toPandas()
        )
        want = (
            est(spark.read.parquet(star_date_cube_table(spark, truth)))
            .orderBy(*_STAR_CUBE_KEYS)
            .toPandas()
        )
        assert got.equals(want[got.columns.tolist()])
        # routed star answer (cube) == the same spec on the reduced twin
        dfw, cw = route(spark, work, _STAR_SPEC)
        dft, ct = route(spark, truth, _STAR_SPEC)
        assert cw == ct == "star_date_cube"
        assert dfw.toPandas().equals(dft.toPandas())
        # spine shape (mixed per-order grouping refuses the cubes)
        spine_spec = AggQuery(
            filters=(),
            group_by=("c_mktsegment", "l_returnflag", "om"),
            aggs=(AggCall("sum", "revenue", "rev"), AggCall("count_star", None, "n")),
            truncs=(("om", "month", "o_orderdate"),),
            chain=4,  # full declared chain: the spine's applicability gate
        )
        dfw2, cw2 = route(spark, work, spine_spec)
        dft2, _ct2 = route(spark, truth, spine_spec)
        assert cw2 == "bucketed_spine"
        assert dfw2.toPandas().equals(dft2.toPandas())
        # the rollup⋈denorm PAIR path (order-grain layouts, not
        # rebuilt — they subtract via tombstones at read)
        pair_spec = AggQuery(
            filters=(),
            group_by=("c_mktsegment", "om"),
            aggs=(AggCall("sum", "revenue", "rev"),),
            truncs=(("om", "month", "o_orderdate"),),
            chain=4,
        )
        dfw3, cw3 = route(spark, work, pair_spec)
        dft3, _ = route(spark, truth, pair_spec)
        assert cw3 == "order_revenue_star"
        assert dfw3.toPandas().equals(dft3.toPandas())
        # re-delete no-op
        assert delete_orders(spark, work, keys) == {}

    def test_scan_layouts_and_user_projection_subtract(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.user_projections import (
            deploy_projection,
            drop_projection,
        )
        from bigdataproj_spark.sources.zorder import zordered_lineitem

        work, truth, keys = self._setup(spark, sf_dir, tmp_path, 29, 3)
        zordered_lineitem(spark, work)
        deploy_projection(
            spark, work, "t_del_prio", ("o_orderpriority", "l_returnflag")
        )
        done = delete_orders(spark, work, keys)
        assert "user:t_del_prio" in done
        # Z-order scan
        q = ScanQuery(
            ("l_orderkey", "l_partkey", "l_quantity"),
            (Pred("l_partkey", "<=", 50),),
        )
        dfw, cw = route_scan(spark, work, q)
        assert cw == "zorder_lineitem"
        want = (
            table(spark, truth, "lineitem")
            .filter(F.col("l_partkey") <= 50)
            .select("l_orderkey", "l_partkey", "l_quantity")
        )
        cols = ["l_orderkey", "l_partkey", "l_quantity"]
        assert (
            dfw.orderBy(*cols).toPandas().equals(want.orderBy(*cols).toPandas())
        )
        # user projection answers the reduced corpus
        spec = AggQuery(
            filters=(),
            group_by=("o_orderpriority", "l_returnflag"),
            aggs=(AggCall("sum", "revenue", "rev"), AggCall("count_star", None, "n")),
        )
        dfu, cu = route(spark, work, spec)
        assert cu == "user:t_del_prio"
        dft, _ = route(spark, truth, spec)
        assert dfu.toPandas().equals(dft.toPandas())
        drop_projection(spark, work, "t_del_prio")

    def test_optimize_physically_removes_dead_rows(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.bucketed import bucketed_fact_tables
        from bigdataproj_spark.sources.maintenance import optimize_warehouse

        work, truth, keys = self._setup(spark, sf_dir, tmp_path, 31, 8)
        bucketed_fact_tables(spark, work)
        delete_orders(spark, work, keys)
        done = optimize_warehouse(spark, work)
        assert {"bucketed_lineitem", "bucketed_orders"} <= set(done)
        # the REWRITTEN files hold exactly the surviving rows (read the
        # table bytes directly, no tombstone filter in the way)
        li_name, od_name = bucketed_fact_tables(spark, work)
        assert (
            spark.table(li_name).count()
            == table(spark, truth, "lineitem").count()
        )
        assert (
            spark.table(od_name).count()
            == table(spark, truth, "orders").count()
        )

    def test_failed_delete_rolls_back_everything(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        from bigdataproj_spark.sources import retention as ret_mod
        from bigdataproj_spark.sources.bucketed import pricing_cube_table

        work, _truth, keys = self._setup(spark, sf_dir, tmp_path, 37, 5)
        pricing_cube_table(spark, work)
        pre_cube = (
            spark.read.parquet(pricing_cube_table(spark, work))
            .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
            .toPandas()
        )
        pre_count = table(spark, work, "lineitem").count()

        real = ret_mod._publish_cube

        def boom(*a, **kw):
            raise RuntimeError("injected delete crash")

        monkeypatch.setattr(ret_mod, "_publish_cube", boom)
        with pytest.raises(RuntimeError, match="injected delete crash"):
            delete_orders(spark, work, keys)
        monkeypatch.setattr(ret_mod, "_publish_cube", real)
        # tombstones rolled back: every path still sees the full corpus
        assert tombstone_df(spark, work, "orders") is None
        from bigdataproj_spark.plans.routing import current_lineitem

        assert current_lineitem(spark, work).count() == pre_count
        post_cube = (
            spark.read.parquet(pricing_cube_table(spark, work))
            .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
            .toPandas()
        )
        assert post_cube.equals(pre_cube)
        # redelivery succeeds and propagates
        done = delete_orders(spark, work, keys)
        assert "pricing_cube" in done

    def test_ingest_after_delete_composes(self, spark, sf_dir, tmp_path):
        """A refresh batch applied AFTER a delete merges onto the
        spliced cube; the result equals base − deleted + delta."""
        from bigdataproj_spark.sources.bucketed import pricing_cube_table
        from bigdataproj_spark.sources.maintenance import refresh_warehouse

        tables = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
        li = table(spark, sf_dir, "lineitem")
        od = table(spark, sf_dir, "orders")
        held_li = li.filter(F.col("l_orderkey") % 41 == 9)
        held_od = od.filter(F.col("o_orderkey") % 41 == 9)
        work = tmp_path / "w"
        work.mkdir()
        for t in tables:
            df = table(spark, sf_dir, t)
            if t == "lineitem":
                df = df.filter(F.col("l_orderkey") % 41 != 9)
            if t == "orders":
                df = df.filter(F.col("o_orderkey") % 41 != 9)
            df.write.parquet(str(work / f"{t}.parquet"))
        work = str(work)
        truth = _reduced(
            spark, sf_dir, tmp_path / "t",
            {
                **{t: None for t in tables},
                "orders": F.col("o_orderkey") % 43 != 2,
                "lineitem": F.col("l_orderkey") % 43 != 2,
            },
        )
        pricing_cube_table(spark, work)
        delete_orders(
            spark, work,
            table(spark, work, "orders")
            .filter(F.col("o_orderkey") % 43 == 2)
            .select("o_orderkey"),
        )
        refresh_warehouse(
            spark, work,
            lineitem=held_li.filter(F.col("l_orderkey") % 43 != 2),
            orders=held_od.filter(F.col("o_orderkey") % 43 != 2),
        )
        got = (
            spark.read.parquet(pricing_cube_table(spark, work))
            .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
            .toPandas()
        )
        want = (
            spark.read.parquet(pricing_cube_table(spark, truth))
            .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
            .toPandas()
        )
        assert got.equals(want[got.columns.tolist()])


def test_delete_from_dedup_index(spark, tmp_path):
    """A deleted document's rows leave the stored fingerprint index,
    so re-submitted content is 'new' again, not 'dup_index'."""
    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, "fp_a"), (2, "fp_b"), (3, "fp_c")], "doc_id bigint, fp string"
    ).write.parquet(idx)
    n = delete_from_index(spark, idx, [2])
    assert n == 2
    left = {r["doc_id"] for r in spark.read.parquet(idx).collect()}
    assert left == {1, 3}


def test_reingesting_deleted_keys_stays_deleted_everywhere(
    spark, sf_dir, tmp_path
):
    """Round-8 review: a tombstoned key stays deleted — a redelivered
    batch carrying it is filtered before ANY layout sees it, so the
    cube-routed, raw, and verbatim answers keep agreeing (the old code
    let the cube delta-merge count the re-ingested rows while every
    row-level path still subtracted them)."""
    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.sources.bucketed import pricing_cube_table
    from bigdataproj_spark.sources.maintenance import refresh_warehouse

    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    work = _copy(spark, sf_dir, tmp_path / "w", tables)
    truth = _reduced(
        spark, sf_dir, tmp_path / "t",
        {
            **{t: None for t in tables},
            "orders": F.col("o_orderkey") % 47 != 11,
            "lineitem": F.col("l_orderkey") % 47 != 11,
        },
    )
    pricing_cube_table(spark, work)
    dead_orders = table(spark, work, "orders").filter(
        F.col("o_orderkey") % 47 == 11
    )
    dead_li = table(spark, work, "lineitem").filter(
        F.col("l_orderkey") % 47 == 11
    )
    delete_orders(spark, work, dead_orders.select("o_orderkey"))
    # redeliver the deleted rows as an ingest batch
    refresh_warehouse(spark, work, lineitem=dead_li, orders=dead_orders)

    spec = AggQuery(
        filters=(),
        group_by=("l_returnflag", "l_linestatus"),
        aggs=(AggCall("sum", "quantity", "q"), AggCall("count_star", None, "n")),
    )
    routed, chosen = route(spark, work, spec)
    assert chosen == "pricing_cube"
    want, _ = route(spark, truth, spec)
    assert routed.toPandas().equals(want.toPandas())
    # verbatim agrees too
    eng = Engine(spark, work)
    n = eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n == table(spark, truth, "lineitem").count()


class TestExpireEvents:
    CUT = "2024-01-10 00:00:00"

    def _setup(self, spark, sf_dir, tmp_path):
        work = _copy(spark, sf_dir, tmp_path / "w", ("events",))
        truth = _reduced(
            spark, sf_dir, tmp_path / "t",
            {"events": F.col("ts") >= self.CUT},
        )
        return work, truth

    def test_cube_and_raw_equal_reduced_corpus(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.corpus_cubes import events_hourly_cube_table
        from bigdataproj_spark.plans.routing import EVENTS_CUBE_KEYS
        from bigdataproj_spark.sources.retention import expire_events

        work, truth = self._setup(spark, sf_dir, tmp_path)
        events_hourly_cube_table(spark, work)
        done = expire_events(spark, work, "2024-01-10")
        assert "events_hourly_cube" in done
        # monotone: an older cutoff is a no-op
        assert expire_events(spark, work, "2024-01-05") == {}

        est = lambda df: df.withColumn(  # noqa: E731
            "users_hll", F.hll_sketch_estimate("users_hll")
        )
        got = (
            est(spark.read.parquet(events_hourly_cube_table(spark, work)))
            .orderBy(*EVENTS_CUBE_KEYS)
            .toPandas()
        )
        want = (
            est(spark.read.parquet(events_hourly_cube_table(spark, truth)))
            .orderBy(*EVENTS_CUBE_KEYS)
            .toPandas()
        )
        assert got.equals(want[got.columns.tolist()])
        # cube-routed and raw answers agree with the reduced twin
        spec = TableAggQuery(
            "events", (), ("event_type",),
            (AggCall("sum", "value", "total"), AggCall("count_star", None, "n")),
        )
        dfw, cw = route(spark, work, spec)
        dft, _ = route(spark, truth, spec)
        assert cw == "events_hourly_cube"
        assert dfw.toPandas().equals(dft.toPandas())
        raw_spec = TableAggQuery(
            "events", (), ("user_id",),
            (AggCall("count_star", None, "n"),),
        )
        dfr, _cr = route(spark, work, raw_spec)
        dfrt, _ = route(spark, truth, raw_spec)
        assert dfr.toPandas().equals(dfrt.toPandas())

    def test_dated_scan_subtracts_and_late_ingest_is_dropped(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.corpus_cubes import (
            events_hourly_cube_table,
        )
        from bigdataproj_spark.sources.dated import dated_events
        from bigdataproj_spark.sources.maintenance import refresh_warehouse
        from bigdataproj_spark.sources.retention import expire_events

        ev = table(spark, sf_dir, "events")
        held = ev.filter(F.col("event_id") % 6 == 0)
        work = tmp_path / "w"
        work.mkdir()
        ev.filter(F.col("event_id") % 6 != 0).write.parquet(
            str(work / "events.parquet")
        )
        work = str(work)
        dated_events(spark, work)
        events_hourly_cube_table(spark, work)
        expire_events(spark, work, "2024-01-10")
        # ingest a batch straddling the watermark: the pre-cutoff rows
        # are dropped everywhere, consistently
        refresh_warehouse(spark, work, events=held)
        truth = _reduced(
            spark, sf_dir, tmp_path / "t",
            {"events": F.col("ts") >= self.CUT},
        )
        spec = TableAggQuery(
            "events", (), ("event_type",),
            (AggCall("sum", "value", "total"), AggCall("count_star", None, "n")),
        )
        dfw, cw = route(spark, work, spec)
        assert cw == "events_hourly_cube"
        dft, _ = route(spark, truth, spec)
        assert dfw.toPandas().equals(dft.toPandas())
        # day-partitioned scan subtracts too
        sdf, schosen = route_scan(
            spark, work,
            TableScanQuery(
                "events", ("event_id", "ts"),
                (Pred("ts", ">=", "2024-01-01 00:00:00", cast="timestamp"),),
            ),
        )
        assert schosen == "dated_events"
        want = (
            table(spark, truth, "events")
            .select("event_id", "ts")
            .orderBy("event_id")
            .toPandas()
        )
        assert sdf.orderBy("event_id").toPandas().equals(want)

    def test_user_views_and_refusals(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.user_projections import (
            deploy_projection,
            drop_projection,
            list_projections,
        )
        from bigdataproj_spark.sources.retention import expire_events

        work, truth = self._setup(spark, sf_dir, tmp_path)
        deploy_projection(
            spark, work, "t_exp_hour",
            ("event_type",), ("value",), table="events", time_key=("h", "ts"),
        )
        deploy_projection(
            spark, work, "t_exp_flat",
            ("user_id",), ("value",), table="events",
        )
        done = expire_events(spark, work, "2024-01-10")
        assert {"user:t_exp_hour", "user:t_exp_flat"} <= set(done)
        deploy_projection(
            spark, truth, "t_exp_truth",
            ("user_id",), ("value",), table="events",
        )
        paths = {
            p["name"]: p["path"]
            for d in (work, truth)
            for p in list_projections(spark, d)
        }
        got = (
            spark.read.parquet(paths["t_exp_flat"])
            .orderBy("user_id")
            .toPandas()
        )
        want = (
            spark.read.parquet(paths["t_exp_truth"])
            .orderBy("user_id")
            .toPandas()
        )
        assert got.equals(want[got.columns.tolist()])
        for n in ("t_exp_hour", "t_exp_flat"):
            drop_projection(spark, work, n)
        drop_projection(spark, truth, "t_exp_truth")
        with pytest.raises(ValueError, match="hour-boundary"):
            expire_events(spark, work, "2024-01-10 12:30:00")

    def test_optimize_physically_drops_expired_days(
        self, spark, sf_dir, tmp_path
    ):
        import glob

        from bigdataproj_spark.sources.dated import dated_events
        from bigdataproj_spark.sources.maintenance import optimize_warehouse
        from bigdataproj_spark.sources.retention import expire_events

        work, truth = self._setup(spark, sf_dir, tmp_path)
        dated_events(spark, work)
        expire_events(spark, work, "2024-01-10")
        done = optimize_warehouse(spark, work)
        new_path = done["dated_events"]
        days = {
            d.split("event_day_p=")[-1]
            for d in glob.glob(new_path + "/event_day_p=*")
        }
        assert days and min(days) >= "2024-01-10", sorted(days)[:3]
        assert (
            spark.read.parquet(new_path).count()
            == table(spark, truth, "events").count()
        )


def test_expire_events_rejects_calendar_invalid_cutoffs(spark, sf_dir):
    """Shape-valid but calendar-invalid literals must refuse at the
    door — a committed unparseable watermark would error (ANSI) or
    silently empty (non-ANSI) every later events read."""
    from bigdataproj_spark.sources.retention import expire_events

    for bad in ("2024-02-30", "2024-13-01", "2024-01-10 24:00:00"):
        with pytest.raises(ValueError, match="not a valid timestamp"):
            expire_events(spark, sf_dir, bad)
