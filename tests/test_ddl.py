"""E1c (SQL DDL front door) + S16 v3 (corpus user projections).

The contract under test: a view declared as ``CREATE MATERIALIZED
VIEW`` SQL text is indistinguishable — to every later statement — from
one deployed through the API; undeclarable definitions are refused
with a reason, never materialized wrong; and corpus user views carry
the same partial-state/refresh/rebuild-equality guarantees as S16's
lineitem views.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataproj_spark.catalog import table
from bigdataproj_spark.engine import Engine
from bigdataproj_spark.plans.routing import TableAggQuery, route
from bigdataproj_spark.plans.routing import AggCall
from bigdataproj_spark.plans.sqlfront import route_sql
from bigdataproj_spark.sources.user_projections import (
    deploy_projection,
    drop_projection,
    list_projections,
    refresh_projection,
)


@pytest.fixture()
def eng(spark, sf_dir):
    return Engine(spark, sf_dir)


def _own_warehouse(sf_dir, tmp_path) -> str:
    """A warehouse of the test's own over a copy of the fixture files.
    User views are tried in deployment order, so on the shared
    warehouse a view another test left deployed (the registry's q13
    leaves ``user_spend_profile`` on (user_id, event_type)) takes the
    route from a view the test deploys after it."""
    import shutil

    from bigdataproj_spark.catalog import TABLES

    work = tmp_path / "own"
    work.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{sf_dir}/{t}.parquet", work / f"{t}.parquet")
    return str(work)


# (user_id, event_type) over events: the keys of q13's view
_EVENTS_PROFILE = TableAggQuery(
    "events",
    (),
    ("user_id", "event_type"),
    (
        AggCall("sum", "value", "total"),
        AggCall("avg", "value", "avg_v"),
        AggCall("min", "value", "min_v"),
        AggCall("max", "value", "max_v"),
        AggCall("count_star", None, "n"),
    ),
)


from bigdataproj_spark.plans.sqlfront import SUM_SQL  # noqa: E402

_SEL = f"""
SELECT l_returnflag, o_orderstatus,
  {SUM_SQL['revenue']} AS rev,
  COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag, o_orderstatus
ORDER BY l_returnflag, o_orderstatus
"""


class TestLineitemDDL:
    def test_create_then_identical_select_routes(self, eng, spark, sf_dir):
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_flag_status AS "
            f"SELECT l_returnflag, o_orderstatus, {SUM_SQL['revenue']} AS rev, "
            "COUNT(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY l_returnflag, o_orderstatus"
        )
        df, chosen = route_sql(spark, sf_dir, _SEL)
        assert chosen == "user:t_flag_status"
        # bit-identical to the verbatim plan over the raw tables
        want = eng.sql(_SEL, routed=False).toPandas()
        assert df.toPandas().equals(want)
        eng.sql("DROP MATERIALIZED VIEW t_flag_status")

    def test_drop_returns_routing_to_fallback(self, eng, spark, sf_dir):
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_dropme AS "
            "SELECT l_returnflag, o_orderstatus, COUNT(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY l_returnflag, o_orderstatus"
        )
        sel = (
            "SELECT l_returnflag, o_orderstatus, COUNT(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY l_returnflag, o_orderstatus "
            "ORDER BY l_returnflag, o_orderstatus"
        )
        _df, chosen = route_sql(spark, sf_dir, sel)
        assert chosen == "user:t_dropme"
        out = eng.sql("DROP MATERIALIZED VIEW t_dropme")
        assert out.collect()[0]["status"] == "dropped"
        _df, chosen = route_sql(spark, sf_dir, sel)
        assert chosen != "user:t_dropme"

    def test_if_not_exists_is_noop_and_duplicate_errors(self, eng):
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_dup AS "
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
            "GROUP BY l_returnflag"
        )
        out = eng.sql(
            "CREATE MATERIALIZED VIEW IF NOT EXISTS t_dup AS "
            "SELECT l_linestatus, COUNT(*) AS n FROM lineitem "
            "GROUP BY l_linestatus"
        )
        assert out.collect()[0]["status"] == "exists (unchanged)"
        with pytest.raises(ValueError, match="already exists"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_dup AS "
                "SELECT l_linestatus, COUNT(*) AS n FROM lineitem "
                "GROUP BY l_linestatus"
            )
        eng.sql("DROP MATERIALIZED VIEW t_dup")

    def test_show_lists_both_catalogs(self, eng, spark, sf_dir):
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_show_li AS "
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
            "GROUP BY l_returnflag"
        )
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_show_ev AS "
            "SELECT event_type, COUNT(*) AS n FROM events "
            "GROUP BY event_type"
        )
        names = {r["name"] for r in eng.sql("SHOW MATERIALIZED VIEWS").collect()}
        assert {"t_show_li", "t_show_ev"} <= names
        eng.sql("DROP MATERIALIZED VIEW t_show_li")
        eng.sql("DROP MATERIALIZED VIEW t_show_ev")

    def test_or_replace_moves_between_families(self, eng, spark, sf_dir):
        """Redefining a lineitem view as a corpus view must not leave
        a stale twin in the old catalog."""
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_move AS "
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
            "GROUP BY l_returnflag"
        )
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_move AS "
            "SELECT event_type, COUNT(*) AS n FROM events "
            "GROUP BY event_type"
        )
        rows = [
            r
            for r in eng.sql("SHOW MATERIALIZED VIEWS").collect()
            if r["name"] == "t_move"
        ]
        assert len(rows) == 1 and rows[0]["keys"] == "event_type"
        eng.sql("DROP MATERIALIZED VIEW t_move")


class TestDDLRefusals:
    def test_where_clause_refused(self, eng):
        with pytest.raises(ValueError, match="WHERE clause"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_bad AS "
                "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
                "WHERE l_discount < 0.05 GROUP BY l_returnflag"
            )

    def test_count_distinct_refused(self, eng):
        with pytest.raises(ValueError, match="COUNT\\(DISTINCT\\)"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_bad AS "
                "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS d "
                "FROM lineitem GROUP BY l_returnflag"
            )

    def test_trunc_key_refused_for_lineitem(self, eng):
        with pytest.raises(ValueError, match="plain columns"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_bad AS "
                "SELECT date_trunc('month', l_shipdate) AS m, COUNT(*) AS n "
                "FROM lineitem GROUP BY date_trunc('month', l_shipdate)"
            )

    def test_deeper_chain_refused(self, eng):
        with pytest.raises(ValueError, match="orphan-drop"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_bad AS "
                "SELECT o_orderstatus, COUNT(*) AS n FROM lineitem "
                "JOIN orders ON l_orderkey = o_orderkey "
                "JOIN customer ON o_custkey = c_custkey "
                "GROUP BY o_orderstatus"
            )

    def test_unused_arm_refused(self, eng):
        with pytest.raises(ValueError, match="arm join"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_bad AS "
                "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
                "JOIN part ON l_partkey = p_partkey "
                "GROUP BY l_returnflag"
            )

    def test_unknown_column_refused(self, eng):
        with pytest.raises(ValueError, match="not a declarable aggregate"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_bad AS "
                "SELECT nonsense, COUNT(*) AS n FROM lineitem GROUP BY nonsense"
            )

    def test_coarse_time_grain_refused_for_corpus(self, eng):
        with pytest.raises(ValueError, match="HOUR grain"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_bad AS "
                "SELECT date_trunc('day', ts) AS d, COUNT(*) AS n "
                "FROM events GROUP BY date_trunc('day', ts)"
            )

    def test_drop_unknown_errors_unless_if_exists(self, eng):
        with pytest.raises(ValueError, match="no materialized view"):
            eng.sql("DROP MATERIALIZED VIEW t_never_was")
        out = eng.sql("DROP MATERIALIZED VIEW IF EXISTS t_never_was")
        assert out.collect()[0]["status"] == "not found"

    def test_malformed_statement_errors(self, eng):
        with pytest.raises(ValueError, match="malformed"):
            eng.sql("CREATE MATERIALIZED VIEW AS SELECT 1")

    def test_order_by_in_definition_refused(self, eng):
        with pytest.raises(ValueError, match="not part of a view definition"):
            eng.sql(
                "CREATE MATERIALIZED VIEW t_bad AS "
                "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
                "GROUP BY l_returnflag ORDER BY l_returnflag"
            )


def _assert_own_events_view_routes(spark, own):
    """A (user_id, event_type) events view deployed on ``own`` takes
    the route, answers as the raw plan does, and gives the route back
    to the raw plan when dropped."""
    deploy_projection(
        spark, own, "t_user_prof",
        ("user_id", "event_type"), ("value",), table="events",
    )
    df, chosen = route(spark, own, _EVENTS_PROFILE)
    assert chosen == "user:t_user_prof"
    from bigdataproj_spark.plans.routing import _raw_plan

    want = _raw_plan(spark, own, _EVENTS_PROFILE).toPandas()
    assert df.toPandas().equals(want)
    drop_projection(spark, own, "t_user_prof")
    _df, chosen = route(spark, own, _EVENTS_PROFILE)
    assert chosen == "raw"


def _assert_engine_lifecycle(spark, own):
    """Engine.projections lists a view over a corpus table and
    Engine.drop_projection deregisters it: the next routed statement
    falls back."""
    eng = Engine(spark, own)
    sel = (
        "SELECT user_id, event_type, COUNT(*) AS n FROM events "
        "GROUP BY user_id, event_type ORDER BY user_id, event_type"
    )
    eng.deploy_projection(
        "t_eng_ev", ("user_id", "event_type"), ("value",), table="events"
    )
    _df, chosen = route_sql(spark, own, sel)
    assert chosen == "user:t_eng_ev"
    assert "t_eng_ev" in {p["name"] for p in eng.projections()}
    assert eng.drop_projection("t_eng_ev")
    assert "t_eng_ev" not in {p["name"] for p in eng.projections()}
    assert not eng.drop_projection("t_eng_ev")
    _df, chosen = route_sql(spark, own, sel)
    assert chosen != "user:t_eng_ev"


class TestCorpusUserProjections:
    def test_events_user_view_routes_and_matches_raw(
        self, spark, sf_dir, tmp_path
    ):
        _assert_own_events_view_routes(spark, _own_warehouse(sf_dir, tmp_path))

    def test_view_left_by_registry_query_keeps_its_route(
        self, spark, sf_dir, tmp_path
    ):
        """The order that failed: the registry's q13 runs first and
        leaves ``user_spend_profile`` deployed on the shared warehouse,
        where a later view on the same keys loses the route to it.
        The tests that assert their own view's route deploy it on a
        warehouse of their own, where the route is theirs."""
        from bigdataproj_spark.registry import load_all

        load_all()["q13_corpus_user_view_sql"].build(spark, sf_dir)
        deploy_projection(
            spark, sf_dir, "t_late_prof",
            ("user_id", "event_type"), ("value",), table="events",
        )
        try:
            _df, chosen = route(spark, sf_dir, _EVENTS_PROFILE)
        finally:
            drop_projection(spark, sf_dir, "t_late_prof")
        assert chosen == "user:user_spend_profile", chosen
        own = _own_warehouse(sf_dir, tmp_path)
        _assert_own_events_view_routes(spark, own)
        _assert_engine_lifecycle(spark, own)

    def test_dim_attr_keys_build_through_registry_join(self, spark, sf_dir):
        """A view keyed by an S17 dim attribute (s_kind) joins the
        registry at DEPLOY; its content equals grouping the raw
        dim-joined rows."""
        deploy_projection(
            spark, sf_dir, "t_kind_view",
            ("s_kind", "lang"), ("chars", "tokens"), table="documents",
        )
        spec = TableAggQuery(
            "documents",
            (),
            ("s_kind", "lang"),
            (
                AggCall("sum", "chars", "total_chars"),
                AggCall("sum", "tokens", "total_tokens"),
                AggCall("count_star", None, "n"),
            ),
            dims=("sources",),
        )
        # the built-in docs cube claims this statement (it stores the
        # fact key and folds the dim); assert the USER view's direct
        # build agrees with it bit-for-bit
        cat = list_projections(spark, sf_dir)
        u = next(p for p in cat if p["name"] == "t_kind_view")
        assert u["dims"] == ("sources",)
        from bigdataproj_spark.sources.user_projections import (
            _catalog,
        )

        proj = _catalog(spark, sf_dir)["t_kind_view"].projection
        assert proj.subsumes(spec)
        routed, chosen = route(spark, sf_dir, spec)
        assert chosen == "docs_stats_cube"  # built-ins stay first
        mine = proj.build(spark, sf_dir, spec).toPandas()
        assert mine.equals(routed.toPandas())
        drop_projection(spark, sf_dir, "t_kind_view")

    def test_hour_time_key_folds_coarser_grains(self, spark, sf_dir):
        deploy_projection(
            spark, sf_dir, "t_user_hour",
            ("user_id",), ("value",),
            table="events", time_key=("u_hour", "ts"),
        )
        spec = TableAggQuery(
            "events",
            (),
            ("user_id", "m"),
            (AggCall("sum", "value", "total"), AggCall("count_star", None, "n")),
            truncs=(("m", "month", "ts"),),
        )
        df, chosen = route(spark, sf_dir, spec)
        assert chosen == "user:t_user_hour"
        from bigdataproj_spark.plans.routing import _raw_plan

        want = _raw_plan(spark, sf_dir, spec).toPandas()
        assert df.toPandas().equals(want)
        drop_projection(spark, sf_dir, "t_user_hour")

    def test_refresh_rebuild_equal(self, spark, sf_dir, tmp_path):
        """Deploy on a base corpus, delta-merge the held-out batch,
        compare against a from-scratch deploy over the full corpus —
        the standard rebuild-equality gate, including a batch that
        introduces NEW sources (the dim-first ordering)."""
        docs = table(spark, sf_dir, "documents")
        base_dir = tmp_path / "base"
        base_dir.mkdir()
        split = F.col("doc_id") % 4 == 0
        docs.filter(~split).write.parquet(str(base_dir / "documents.parquet"))
        delta = docs.filter(split)
        sf_base = str(base_dir)

        deploy_projection(
            spark, sf_base, "t_rb",
            ("s_kind", "lang"), ("chars", "stopwords"), table="documents",
        )
        from bigdataproj_spark.sources.corpus_cubes import refresh_registry

        refresh_registry(spark, sf_base, "sources", delta)
        refresh_projection(spark, sf_base, "t_rb", delta)
        got = (
            spark.read.parquet(
                next(
                    p["path"]
                    for p in list_projections(spark, sf_base)
                    if p["name"] == "t_rb"
                )
            )
            .orderBy("s_kind", "lang")
            .toPandas()
        )
        deploy_projection(
            spark, sf_dir, "t_rb_full",
            ("s_kind", "lang"), ("chars", "stopwords"), table="documents",
        )
        want = (
            spark.read.parquet(
                next(
                    p["path"]
                    for p in list_projections(spark, sf_dir)
                    if p["name"] == "t_rb_full"
                )
            )
            .orderBy("s_kind", "lang")
            .toPandas()
        )
        assert got.equals(want[got.columns.tolist()])
        drop_projection(spark, sf_base, "t_rb")
        drop_projection(spark, sf_dir, "t_rb_full")

    def test_refresh_warehouse_maintains_corpus_views(
        self, spark, sf_dir, tmp_path
    ):
        """Engine.ingest refreshes deployed corpus views alongside the
        built-ins (dims first)."""
        from bigdataproj_spark.sources.maintenance import refresh_warehouse

        events = table(spark, sf_dir, "events")
        base_dir = tmp_path / "base"
        base_dir.mkdir()
        split = F.col("event_id") % 5 == 0
        events.filter(~split).write.parquet(str(base_dir / "events.parquet"))
        delta = events.filter(split)
        sf_base = str(base_dir)

        deploy_projection(
            spark, sf_base, "t_wh",
            ("user_id",), ("value",), table="events",
        )
        done = refresh_warehouse(spark, sf_base, events=delta)
        assert "user:t_wh" in done
        spec = TableAggQuery(
            "events", (), ("user_id",),
            (AggCall("sum", "value", "total"), AggCall("count_star", None, "n")),
        )
        df, chosen = route(spark, sf_base, spec)
        assert chosen == "user:t_wh"
        total_n = df.agg(F.sum("n").alias("n")).collect()[0]["n"]
        assert total_n == events.count()
        drop_projection(spark, sf_base, "t_wh")


class TestReviewRegressions:
    def test_or_replace_with_invalid_definition_keeps_old_view(
        self, eng, spark, sf_dir
    ):
        """A refused OR REPLACE redefinition must leave the serving
        view untouched (round-8 review: the old code dropped the entry
        before validating the new definition)."""
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_keepme AS "
            "SELECT o_orderstatus, l_returnflag, COUNT(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderstatus, l_returnflag"
        )
        with pytest.raises(ValueError, match="WHERE clause"):
            eng.sql(
                "CREATE OR REPLACE MATERIALIZED VIEW t_keepme AS "
                "SELECT l_linestatus, COUNT(*) AS n FROM lineitem "
                "WHERE l_discount < 0.05 GROUP BY l_linestatus"
            )
        rows = [
            r
            for r in eng.sql("SHOW MATERIALIZED VIEWS").collect()
            if r["name"] == "t_keepme"
        ]
        assert len(rows) == 1 and rows[0]["keys"] == "o_orderstatus,l_returnflag"
        sel = (
            "SELECT o_orderstatus, l_returnflag, COUNT(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderstatus, l_returnflag "
            "ORDER BY o_orderstatus, l_returnflag"
        )
        _df, chosen = route_sql(spark, sf_dir, sel)
        assert chosen == "user:t_keepme"
        eng.sql("DROP MATERIALIZED VIEW t_keepme")

    def test_show_carries_corpus_metadata(self, eng):
        eng.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW t_show_meta AS "
            "SELECT user_id, date_trunc('hour', ts) AS h, COUNT(*) AS n "
            "FROM events GROUP BY user_id, date_trunc('hour', ts)"
        )
        row = next(
            r
            for r in eng.sql("SHOW MATERIALIZED VIEWS").collect()
            if r["name"] == "t_show_meta"
        )
        assert row["table_name"] == "events"
        assert row["time_key"] == "h=hour(ts)"
        eng.sql("DROP MATERIALIZED VIEW t_show_meta")

    def test_engine_facade_accepts_corpus_time_key(self, eng, spark, sf_dir):
        eng.deploy_projection(
            "t_facade_hour", ("user_id",), ("value",),
            table="events", time_key=("u_hour", "ts"),
        )
        from bigdataproj_spark.sources.user_projections import (
            list_projections,
        )

        u = next(
            p
            for p in list_projections(spark, sf_dir)
            if p["name"] == "t_facade_hour"
        )
        assert u["time_key"] == ("u_hour", "ts")
        assert eng.drop_projection("t_facade_hour")
        with pytest.raises(ValueError, match="corpus-table projections only"):
            eng.deploy_projection(
                "t_bad", ("l_returnflag",), time_key=("x", "l_shipdate")
            )

    def test_engine_lifecycle_covers_corpus_views(self, spark, sf_dir, tmp_path):
        _assert_engine_lifecycle(spark, _own_warehouse(sf_dir, tmp_path))

    def test_one_name_is_one_view_across_tables(self, eng):
        """Deploying a name a lineitem view holds as a corpus view
        through the Python API replaces it (the DDL path already did):
        SHOW lists one row, and after DROP none."""
        eng.deploy_projection("t_twin", ("l_returnflag",))
        eng.deploy_projection("t_twin", ("event_type",), table="events")

        def rows():
            return [
                r
                for r in eng.sql("SHOW MATERIALIZED VIEWS").collect()
                if r["name"] == "t_twin"
            ]

        assert len(rows()) == 1 and rows()[0]["table_name"] == "events"
        eng.sql("DROP MATERIALIZED VIEW t_twin")
        assert rows() == []


class TestDeleteDML:
    def test_delete_statement_propagates(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.catalog import table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        n0 = e.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
        out = e.sql("DELETE FROM documents WHERE doc_id IN (3, 4, 5)")
        row = out.collect()[0]
        assert row["table_name"] == "documents" and row["n_keys"] == 3
        n1 = e.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
        assert n1 == n0 - 3
        # single-key form, orders (cascades)
        li0 = e.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
        dead_li = (
            _table(spark, str(work), "lineitem")
            .filter(F.col("l_orderkey") == 11)
            .count()
        )
        e.sql("DELETE FROM orders WHERE o_orderkey = 11")
        li1 = e.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
        assert li1 == li0 - dead_li

    def test_delete_refusals(self, eng):
        # round 10 widened WHERE to AND-conjunctions; OR stays refused
        with pytest.raises(ValueError, match="unsupported OR"):
            eng.sql(
                "DELETE FROM documents WHERE lang = 'en' OR n_chars < 10"
            )
        # lineitem rows are deleted by their order (cascade), never
        # directly
        with pytest.raises(ValueError, match="unsupported DELETE form"):
            eng.sql("DELETE FROM lineitem WHERE l_orderkey = 1")
        # IN lists are the tombstone-key grammar; a non-key IN is not a
        # lowerable predicate either
        with pytest.raises(ValueError, match="must key on"):
            eng.sql("DELETE FROM orders WHERE o_custkey IN (1, 2)")
        # events are retained by TIME, not key lists
        with pytest.raises(ValueError, match="time-based"):
            eng.sql("DELETE FROM events WHERE event_id IN (1, 2)")
        # sub-hour cutoffs propagate expire_events' own refusal
        with pytest.raises(ValueError, match="hour-boundary"):
            eng.sql("DELETE FROM events WHERE ts < '2024-01-10 00:30:00'")
        # unknown column on a predicate delete
        with pytest.raises(ValueError, match="unknown column"):
            eng.sql("DELETE FROM documents WHERE nchars < 10")


class TestDMLRound9:
    """E1d INSERT + the predicate DELETE lowerings (r8-VERDICT items
    2-3): the DML trio through Engine.sql, each form lowered onto the
    existing maintenance machinery, undeliverable forms refused."""

    def _sandbox(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.catalog import table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        return Engine(spark, str(work))

    def test_insert_values_and_select_append_everywhere(
        self, spark, sf_dir, tmp_path
    ):
        """Both INSERT forms land in one refresh_warehouse batch each:
        the routed path, the verbatim view, and a scan all describe
        base + both deltas afterwards."""
        e = self._sandbox(spark, sf_dir, tmp_path)
        n0 = e.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
        out = e.sql(
            "INSERT INTO documents (doc_id, text, lang, source, n_chars) "
            "VALUES (900000001, 'abc', 'en', 'src91', 3), "
            "(900000002, 'defg', 'fr', 'src92', 4)"
        ).collect()[0]
        assert out["n_rows"] == 2 and out["layouts_refreshed"] > 0
        e.sql(
            "INSERT INTO documents SELECT doc_id + 5000000 AS doc_id, text, "
            "lang, 'src93' AS source, n_chars FROM documents "
            "WHERE doc_id % 100 = 0 AND doc_id < 1000000"
        )
        mirrored = (
            e.table("documents")
            .filter((F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 1000000))
            .count()
        )
        n1 = e.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
        assert n1 == n0 + 2 + mirrored
        # routed aggregate agrees with the verbatim path over base+delta
        routed = e.sql(
            "SELECT lang, COUNT(*) AS n FROM documents "
            "GROUP BY lang ORDER BY lang"
        ).toPandas()
        verbatim = e.sql(
            "SELECT lang, COUNT(*) AS n FROM documents "
            "GROUP BY lang ORDER BY lang",
            routed=False,
        ).toPandas()
        assert routed.equals(verbatim)
        # the literal rows are really there, typed per the fixture
        got = e.sql(
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE doc_id = 900000002", routed=False
        ).collect()
        assert [(r.doc_id, r.lang, r.n_chars) for r in got] == [
            (900000002, "fr", 4)
        ]

    def test_insert_column_order_free_but_full_set_required(
        self, spark, sf_dir, tmp_path
    ):
        e = self._sandbox(spark, sf_dir, tmp_path)
        # permuted column list binds by name
        e.sql(
            "INSERT INTO documents (n_chars, source, lang, text, doc_id) "
            "VALUES (5, 'src94', 'de', 'hallo', 900000003)"
        )
        got = e.sql(
            "SELECT text, n_chars FROM documents WHERE doc_id = 900000003",
            routed=False,
        ).collect()
        assert [(r.text, r.n_chars) for r in got] == [("hallo", 5)]

    def test_insert_refusals(self, eng):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="unknown column"):
            eng.sql(
                "INSERT INTO documents (doc_id, wrong_col, lang, source, "
                "n_chars) VALUES (1, 'x', 'en', 'src1', 1)"
            )
        with _pytest.raises(ValueError, match="missing"):
            eng.sql("INSERT INTO documents (doc_id) VALUES (1)")
        with _pytest.raises(ValueError, match="duplicate column"):
            eng.sql(
                "INSERT INTO documents (doc_id, doc_id, text, lang, source, "
                "n_chars) VALUES (1, 1, 'x', 'en', 'src1', 1)"
            )
        with _pytest.raises(ValueError, match="expected"):
            eng.sql("INSERT INTO documents SELECT doc_id FROM documents")
        # a non-fact table is NOT claimed: the statement falls through
        # to the verbatim path (Spark then errors its own way on a
        # temp view, or serves a user catalog table's native INSERT)
        from bigdataproj_spark.plans.ddl import try_ddl

        assert try_ddl(eng.spark, eng.sf_dir,
                       "INSERT INTO customer VALUES (1)") is None

    def test_predicate_delete_lowers_and_is_idempotent(
        self, spark, sf_dir, tmp_path
    ):
        e = self._sandbox(spark, sf_dir, tmp_path)
        want_alive = (
            e.table("documents").filter(~(F.col("n_chars") > 4000)).count()
        )
        e.sql("DELETE FROM documents WHERE n_chars > 4000")
        n1 = e.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
        assert n1 == want_alive
        e.sql("DELETE FROM documents WHERE n_chars > 4000")  # no-op
        n2 = e.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
        assert n2 == want_alive

    def test_predicate_delete_on_orders_cascades(self, spark, sf_dir, tmp_path):
        e = self._sandbox(spark, sf_dir, tmp_path)
        dead_orders = e.table("orders").filter(F.col("o_custkey") == 1)
        dead_li = (
            e.table("lineitem")
            .join(dead_orders.select("o_orderkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"), "semi")
            .count()
        )
        li0 = e.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
        e.sql("DELETE FROM orders WHERE o_custkey = 1")
        li1 = e.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
        assert li1 == li0 - dead_li

    def test_expire_dml_lowers_onto_watermark(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.retention import event_watermark

        e = self._sandbox(spark, sf_dir, tmp_path)
        want = (
            e.table("events")
            .filter(F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
            .count()
        )
        e.sql("DELETE FROM events WHERE ts < '2024-01-08'")
        assert event_watermark(spark, e.sf_dir) == "2024-01-08 00:00:00"
        n = e.sql("SELECT count(*) AS n FROM events").collect()[0]["n"]
        assert n == want
        # TIMESTAMP-keyword spelling and monotone no-op
        e.sql("DELETE FROM events WHERE ts < TIMESTAMP '2024-01-05 00:00:00'")
        assert event_watermark(spark, e.sf_dir) == "2024-01-08 00:00:00"


class TestPredicateDeleteDifferential:
    """Differential check of the predicate-DELETE lowering across
    literal types and operators: engine delete through SQL text, then
    the routed profile must equal recomputing over the fixture with
    the predicate negated (never-had-those-rows equivalence)."""

    @pytest.mark.parametrize(
        "pred,col,op,lit",
        [
            ("lang = 'de'", "lang", "==", "de"),
            ("n_chars <= 200", "n_chars", "<=", 200),
            ("doc_id > 400", "doc_id", ">", 400),
            ("source <> 'src3'", "source", "!=", "src3"),
        ],
    )
    def test_predicate_forms(self, spark, sf_dir, tmp_path, pred, col, op, lit):
        from bigdataproj_spark.catalog import table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        e.sql(f"DELETE FROM documents WHERE {pred}")
        got = e.sql(
            "SELECT lang, COUNT(*) AS n FROM documents "
            "GROUP BY lang ORDER BY lang"
        ).toPandas()
        import operator as _op

        ops = {"==": _op.eq, "<=": _op.le, ">": _op.gt, "!=": _op.ne}
        want = (
            _table(spark, sf_dir, "documents")
            .filter(~ops[op](F.col(col), F.lit(lit)))
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang").toPandas()
        )
        assert got.equals(want), f"mismatch for {pred}"


class TestInsertOtherFactTables:
    """E1d across the remaining fact tables: events (the TIMESTAMP
    literal path — the fixture's nanos quirk must not leak into the
    statement surface) and a NEW ORDER arriving as the natural
    two-statement sequence (orders first, then its lineitems — the
    same dimension-first ordering refresh_warehouse encodes)."""

    def _sandbox(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.catalog import table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        return Engine(spark, str(work))

    def test_insert_events_timestamp_literal(self, spark, sf_dir, tmp_path):
        e = self._sandbox(spark, sf_dir, tmp_path)
        n0 = e.sql("SELECT count(*) AS n FROM events").collect()[0]["n"]
        e.sql(
            "INSERT INTO events (event_id, ts, user_id, event_type, value, "
            "props) VALUES "
            "(900000001, TIMESTAMP '2024-02-01 10:30:00', 7, 'click', 1.5, "
            "'{}'), "
            "(900000002, TIMESTAMP '2024-02-01 11:00:00', 7, 'purchase', "
            "99.25, '{}')"
        )
        n1 = e.sql("SELECT count(*) AS n FROM events").collect()[0]["n"]
        assert n1 == n0 + 2
        got = e.sql(
            "SELECT event_id, ts, value FROM events "
            "WHERE event_id = 900000002", routed=False
        ).collect()[0]
        assert str(got.ts) == "2024-02-01 11:00:00"
        assert got.value == 99.25
        # the routed hourly path counts them too
        hourly = e.sql(
            "SELECT COUNT(*) AS n FROM events"
        ).collect()[0]["n"]
        assert hourly == n1

    def test_new_order_as_two_insert_statements(self, spark, sf_dir, tmp_path):
        e = self._sandbox(spark, sf_dir, tmp_path)
        rev0 = e.sql(
            "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) "
            "AS DOUBLE) AS rev FROM lineitem"
        ).collect()[0]["rev"]
        e.sql(
            "INSERT INTO orders VALUES (900000001, 1, 'O', 3000.0, "
            "TIMESTAMP '1996-06-15 00:00:00', '1-URGENT')"
        )
        e.sql(
            "INSERT INTO lineitem VALUES "
            "(900000001, 1, 1, 1, 10.0, 1000.0, 0.0, 0.05, 'N', 'O', "
            "TIMESTAMP '1996-06-20 00:00:00'), "
            "(900000001, 2, 2, 2, 20.0, 2000.0, 0.10, 0.02, 'N', 'O', "
            "TIMESTAMP '1996-06-25 00:00:00')"
        )
        rev1 = e.sql(
            "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) "
            "AS DOUBLE) AS rev FROM lineitem"
        ).collect()[0]["rev"]
        assert abs(rev1 - (rev0 + 1000.0 + 1800.0)) < 1e-6
        # the new order joins through the maintained star: routed and
        # verbatim agree on a per-status rollup including it
        sql = (
            "SELECT o_orderstatus, COUNT(*) AS n FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
        assert e.sql(sql).toPandas().equals(
            e.sql(sql, routed=False).toPandas()
        )
        # and a later DELETE of that order cascades both lineitems away
        e.sql("DELETE FROM orders WHERE o_orderkey = 900000001")
        n = e.sql(
            "SELECT count(*) AS n FROM lineitem WHERE l_orderkey = 900000001",
            routed=False,
        ).collect()[0]["n"]
        assert n == 0


class TestUpdateDML:
    """E1e: UPDATE orders through the SQL front door (S21 underneath)."""

    def test_update_keylist_and_predicate_forms(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.catalog import table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        out = e.sql(
            "UPDATE orders SET o_orderpriority = '9-X', o_orderstatus = 'X' "
            "WHERE o_orderkey IN (1, 2, 3)"
        ).collect()[0]
        assert out["n_rows"] >= 1 and out["layouts_refreshed"] > 0
        got = e.sql(
            "SELECT o_orderpriority, o_orderstatus FROM orders "
            "WHERE o_orderkey = 1", routed=False
        ).collect()[0]
        assert (got.o_orderpriority, got.o_orderstatus) == ("9-X", "X")
        # predicate form + idempotent re-issue (no rows still match)
        n1 = e.sql(
            "UPDATE orders SET o_orderstatus = 'Y' WHERE o_orderstatus = 'X'"
        ).collect()[0]["n_rows"]
        assert n1 == 3
        n2 = e.sql(
            "UPDATE orders SET o_orderstatus = 'Y' WHERE o_orderstatus = 'X'"
        ).collect()[0]["n_rows"]
        assert n2 == 0

    def test_conjunction_where_and_arithmetic_set(
        self, spark, sf_dir, tmp_path
    ):
        """Round 10 (r9-VERDICT item 4): AND-conjunction predicates
        and row-column-arithmetic SETs, with simultaneous-assignment
        semantics — every SET right-hand side sees the PRE-update row,
        even when one item sets a column another item reads."""
        from bigdataproj_spark.catalog import TABLES, table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in TABLES:
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        before = {
            r.o_orderkey: (r.o_custkey, r.o_totalprice)
            for r in e.sql(
                "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                "WHERE o_orderkey <= 10 AND o_orderkey >= 1", routed=False
            ).collect()
        }
        n = e.sql(
            "UPDATE orders SET o_custkey = o_custkey + 1, "
            "o_totalprice = o_totalprice + o_custkey "
            "WHERE o_orderkey <= 10 AND o_orderkey >= 1 "
            "AND o_orderstatus <> 'zzz'"
        ).collect()[0]["n_rows"]
        assert n == len(before)
        after = {
            r.o_orderkey: (r.o_custkey, r.o_totalprice)
            for r in e.sql(
                "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                "WHERE o_orderkey <= 10 AND o_orderkey >= 1", routed=False
            ).collect()
        }
        for k, (ck, tp) in before.items():
            # o_totalprice used the OLD o_custkey (simultaneous
            # assignment), not the incremented one
            assert after[k] == (ck + 1, tp + ck), k

    def test_conjunction_predicate_delete(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.catalog import TABLES, table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in TABLES:
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        expect = e.sql(
            "SELECT COUNT(*) AS n FROM documents "
            "WHERE NOT (lang = 'en' AND n_chars < 400)", routed=False
        ).collect()[0].n
        e.sql("DELETE FROM documents WHERE lang = 'en' AND n_chars < 400")
        got = e.sql(
            "SELECT COUNT(*) AS n FROM documents", routed=False
        ).collect()[0].n
        assert got == expect
        with pytest.raises(ValueError, match="unsupported OR"):
            e.sql("DELETE FROM documents WHERE lang = 'en' OR lang = 'fr'")

    def test_quoted_keywords_never_missplit(self, spark, sf_dir, tmp_path):
        """String literals containing WHERE / AND / commas / escaped
        quotes are DATA to the quote-aware SET/WHERE scanners — the
        statement parses and the exact bytes land."""
        from bigdataproj_spark.catalog import TABLES, table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in TABLES:
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        tricky = "A AND B, WHERE 'x' OR ;"
        n = e.sql(
            "UPDATE orders SET o_orderpriority = "
            "'A AND B, WHERE ''x'' OR ;', o_orderstatus = 'K' "
            "WHERE o_orderkey IN (1)"
        ).collect()[0]["n_rows"]
        assert n == 1
        got = e.sql(
            "SELECT o_orderpriority, o_orderstatus FROM orders "
            "WHERE o_orderkey = 1", routed=False
        ).collect()[0]
        assert (got.o_orderpriority, got.o_orderstatus) == (tricky, "K")
        # a conjunction whose literals contain AND still splits right
        n2 = e.sql(
            "UPDATE orders SET o_orderstatus = 'L' "
            "WHERE o_orderpriority = 'A AND B, WHERE ''x'' OR ;' "
            "AND o_orderkey <= 1"
        ).collect()[0]["n_rows"]
        assert n2 == 1
        # predicate DELETE: a literal containing AND is one comparison
        out = e.sql(
            "DELETE FROM documents WHERE source = 'no AND such'"
        ).collect()[0]
        assert out["table_name"] == "documents"

    def test_comments_never_missplit_dml(self, spark, sf_dir, tmp_path):
        """Round 11 (round-10 ADVICE item 4): the SET/WHERE keyword
        scans share the engine's quote+comment mask — a ``--`` or
        ``/* */`` comment containing WHERE or AND inside an
        UPDATE/DELETE is non-code, never a split point."""
        from bigdataproj_spark.catalog import TABLES, table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in TABLES:
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        n = e.sql(
            "UPDATE orders SET o_orderstatus = 'C' -- not a WHERE AND\n"
            "WHERE o_orderkey IN (1)"
        ).collect()[0]["n_rows"]
        assert n == 1
        n2 = e.sql(
            "UPDATE orders /* WHERE o_orderkey = 2 AND x */ "
            "SET o_orderstatus = 'D' WHERE o_orderkey = 1 "
            "AND o_orderstatus = 'C'"
        ).collect()[0]["n_rows"]
        assert n2 == 1
        got = e.sql(
            "SELECT o_orderstatus FROM orders WHERE o_orderkey = 1",
            routed=False,
        ).collect()[0].o_orderstatus
        assert got == "D"
        out = e.sql(
            "DELETE FROM documents -- WHERE lang = 'fr' AND\n"
            "WHERE doc_id = 4"
        ).collect()[0]
        assert out["table_name"] == "documents"

    def test_update_refusals(self, eng):
        with pytest.raises(ValueError, match="immutable by key"):
            eng.sql("UPDATE documents SET lang = 'en' WHERE doc_id = 1")
        with pytest.raises(ValueError, match="append-only"):
            eng.sql("UPDATE events SET value = 1 WHERE event_id = 1")
        with pytest.raises(ValueError, match="append-only|through their order"):
            eng.sql("UPDATE lineitem SET l_discount = 0 WHERE l_orderkey = 1")
        with pytest.raises(ValueError, match="identity"):
            eng.sql("UPDATE orders SET o_orderkey = 5 WHERE o_orderkey = 1")
        with pytest.raises(ValueError, match="unknown column"):
            eng.sql("UPDATE orders SET o_nope = 1 WHERE o_orderkey = 1")
        # round 10: the grammar widened to AND-conjunctions and
        # arithmetic SETs; the refusal line moved with it
        with pytest.raises(ValueError, match="unsupported OR"):
            eng.sql(
                "UPDATE orders SET o_orderstatus = 'X' "
                "WHERE o_orderstatus = 'O' OR o_totalprice > 10"
            )
        with pytest.raises(ValueError, match="BETWEEN"):
            eng.sql(
                "UPDATE orders SET o_orderstatus = 'X' "
                "WHERE o_totalprice BETWEEN 10 AND 20"
            )
        with pytest.raises(ValueError, match="parenthesized"):
            eng.sql(
                "UPDATE orders SET o_orderstatus = 'X' "
                "WHERE (o_orderstatus = 'O') AND (o_totalprice > 10)"
            )
        with pytest.raises(ValueError, match="function calls are not"):
            eng.sql(
                "UPDATE orders SET o_totalprice = round(o_totalprice) "
                "WHERE o_orderkey = 1"
            )
        with pytest.raises(ValueError, match="without WHERE"):
            eng.sql("UPDATE orders SET o_orderstatus = 'X'")
        with pytest.raises(ValueError, match="duplicate SET target"):
            eng.sql(
                "UPDATE orders SET o_orderstatus = 'X', "
                "o_orderstatus = 'Y' WHERE o_orderkey = 1"
            )


class TestMergeDML:
    """E1f: MERGE INTO through the SQL front door — the CDC upsert
    verb, lowered onto refresh_warehouse (S21 reattribution under
    matched-row replacement; S19 tombstones under the insert side)."""

    def _sandbox(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.catalog import table as _table

        work = tmp_path / "w"
        work.mkdir()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        return Engine(spark, str(work))

    def test_upsert_both_clauses_and_cube_consistency(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.bucketed import segment_cube_table

        e = self._sandbox(spark, sf_dir, tmp_path)
        segment_cube_table(spark, e.sf_dir)
        out = e.sql(
            "MERGE INTO orders AS t USING ("
            "  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
            "    o_orderdate, '9-M' AS o_orderpriority"
            "  FROM orders WHERE o_orderkey IN (1, 2, 3)"
            "  UNION ALL"
            "  SELECT CAST(900000001 AS BIGINT), CAST(1 AS BIGINT), 'O',"
            "    CAST(50.0 AS DOUBLE), TIMESTAMP '1996-01-02 00:00:00', '9-M'"
            ") AS s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        assert (out.n_matched, out.n_inserted, out.table_name) == (
            3, 1, "orders",
        )
        got = e.sql(
            "SELECT o_orderpriority FROM orders WHERE o_orderkey IN "
            "(1, 900000001)", routed=False,
        ).collect()
        assert {r.o_orderpriority for r in got} == {"9-M"}
        # routed (cube) and verbatim agree after the matched-row
        # replacement moved lineitems between priority groups
        sql = (
            "SELECT c_mktsegment, o_orderpriority, "
            f"{SUM_SQL['revenue']} AS rev, COUNT(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY c_mktsegment, o_orderpriority "
            "ORDER BY c_mktsegment, o_orderpriority"
        )
        df, chosen = route_sql(spark, e.sf_dir, sql)
        assert chosen == "segment_cube"
        assert df.toPandas().equals(e.sql(sql, routed=False).toPandas())

    def test_update_only_and_insert_only_forms(self, spark, sf_dir, tmp_path):
        e = self._sandbox(spark, sf_dir, tmp_path)
        # update-only merge, column-level SET, differently-named
        # source key, VALUES source
        out = e.sql(
            "MERGE INTO orders USING (VALUES "
            "(CAST(1 AS BIGINT), 'X'), (CAST(999999999 AS BIGINT), 'X')"
            ") AS s(k, st) ON o_orderkey = s.k "
            "WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st"
        ).collect()[0]
        assert (out.n_matched, out.n_inserted) == (1, 0)
        r = e.sql(
            "SELECT o_orderstatus, o_orderpriority FROM orders "
            "WHERE o_orderkey = 1", routed=False,
        ).collect()[0]
        assert r.o_orderstatus == "X"
        # the untouched columns survived a column-level SET
        assert r.o_orderpriority is not None
        # insert-only merge on orders: matched source rows do nothing
        out2 = e.sql(
            "MERGE INTO orders USING ("
            "  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
            "    o_orderdate, o_orderpriority FROM orders"
            "  WHERE o_orderkey IN (1, 2)"
            ") s ON o_orderkey = s.o_orderkey "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        assert (out2.n_matched, out2.n_inserted) == (0, 0)

    def test_documents_insert_if_absent_and_no_resurrection(
        self, spark, sf_dir, tmp_path
    ):
        e = self._sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (7)")
        out = e.sql(
            "MERGE INTO documents USING ("
            "  SELECT CAST(7 AS BIGINT) AS doc_id, 'zombie' AS text,"
            "    'en' AS lang, 'src1' AS source, CAST(6 AS BIGINT) AS n_chars"
            "  UNION ALL"
            "  SELECT CAST(900000002 AS BIGINT), 'fresh', 'en', 'src1',"
            "    CAST(5 AS BIGINT)"
            ") s ON doc_id = s.doc_id "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        # the tombstoned id is NOT counted as inserted and stays dead
        assert (out.n_matched, out.n_inserted) == (0, 1)
        n = e.sql(
            "SELECT COUNT(*) AS n FROM documents WHERE doc_id IN (7)",
            routed=False,
        ).collect()[0].n
        assert n == 0
        # redelivering the batch is idempotent
        out2 = e.sql(
            "MERGE INTO documents USING ("
            "  SELECT CAST(900000002 AS BIGINT) AS doc_id, 'fresh' AS text,"
            "    'en' AS lang, 'src1' AS source, CAST(5 AS BIGINT) AS n_chars"
            ") s ON doc_id = s.doc_id "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        assert (out2.n_matched, out2.n_inserted) == (0, 0)

    def test_cdc_changelog_apply(self, spark, sf_dir, tmp_path):
        """Round 11 (r10-VERDICT item 2): the canonical CDC shape —
        ONE statement applies a changelog's deletes, updates, and
        inserts, first-true-wins per matched row, committed as ONE
        'merge orders' version."""
        e = self._sandbox(spark, sf_dir, tmp_path)
        out = e.sql(
            "MERGE INTO orders AS t USING ("
            "  SELECT o_orderkey, o_custkey, o_orderstatus,"
            "    o_totalprice, o_orderdate, o_orderpriority, 'D' AS op"
            "  FROM orders WHERE o_orderkey = 1"
            "  UNION ALL"
            "  SELECT o_orderkey, o_custkey, o_orderstatus,"
            "    o_totalprice, o_orderdate, '9-CDC', 'U'"
            "  FROM orders WHERE o_orderkey = 2"
            "  UNION ALL"
            "  SELECT CAST(900000011 AS BIGINT), CAST(1 AS BIGINT),"
            "    'O', CAST(10.0 AS DOUBLE),"
            "    TIMESTAMP '1996-01-02 00:00:00', '9-CDC', 'I'"
            "  UNION ALL"
            "  SELECT CAST(900000012 AS BIGINT), CAST(1 AS BIGINT),"
            "    'O', CAST(10.0 AS DOUBLE),"
            "    TIMESTAMP '1996-01-02 00:00:00', '9-CDC', 'D'"
            ") AS s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED AND s.op = 'D' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *"
        ).collect()[0]
        # key 1 deleted, key 2 updated, 900000011 inserted; the
        # absent-key delete (900000012, op='D') is a no-op by the
        # insert clause's predicate — exactly a changelog's semantics
        assert (out.n_matched, out.n_inserted, out.n_deleted) == (1, 1, 1)
        assert (
            e.sql("DESCRIBE HISTORY").collect()[-1].note == "merge orders"
        )
        rows = {
            r.o_orderkey: r.o_orderpriority
            for r in e.sql(
                "SELECT o_orderkey, o_orderpriority FROM orders "
                "WHERE o_orderkey IN (1, 2, 900000011, 900000012)",
                routed=False,
            ).collect()
        }
        assert set(rows) == {2, 900000011}
        assert rows[2] == rows[900000011] == "9-CDC"
        # the deleted order's lineitems cascaded (S19 machinery)
        n_li = e.sql(
            "SELECT COUNT(*) AS n FROM lineitem WHERE l_orderkey = 1",
            routed=False,
        ).collect()[0].n
        assert n_li == 0
        # and the change feed sees all three change kinds in ONE commit
        v = e.history().collect()[-1].version
        kinds = {
            r._change_type
            for r in e.table_changes("orders", 0, v).collect()
        }
        assert kinds == {
            "insert", "delete", "update_preimage", "update_postimage",
        }

    def test_matched_predicate_routes_on_target_row(
        self, spark, sf_dir, tmp_path
    ):
        """A MATCHED predicate over the STORED row: only rows passing
        it update; the rest stay untouched (no clause fires)."""
        e = self._sandbox(spark, sf_dir, tmp_path)
        out = e.sql(
            "MERGE INTO orders USING ("
            "  SELECT o_orderkey, o_custkey, o_orderstatus,"
            "    o_totalprice, o_orderdate, '9-PRED' AS o_orderpriority"
            "  FROM orders WHERE o_orderkey IN (1, 2, 3)"
            ") s ON o_orderkey = s.o_orderkey "
            "WHEN MATCHED AND o_orderkey <= 2 THEN UPDATE SET *"
        ).collect()[0]
        assert (out.n_matched, out.n_deleted) == (2, 0)
        rows = {
            r.o_orderkey: r.o_orderpriority
            for r in e.sql(
                "SELECT o_orderkey, o_orderpriority FROM orders "
                "WHERE o_orderkey IN (1, 2, 3)", routed=False,
            ).collect()
        }
        assert rows[1] == rows[2] == "9-PRED"
        assert rows[3] != "9-PRED"

    def test_matched_predicate_literal_containing_then(
        self, spark, sf_dir, tmp_path
    ):
        """A clause predicate ENDING in a string literal that contains
        the word THEN must not be truncated at the literal (round-11
        ADVICE item 4): the clause regexes scan the quote-masked text
        for the real THEN keyword and slice the raw predicate span."""
        e = self._sandbox(spark, sf_dir, tmp_path)
        out = e.sql(
            "MERGE INTO orders USING ("
            "  SELECT o_orderkey, o_custkey, o_orderstatus,"
            "    o_totalprice, o_orderdate, 'X THEN Y' AS o_orderpriority"
            "  FROM orders WHERE o_orderkey IN (1, 2)"
            ") s ON o_orderkey = s.o_orderkey "
            "WHEN MATCHED AND s.o_orderpriority = 'X THEN Y' "
            "THEN UPDATE SET *"
        ).collect()[0]
        assert (out.n_matched, out.n_deleted) == (2, 0)
        rows = {
            r.o_orderkey: r.o_orderpriority
            for r in e.sql(
                "SELECT o_orderkey, o_orderpriority FROM orders "
                "WHERE o_orderkey IN (1, 2)", routed=False,
            ).collect()
        }
        assert rows[1] == rows[2] == "X THEN Y"

    def test_by_source_prune_and_documents_matched_delete(
        self, spark, sf_dir, tmp_path
    ):
        """WHEN NOT MATCHED BY SOURCE THEN DELETE prunes stored keys
        the batch does not carry; MERGE INTO documents supports the
        DELETE clauses (the erasure verb by batch) while MATCHED
        UPDATE stays refused."""
        e = self._sandbox(spark, sf_dir, tmp_path)
        n_low = e.sql(
            "SELECT COUNT(*) AS n FROM documents WHERE doc_id <= 10 "
            "AND lang = 'en'", routed=False,
        ).collect()[0].n
        n_all = e.sql(
            "SELECT COUNT(*) AS n FROM documents", routed=False
        ).collect()[0].n
        assert n_low >= 1
        out = e.sql(
            "MERGE INTO documents USING ("
            "  SELECT doc_id, text, lang, source, n_chars "
            "  FROM documents WHERE doc_id > 10"
            ") s ON doc_id = s.doc_id "
            "WHEN NOT MATCHED BY SOURCE AND lang = 'en' THEN DELETE"
        ).collect()[0]
        assert out.n_deleted == n_low
        assert (
            e.sql("DESCRIBE HISTORY").collect()[-1].note
            == "merge documents"
        )
        got = e.sql(
            "SELECT COUNT(*) AS n FROM documents", routed=False
        ).collect()[0].n
        assert got == n_all - n_low
        # matched DELETE on documents (CDC erasure by batch)
        out2 = e.sql(
            "MERGE INTO documents USING ("
            "  SELECT doc_id, text, lang, source, n_chars "
            "  FROM documents WHERE doc_id IN (11, 12)"
            ") s ON doc_id = s.doc_id WHEN MATCHED THEN DELETE"
        ).collect()[0]
        assert out2.n_deleted == 2
        n11 = e.sql(
            "SELECT COUNT(*) AS n FROM documents WHERE doc_id IN (11, 12)",
            routed=False,
        ).collect()[0].n
        assert n11 == 0

    def test_full_load_sync_delete_plus_insert_one_statement(
        self, spark, sf_dir, tmp_path
    ):
        """Round-11 self-review regression (the high finding): within
        one MERGE's commit, the (commit, table) delta dir holds the
        DELETE rows before the insert staging appends — the ingest
        read-back must take ONLY the insert rows, or the just-deleted
        docs re-enter every layout and the cube silently overcounts
        against the raw paths. The standard full-load sync is exactly
        this shape: BY SOURCE DELETE + NOT MATCHED INSERT."""
        from bigdataproj_spark.sources.corpus_cubes import (
            docs_stats_cube_table,
        )

        e = self._sandbox(spark, sf_dir, tmp_path)
        docs_stats_cube_table(spark, e.sf_dir)
        n0 = e.sql(
            "SELECT COUNT(*) AS n FROM documents", routed=False
        ).collect()[0].n
        n_low = e.sql(
            "SELECT COUNT(*) AS n FROM documents WHERE doc_id <= 30",
            routed=False,
        ).collect()[0].n
        assert n_low >= 1
        out = e.sql(
            "MERGE INTO documents USING ("
            "  SELECT doc_id, text, lang, source, n_chars"
            "  FROM documents WHERE doc_id > 30"
            "  UNION ALL"
            "  SELECT CAST(900000021 AS BIGINT), 'neu', 'en', 'src1',"
            "    CAST(3 AS BIGINT)"
            ") s ON doc_id = s.doc_id "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        assert (out.n_deleted, out.n_inserted) == (n_low, 1)
        n_after = e.sql(
            "SELECT COUNT(*) AS n FROM documents", routed=False
        ).collect()[0].n
        assert n_after == n0 - n_low + 1
        # the deleted docs are gone from EVERY path and the cube
        # agrees with raw bit-for-bit (no re-ingested delete rows)
        sql = (
            "SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
            "COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang"
        )
        df, chosen = route_sql(spark, e.sf_dir, sql)
        assert chosen == "docs_stats_cube", chosen
        assert df.toPandas().equals(e.sql(sql, routed=False).toPandas())
        # and the one commit's feed shows exactly deletes + the insert
        v = e.history().collect()[-1].version
        feed = e.table_changes("documents", v - 1, v).collect()
        kinds = {}
        for r in feed:
            kinds[r._change_type] = kinds.get(r._change_type, 0) + 1
        assert kinds == {"delete": n_low, "insert": 1}

    def test_merge_refusals(self, eng):
        with pytest.raises(ValueError, match="append-only"):
            eng.sql(
                "MERGE INTO events USING (SELECT 1 AS event_id) s "
                "ON event_id = s.event_id WHEN NOT MATCHED THEN INSERT *"
            )
        with pytest.raises(ValueError, match="through their order"):
            eng.sql(
                "MERGE INTO lineitem USING (SELECT 1 AS l_orderkey) s "
                "ON l_orderkey = s.l_orderkey "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        with pytest.raises(ValueError, match="immutable by key"):
            eng.sql(
                "MERGE INTO documents USING (SELECT 1 AS doc_id) s "
                "ON doc_id = s.doc_id "
                "WHEN MATCHED THEN UPDATE SET *"
            )
        # round 11: conditional clauses ARE lowerable — the refusals
        # moved to the grammar's edges
        with pytest.raises(ValueError, match="unreachable MERGE clause"):
            eng.sql(
                "MERGE INTO orders USING (SELECT 1 AS o_orderkey) s "
                "ON o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st "
                "WHEN MATCHED AND o_totalprice > 5 THEN DELETE"
            )
        with pytest.raises(ValueError, match="no source columns"):
            eng.sql(
                "MERGE INTO orders USING (SELECT 1 AS o_orderkey) s "
                "ON o_orderkey = s.o_orderkey "
                "WHEN NOT MATCHED BY SOURCE AND s.o_orderkey > 0 "
                "THEN DELETE"
            )
        with pytest.raises(ValueError, match="no stored columns"):
            # an unmatched SOURCE row has no target side: the INSERT
            # pred must qualify with the source alias (full-row source
            # so the pred refusal is what fires, not the column check)
            eng.sql(
                "MERGE INTO orders USING ("
                "SELECT o_orderkey + 9000000000 AS o_orderkey, "
                "o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                "o_orderpriority FROM orders WHERE o_orderkey = 1) s "
                "ON o_orderkey = s.o_orderkey "
                "WHEN NOT MATCHED AND o_totalprice > 0 THEN INSERT *"
            )
        with pytest.raises(ValueError, match="unsupported OR"):
            eng.sql(
                "MERGE INTO orders USING (SELECT 1 AS o_orderkey) s "
                "ON o_orderkey = s.o_orderkey "
                "WHEN MATCHED AND o_totalprice > 5 OR o_custkey = 1 "
                "THEN DELETE"
            )
        with pytest.raises(ValueError, match="unsupported MERGE clause"):
            eng.sql(
                "MERGE INTO orders USING (SELECT 1 AS o_orderkey) s "
                "ON o_orderkey = s.o_orderkey "
                "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
            )
        with pytest.raises(ValueError, match="identity key"):
            eng.sql(
                "MERGE INTO orders USING (SELECT 1 AS o_custkey) s "
                "ON o_custkey = s.o_custkey "
                "WHEN MATCHED THEN UPDATE SET *"
            )
        with pytest.raises(ValueError, match="UPDATE verb"):
            eng.sql(
                "MERGE INTO orders USING (SELECT 1 AS o_orderkey) s "
                "ON o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET o_orderstatus = 'X'"
            )
        with pytest.raises(ValueError, match="every orders column"):
            eng.sql(
                "MERGE INTO orders USING (SELECT 1 AS o_orderkey) s "
                "ON o_orderkey = s.o_orderkey "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        with pytest.raises(ValueError, match="column list"):
            eng.sql(
                "MERGE INTO orders USING (VALUES (1)) AS s "
                "ON o_orderkey = s.k "
                "WHEN MATCHED THEN UPDATE SET *"
            )

    def test_merge_null_source_key_refused(self, eng):
        """Round-9 ADVICE item 4: a NULL join key matches nothing and
        would land a NULL-identity row through the INSERT side —
        refused eagerly with a worded reason. (Malformed key strings
        fail the ANSI cast loudly already; this guards genuine NULLs,
        which the cast preserves silently.)"""
        with pytest.raises(ValueError, match="NULL join key"):
            eng.sql(
                "MERGE INTO orders USING (VALUES "
                "(CAST(NULL AS BIGINT), 'X'), (CAST(2 AS BIGINT), 'Y')"
                ") AS s(k, st) ON o_orderkey = s.k "
                "WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st"
            )

    def test_merge_duplicate_source_keys_refused(self, spark, sf_dir, tmp_path):
        e = self._sandbox(spark, sf_dir, tmp_path)
        with pytest.raises(ValueError, match="duplicate join keys"):
            e.sql(
                "MERGE INTO orders USING (VALUES "
                "(CAST(1 AS BIGINT), 'X'), (CAST(1 AS BIGINT), 'Y')"
                ") AS s(k, st) ON o_orderkey = s.k "
                "WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st"
            )


class TestExplainSQL:
    def test_explain_shows_routing_choice(self, eng):
        from bigdataproj_spark.plans.sqlfront import SUM_SQL as _S

        row = eng.sql(
            "EXPLAIN SELECT l_returnflag, l_linestatus, "
            f"{_S['revenue']} AS revenue, COUNT(*) AS n "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus"
        ).collect()[0]
        assert row.chosen == "pricing_cube"
        assert "Scan" in row.physical_plan
        # unroutable statements explain too, with the refusal reason
        row2 = eng.sql(
            "EXPLAIN SELECT l_orderkey, "
            "ROW_NUMBER() OVER (ORDER BY l_orderkey) AS rn "
            "FROM lineitem LIMIT 5"
        ).collect()[0]
        assert row2.chosen.startswith("spark.sql:")

    def test_explain_dml_refused(self, eng):
        import pytest as _pt

        with _pt.raises(ValueError, match="EXPLAIN covers queries"):
            eng.sql("EXPLAIN DELETE FROM documents WHERE doc_id = 1")


class TestDimTableDML:
    def test_dimension_dml_refuses_with_reason(self, eng):
        for stmt in (
            "UPDATE customer SET c_mktsegment = 'X' WHERE c_custkey = 1",
            "DELETE FROM nation WHERE n_nationkey = 1",
            "MERGE INTO supplier USING (SELECT 1 AS s_suppkey) s "
            "ON s_suppkey = s.s_suppkey WHEN MATCHED THEN UPDATE SET *",
            "DELETE FROM embeddings WHERE doc_id = 1",
        ):
            with pytest.raises(ValueError, match="dimension/fixture"):
                eng.sql(stmt)
        # INSERT is deliberately unclaimed on dim names (a user's OWN
        # catalog table named `customer` keeps Spark's native INSERT);
        # against the engine's view it surfaces Spark's error, not ours
        with pytest.raises(Exception) as exc:
            eng.sql("INSERT INTO region VALUES (99, 'NOWHERE')")
        assert "dimension/fixture" not in str(exc.value)
