"""S15: corpus-table routing (documents / events) — subsumption,
grain-boundary time folding, raw fallbacks, incremental cube
maintenance, SQL front door, and a differential fuzz family.

Everything here is a differential check: routed answers must equal the
raw plan and DuckDB running the same SQL over the raw parquet — the
rewrite's invisibility IS the property under test.
"""

import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdataproj_spark.catalog import table
from bigdataproj_spark.functions import cents
from bigdataproj_spark.plans import physical_plan as plan_of
from bigdataproj_spark.plans.routing import (
    CORPUS_TABLES,
    AggCall,
    BoolPred,
    Pred,
    TableAggQuery,
    _raw_plan,
    route,
)
from bigdataproj_spark.plans.sqlfront import (
    CORPUS_AVG_SQL,
    CORPUS_MAX_SQL,
    CORPUS_MIN_SQL,
    CORPUS_SUM_SQL,
    UnsupportedSQL,
    parse_sql,
    route_sql,
)
from bigdataproj_spark.sources.corpus_cubes import doc_stopword_count, doc_token_count
from bigdataproj_spark.sources.state import warehouse
from bigdataproj_spark.testing import compare_frames

_FUZZ_SCALE = int(os.environ.get("FUZZ_SCALE", "1"))


# ---------------------------------------------------------------------------
# Routing choices + plan shapes.
# ---------------------------------------------------------------------------

_DOCS_PROFILE = TableAggQuery(
    table="documents",
    filters=(Pred("lang", "in", ("en", "de")),),
    group_by=("lang", "source"),
    aggs=(
        AggCall("sum", "tokens", "total_tokens"),
        AggCall("avg", "chars", "avg_chars"),
        AggCall("min", "chars", "min_chars"),
        AggCall("count_star", None, "n_docs"),
    ),
)


def test_docs_profile_routes_to_cube_and_skips_raw_scan(spark, sf_dir):
    df, chosen = route(spark, sf_dir, _DOCS_PROFILE)
    assert chosen == "docs_stats_cube"
    plan = plan_of(df)
    # the scan reads stored partials out of the warehouse, and touches
    # neither the raw parquet nor the text column (the whole point:
    # the tokenizer pass happened at deploy)
    assert "tokens_i" in plan and "bigdataproj_bucketed_wh" in plan, plan
    assert "documents.parquet" not in plan, plan
    assert "text#" not in plan, plan


def test_routed_cube_read_runs_one_job(spark, sf_dir):
    """A warm routed read of a cube smaller than one file split is one
    Spark job: the one-split rule (session.one_split) plans the cube
    scan as a single partition, so the aggregate above it needs no
    exchange and no separate scan and shuffle stages."""
    df, chosen = route(spark, sf_dir, _DOCS_PROFILE)
    assert chosen == "docs_stats_cube"
    want = df.toPandas()  # deploys the cube and warms the scan memo
    sc = spark.sparkContext
    group = "routed-cube-read-one-job"
    sc.setJobGroup(group, "warm routed cube read")
    try:
        df, _ = route(spark, sf_dir, _DOCS_PROFILE)
        got = df.toPandas()
    finally:
        sc._jsc.clearJobGroup()
    assert got.equals(want)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_docs_routed_equals_raw_plan(spark, sf_dir):
    routed, chosen = route(spark, sf_dir, _DOCS_PROFILE)
    assert chosen == "docs_stats_cube"
    raw = _raw_plan(spark, sf_dir, _DOCS_PROFILE)
    assert routed.toPandas().equals(raw.toPandas())


def test_docs_non_key_filter_falls_back_to_raw(spark, sf_dir):
    q = TableAggQuery(
        table="documents",
        filters=(Pred("n_chars", ">=", 200),),
        group_by=("lang",),
        aggs=(AggCall("sum", "chars", "total_chars"),),
    )
    df, chosen = route(spark, sf_dir, q)
    assert chosen == "raw"
    # the raw plan reads the CURRENT documents relation: the fixture,
    # or the maintained clustered layout once a prior test deployed it
    plan = plan_of(df)
    assert "documents.parquet" in plan or "documents_clustered" in plan, plan


def test_docs_count_distinct_fold_vs_raw(spark, sf_dir):
    folds = TableAggQuery(
        "documents", (), ("lang",), (AggCall("count_distinct", "source", "n_src"),)
    )
    _, chosen = route(spark, sf_dir, folds)
    assert chosen == "docs_stats_cube"
    # doc_id is not a stored group key: its distinct set is not
    # derivable from the cube, so the spec must run raw
    raw = TableAggQuery(
        "documents", (), ("lang",), (AggCall("count_distinct", "doc_id", "n_doc"),)
    )
    _, chosen = route(spark, sf_dir, raw)
    assert chosen == "raw"


def test_events_grain_boundary_fold_rules(spark, sf_dir):
    """The time-predicate fold table: >=/< at an HOUR boundary fold
    onto the stored hour key; <=/>/=/BETWEEN (boundary or not) and any
    sub-hour literal must route raw — and every variant answers
    identically either way (the DuckDB cross-check runs in the fuzz
    family below)."""
    mk = lambda pred: TableAggQuery(  # noqa: E731
        "events", (pred,), ("event_type",),
        (AggCall("sum", "value", "total"), AggCall("count_star", None, "n")),
    )
    cases = [
        (Pred("ts", ">=", "2024-01-10 00:00:00", cast="timestamp"), "events_hourly_cube"),
        (Pred("ts", "<", "2024-01-20 00:00:00", cast="timestamp"), "events_hourly_cube"),
        (Pred("ts", "<=", "2024-01-20 00:00:00", cast="timestamp"), "raw"),
        (Pred("ts", ">", "2024-01-10 00:00:00", cast="timestamp"), "raw"),
        (Pred("ts", "=", "2024-01-10 00:00:00", cast="timestamp"), "raw"),
        # hour-grain storage: an HOUR boundary folds too...
        (Pred("ts", ">=", "2024-01-10 12:00:00", cast="timestamp"), "events_hourly_cube"),
        # ...a sub-hour literal never does
        (Pred("ts", ">=", "2024-01-10 12:30:00", cast="timestamp"), "raw"),
        (
            Pred("ts", "between",
                 ("2024-01-10 00:00:00", "2024-01-20 00:00:00"),
                 cast="timestamp"),
            "raw",
        ),
    ]
    for pred, want in cases:
        q = mk(pred)
        df, chosen = route(spark, sf_dir, q)
        assert chosen == want, (pred, chosen)
        raw = _raw_plan(spark, sf_dir, q)
        assert df.toPandas().equals(raw.toPandas()), pred


def test_events_boolean_tree_with_ts_leaf_folds(spark, sf_dir):
    """Leaf-by-leaf ts rewriting stays exact under boolean composition
    (each leaf is a row-set equivalence): NOT(type IN … OR ts < mid)."""
    q = TableAggQuery(
        "events",
        (
            BoolPred(
                "not",
                (
                    BoolPred(
                        "or",
                        (
                            Pred("event_type", "in", ("error", "signup")),
                            Pred("ts", "<", "2024-01-05 00:00:00", cast="timestamp"),
                        ),
                    ),
                ),
            ),
        ),
        ("event_type",),
        (AggCall("avg", "value", "avg_value"), AggCall("count_star", None, "n")),
    )
    df, chosen = route(spark, sf_dir, q)
    assert chosen == "events_hourly_cube"
    assert df.toPandas().equals(_raw_plan(spark, sf_dir, q).toPandas())


def test_events_trunc_grains_fold_onto_hour_cube(spark, sf_dir):
    for unit in ("hour", "day", "month", "quarter", "year"):
        q = TableAggQuery(
            "events", (), ("g",),
            (AggCall("max", "value", "max_value"), AggCall("count_star", None, "n")),
            truncs=(("g", unit, "ts"),),
        )
        df, chosen = route(spark, sf_dir, q)
        assert chosen == "events_hourly_cube", unit
        assert df.toPandas().equals(_raw_plan(spark, sf_dir, q).toPandas()), unit


def test_events_hour_grain_folds_and_subhour_filter_routes_raw(spark, sf_dir, oracle):
    """The cube stores HOUR grain, so an hourly GROUP BY folds (the
    stored key verbatim); a sub-hour ts literal still forces the raw
    plan — same SQL both sides in both cases."""
    hourly = (
        "SELECT date_trunc('hour', ts) AS h, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total, "
        "COUNT(*) AS n FROM events "
        "WHERE ts < TIMESTAMP '2024-01-03 00:00:00' GROUP BY h ORDER BY h"
    )
    df, chosen = route_sql(spark, sf_dir, hourly)
    assert chosen == "events_hourly_cube"
    compare_frames(df.toPandas(), oracle.execute(hourly).fetchdf(), "hourly")
    subhour = hourly.replace("2024-01-03 00:00:00", "2024-01-03 00:30:00")
    df, chosen = route_sql(spark, sf_dir, subhour)
    assert chosen == "raw"
    compare_frames(df.toPandas(), oracle.execute(subhour).fetchdf(), "sub-hour")


def test_approx_distinct_folds_on_sketch_partials(spark, sf_dir):
    """approx_count_distinct(user_id) folds onto the cube's HLL sketch
    partials, equals the raw single-pass sketch EXACTLY (union is
    register-max), and lands within the sketch's error bound of the
    true distinct count (lgK=12 → ~1.6% rse; 5% is a generous gate)."""
    q = TableAggQuery(
        "events",
        (Pred("event_type", "!=", "error"),),
        ("event_type",),
        (
            AggCall("approx_distinct", "user_id", "approx_users"),
            AggCall("count_star", None, "n"),
        ),
    )
    df, chosen = route(spark, sf_dir, q)
    assert chosen == "events_hourly_cube"
    got = df.toPandas()
    raw = _raw_plan(spark, sf_dir, q).toPandas()
    assert got.equals(raw)
    truth = {
        r.event_type: r.d
        for r in table(spark, sf_dir, "events")
        .filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for _, row in got.iterrows():
        exact = truth[row.event_type]
        assert abs(row.approx_users - exact) <= max(2, 0.05 * exact), (
            row.event_type, row.approx_users, exact,
        )
    # a target with no stored sketch must refuse to the raw plan
    q2 = TableAggQuery(
        "events", (), ("event_type",),
        (AggCall("approx_distinct", "event_id", "a"),),
    )
    _, chosen = route(spark, sf_dir, q2)
    assert chosen == "raw"


def test_events_user_grouping_falls_back_to_raw(spark, sf_dir):
    # The built-in hourly cube refuses user_id; a registry USER view
    # may claim it once q13_corpus_user_view_sql has deployed
    # user_spend_profile in this session (keys user_id+event_type) —
    # either answer is the contract, never the cube.
    q = TableAggQuery(
        "events", (), ("user_id",), (AggCall("sum", "value", "total"),)
    )
    _, chosen = route(spark, sf_dir, q)
    assert chosen == "raw" or chosen.startswith("user:"), chosen
    # a grouping no stored view covers (event_id is near-unique and
    # never a view key) must still fall back raw unconditionally
    q2 = TableAggQuery(
        "events", (), ("event_id",), (AggCall("sum", "value", "total"),)
    )
    _, chosen2 = route(spark, sf_dir, q2)
    assert chosen2 == "raw"


def test_corpus_distinct_and_global_shapes(spark, sf_dir, oracle):
    distinct = TableAggQuery("documents", (), ("lang", "source"), ())
    df, chosen = route(spark, sf_dir, distinct)
    assert chosen == "docs_stats_cube"
    want = oracle.execute(
        "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source"
    ).fetchdf()
    compare_frames(df.toPandas(), want, "docs-distinct")
    glob = TableAggQuery(
        "events",
        (Pred("ts", ">=", "2024-01-15 00:00:00", cast="timestamp"),),
        (),
        (AggCall("sum", "value", "total"), AggCall("count_star", None, "n")),
    )
    df, chosen = route(spark, sf_dir, glob)
    assert chosen == "events_hourly_cube"
    want = oracle.execute(
        "SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,"
        " COUNT(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'"
    ).fetchdf()
    compare_frames(df.toPandas(), want, "events-global")


def test_corpus_validation_refusals(spark, sf_dir):
    with pytest.raises(ValueError, match="unknown column"):
        route(
            spark, sf_dir,
            TableAggQuery("documents", (Pred("bogus", "=", 1),), ("lang",),
                          (AggCall("count_star", None, "n"),)),
        )
    with pytest.raises(ValueError, match="unknown corpus table"):
        route(
            spark, sf_dir,
            TableAggQuery("tweets", (), ("lang",), (AggCall("count_star", None, "n"),)),
        )
    with pytest.raises(ValueError, match="non-timestamp"):
        route(
            spark, sf_dir,
            TableAggQuery("documents", (), ("g",), (AggCall("count_star", None, "n"),),
                          truncs=(("g", "month", "lang"),)),
        )


# ---------------------------------------------------------------------------
# SQL front door boundaries.
# ---------------------------------------------------------------------------


def test_corpus_sql_refusals():
    for sql in (
        # joins against corpus tables are outside every family
        "SELECT lang, COUNT(*) AS n FROM documents JOIN events ON doc_id = event_id GROUP BY lang",
        # unknown column refuses at parse, not AnalysisException later
        "SELECT lang, COUNT(DISTINCT l_orderkey) AS n FROM documents GROUP BY lang",
        "SELECT region, COUNT(*) AS n FROM documents GROUP BY region",
        "SELECT doc_id, bogus FROM documents WHERE n_chars > 100",
    ):
        with pytest.raises(UnsupportedSQL):
            parse_sql(sql)


def test_events_scan_routes_to_dated_layout_and_prunes(spark, sf_dir, oracle):
    """An events time-slice scan answers from the day-partitioned
    layout: identical rows to the raw-table filter, the derived
    partition filter reaches the scan node, and the scan materializes
    only the kept days' rows (metric-asserted, like tests/test_dated.py)."""
    from bigdataproj_spark.plans.routing import (
        TableScanQuery,
        route_scan,
    )

    q = TableScanQuery(
        "events",
        ("event_id", "ts", "event_type", "value"),
        (
            Pred("ts", "between",
                 ("2024-01-10 00:00:00", "2024-01-14 23:59:59"),
                 cast="timestamp"),
        ),
    )
    df, chosen = route_scan(spark, sf_dir, q)
    assert chosen == "dated_events"
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "event_day_p" in plan, plan
    want = oracle.execute(
        "SELECT event_id, ts, event_type, value FROM events "
        "WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' "
        "AND TIMESTAMP '2024-01-14 23:59:59' ORDER BY event_id"
    ).fetchdf()
    compare_frames(df.orderBy("event_id").toPandas(), want, "events-scan")
    # pruning metric: the scan leaf reads only the 5 kept days' rows,
    # a fraction of the 30-day corpus
    df.collect()
    leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    scanned = int(leaf.metrics().apply("numOutputRows").value())
    total = table(spark, sf_dir, "events").count()
    assert scanned <= total // 4, (scanned, total)


def test_scan_without_ts_range_routes_raw(spark, sf_dir):
    from bigdataproj_spark.plans.routing import (
        TableScanQuery,
        route_scan,
    )

    # value-only filter: no time range, nothing to prune on
    _, chosen = route_scan(
        spark, sf_dir,
        TableScanQuery("events", ("event_id", "value"),
                       (Pred("value", ">=", 400.0),)),
    )
    assert chosen == "raw"
    # a documents scan with NO cluster-key predicate (n_chars alone is
    # the tertiary sort, not a prune axis) reads the raw table
    _, chosen = route_scan(
        spark, sf_dir,
        TableScanQuery("documents", ("doc_id", "lang"),
                       (Pred("n_chars", ">=", 200),)),
    )
    assert chosen == "raw"


def test_corpus_sql_parse_shapes():
    p = parse_sql(
        "SELECT event_type, COUNT(*) AS n FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' GROUP BY event_type "
        "ORDER BY n DESC LIMIT 3"
    )
    assert isinstance(p.spec, TableAggQuery)
    assert p.spec.table == "events"
    assert p.limit == 3 and p.order == (("n", False),)
    p = parse_sql("SELECT DISTINCT lang FROM documents ORDER BY lang")
    assert p.spec == TableAggQuery("documents", (), ("lang",), ())


# ---------------------------------------------------------------------------
# Incremental maintenance: delta-merge == rebuild, bit for bit.
# ---------------------------------------------------------------------------


# The corpus cubes' stored partials, written out by hand so the
# rebuild side of the refresh-equals-rebuild checks stays independent
# of the engine's one view build.
def _docs_cube_aggs() -> list:
    tok = doc_token_count()
    stop = doc_stopword_count()
    chars = F.col("n_chars")
    return [
        F.sum(chars).alias("chars_i"),
        F.sum(tok).alias("tokens_i"),
        F.sum(stop).alias("stop_i"),
        F.count("n_chars").alias("cnt_chars"),
        F.count("text").alias("cnt_text"),
        F.count(F.lit(1)).alias("cnt"),
        F.min(chars).alias("min_chars_i"),
        F.min(tok).alias("min_tokens_i"),
        F.min(stop).alias("min_stop_i"),
        F.max(chars).alias("max_chars_i"),
        F.max(tok).alias("max_tokens_i"),
        F.max(stop).alias("max_stop_i"),
    ]


def _events_cube_aggs() -> list:
    v = cents("value")
    return [
        F.sum(v).alias("value_i"),
        F.count("value").alias("cnt_value"),
        F.count(F.lit(1)).alias("cnt"),
        F.min(v).alias("min_value_i"),
        F.max(v).alias("max_value_i"),
        F.hll_sketch_agg("user_id").alias("users_hll"),
    ]


def test_docs_cube_refresh_equals_rebuild(spark, sf_dir):
    from bigdataproj_spark.sources.corpus_cubes import docs_stats_cube_table
    from bigdataproj_spark.plans.routing import DOCS_CUBE_KEYS
    from bigdataproj_spark.sources.user_projections import refresh_projection

    base = docs_stats_cube_table(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    # half the delta lands in existing (lang, source) groups, half in a
    # brand-new language — both merge arms exercised
    delta = docs.orderBy("doc_id").limit(40).withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, F.col("lang")).otherwise(F.lit("zz"))
    )
    keys = list(DOCS_CUBE_KEYS)
    try:
        new_path = refresh_projection(spark, sf_dir, "docs_stats_cube", delta)
        expected = (
            docs.unionByName(delta)
            .groupBy(*keys)
            .agg(*_docs_cube_aggs())
            .orderBy(*keys)
            .toPandas()
        )
        got = spark.read.parquet(new_path).orderBy(*keys).toPandas()
        assert got.equals(expected[got.columns.tolist()])
        # the memo now serves the refreshed version to the router
        assert docs_stats_cube_table(spark, sf_dir) == new_path
    finally:
        warehouse(spark, sf_dir).projections["docs_stats_cube"] = base


def test_events_cube_refresh_equals_rebuild(spark, sf_dir):
    from bigdataproj_spark.sources.corpus_cubes import events_hourly_cube_table
    from bigdataproj_spark.plans.routing import EVENTS_CUBE_KEYS
    from bigdataproj_spark.sources.user_projections import refresh_projection

    base = events_hourly_cube_table(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    # half the delta reuses existing days, half lands on brand-new ones
    delta = ev.orderBy("event_id").limit(100).withColumn(
        "ts",
        F.when(F.col("event_id") % 2 == 0, F.col("ts")).otherwise(
            F.col("ts") + F.expr("INTERVAL 90 DAYS")
        ),
    )
    keys = list(EVENTS_CUBE_KEYS)

    # sketch partials are compared at the ESTIMATE level: union is
    # register-max so the logical state matches a rebuild, but the
    # serialized bytes may differ in sparse mode
    def est(df):
        return df.withColumn("users_hll", F.hll_sketch_estimate("users_hll"))

    try:
        new_path = refresh_projection(spark, sf_dir, "events_hourly_cube", delta)
        expected = est(
            ev.unionByName(delta)
            .withColumn("event_hour", F.date_trunc("hour", F.col("ts")))
            .groupBy(*keys)
            .agg(*_events_cube_aggs())
        ).orderBy(*keys).toPandas()
        got = est(spark.read.parquet(new_path)).orderBy(*keys).toPandas()
        assert got.equals(expected[got.columns.tolist()])
        assert events_hourly_cube_table(spark, sf_dir) == new_path
    finally:
        warehouse(spark, sf_dir).projections["events_hourly_cube"] = base


def test_corpus_sql_having_order_limit(spark, sf_dir, oracle):
    """The post-aggregation clauses (HAVING on a select-list aggregate,
    ORDER BY an output column DESC, LIMIT) fold on the corpus paths the
    same way they do on the lineitem paths — they operate on FINAL
    re-aggregated values on top of whichever layout answered."""
    sql = (
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars "
        "FROM documents GROUP BY lang HAVING COUNT(*) > 5 "
        "ORDER BY n_docs DESC, lang LIMIT 3"
    )
    df, chosen = route_sql(spark, sf_dir, sql)
    assert chosen == "docs_stats_cube"
    compare_frames(df.toPandas(), oracle.execute(sql).fetchdf(), "corpus-having")


def test_engine_aggregate_dispatches_corpus_specs(spark, sf_dir):
    from bigdataproj_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    got = eng.aggregate(_DOCS_PROFILE).toPandas()
    want, chosen = route(spark, sf_dir, _DOCS_PROFILE)
    assert chosen == "docs_stats_cube"
    assert got.equals(want.toPandas())


def test_stream_ingest_maintains_events_cube_end_to_end(spark, sf_dir, tmp_path):
    """The time-series warehouse loop, end to end: events arrive as
    micro-batches through a real readStream, each batch delta-merges
    the daily rollup via foreachBatch, the maintained cube equals the
    one-shot cube of the whole corpus bit-for-bit — and a SQL
    statement through the front door is answered from the MAINTAINED
    cube, matching DuckDB over the full raw corpus. That chain
    (stream → incremental maintenance → routed SQL → oracle) is the
    reference's ingest-then-query-the-index posture for event data."""
    from bigdataproj_spark.sources.corpus_cubes import events_hourly_cube_table
    from bigdataproj_spark.plans.routing import EVENTS_CUBE_KEYS
    from bigdataproj_spark.sources.user_projections import refresh_projection

    ev = table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 5 < 3)
    stream_part = ev.filter(F.col("event_id") % 5 >= 3)
    stage = tmp_path / "stage"
    stage.mkdir()
    for i in range(4):
        stream_part.filter(F.col("event_id") % 4 == i).write.parquet(
            str(stage / f"b{i}")
        )
    base_dir = tmp_path / "basecorpus"
    base.write.parquet(str(base_dir / "events.parquet"))
    sf_base = str(base_dir)
    events_hourly_cube_table(spark, sf_base)  # deploy over the base

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage / "b*"))
    )

    def refresh(batch_df, batch_id):
        if batch_df.count():
            refresh_projection(spark, sf_base, "events_hourly_cube", batch_df)

    q = (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    keys = list(EVENTS_CUBE_KEYS)

    def est(df):
        return df.withColumn("users_hll", F.hll_sketch_estimate("users_hll"))

    got = (
        est(spark.read.parquet(events_hourly_cube_table(spark, sf_base)))
        .orderBy(*keys)
        .toPandas()
    )
    full_dir = tmp_path / "fullcorpus"
    ev.write.parquet(str(full_dir / "events.parquet"))
    want = (
        est(spark.read.parquet(events_hourly_cube_table(spark, str(full_dir))))
        .orderBy(*keys)
        .toPandas()
    )
    assert got.equals(want[got.columns.tolist()])

    sql = (
        "SELECT event_type, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value, "
        "COUNT(*) AS n FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' "
        "GROUP BY event_type ORDER BY event_type"
    )
    df, chosen = route_sql(spark, sf_base, sql)
    assert chosen == "events_hourly_cube"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    compare_frames(df.toPandas(), con.execute(sql).fetchdf(), "stream-maintained")


# ---------------------------------------------------------------------------
# Differential fuzz: spec → SQL → (router, DuckDB) must agree, and the
# SQL must parse back to the identical spec.
# ---------------------------------------------------------------------------


def _lit_sql(v, cast) -> str:
    if cast == "timestamp":
        return f"TIMESTAMP '{v}'"
    if isinstance(v, str):
        return f"'{v}'"
    return str(v)


def _cond_sql(pr) -> str:
    if isinstance(pr, BoolPred):
        if pr.op == "not":
            (inner,) = pr.children
            if isinstance(inner, Pred) and inner.op == "in":
                vals = ", ".join(_lit_sql(v, inner.cast) for v in inner.value)
                return f"{inner.col} NOT IN ({vals})"
            return f"NOT ({_cond_sql(inner)})"
        joiner = " OR " if pr.op == "or" else " AND "
        return "(" + joiner.join(_cond_sql(c) for c in pr.children) + ")"
    if pr.op == "in":
        vals = ", ".join(_lit_sql(v, pr.cast) for v in pr.value)
        return f"{pr.col} IN ({vals})"
    if pr.op == "between":
        lo, hi = pr.value
        return f"{pr.col} BETWEEN {_lit_sql(lo, pr.cast)} AND {_lit_sql(hi, pr.cast)}"
    return f"{pr.col} {pr.op} {_lit_sql(pr.value, pr.cast)}"


def _corpus_sql(
    q: TableAggQuery,
    order_desc: bool = False,
    having: int | None = None,
    limit: int | None = None,
) -> str:
    tm = {a: (u, c) for a, u, c in q.truncs}
    sel = [
        f"date_trunc('{tm[g][0]}', {tm[g][1]}) AS {g}" if g in tm else g
        for g in q.group_by
    ]
    for a in q.aggs:
        if a.fn == "count_star":
            sel.append(f"COUNT(*) AS {a.alias}")
        elif a.fn == "count_distinct":
            sel.append(f"COUNT(DISTINCT {a.measure}) AS {a.alias}")
        elif a.fn == "count":
            src = CORPUS_TABLES[q.table].measures[a.measure].source_col
            sel.append(f"COUNT({src}) AS {a.alias}")
        else:
            tbl = {
                "sum": CORPUS_SUM_SQL,
                "avg": CORPUS_AVG_SQL,
                "min": CORPUS_MIN_SQL,
                "max": CORPUS_MAX_SQL,
            }[a.fn]
            sel.append(f"{tbl[q.table][a.measure]} AS {a.alias}")
    head = "SELECT DISTINCT" if not q.aggs else "SELECT"
    from_clause = q.table
    for name in q.dims:
        from bigdataproj_spark.plans.routing import CORPUS_DIMS

        d = CORPUS_DIMS[name]
        from_clause += f" JOIN {name} ON {d.fact_key} = {d.dim_key}"
    parts = [f"{head} {', '.join(sel)} FROM {from_clause}"]
    conds = [_cond_sql(p) for p in q.filters]
    if conds:
        parts.append("WHERE " + " AND ".join(conds))
    if q.group_by and q.aggs:
        parts.append("GROUP BY " + ", ".join(q.group_by))
    if having is not None:
        parts.append(f"HAVING COUNT(*) > {having}")
    if q.group_by:
        parts.append(
            "ORDER BY "
            + ", ".join(f"{k} DESC" if order_desc else k for k in q.group_by)
        )
    if limit is not None:
        parts.append(f"LIMIT {limit}")
    return " ".join(parts)


_DOC_AGG_POOL = [
    AggCall("sum", "chars", "a_sum_chars"),
    AggCall("avg", "chars", "a_avg_chars"),
    AggCall("min", "chars", "a_min_chars"),
    AggCall("sum", "tokens", "a_sum_toks"),
    AggCall("max", "tokens", "a_max_toks"),
    AggCall("avg", "tokens", "a_avg_toks"),
    AggCall("sum", "stopwords", "a_sum_stop"),
    AggCall("min", "stopwords", "a_min_stop"),
    AggCall("count_star", None, "a_n"),
    AggCall("count_distinct", "source", "a_cd_src"),
    AggCall("count_distinct", "doc_id", "a_cd_doc"),  # forces raw
]
_DOC_FILTER_POOL = [
    None,
    Pred("lang", "=", "en"),
    Pred("lang", "in", ("en", "de", "fr")),
    Pred("source", "!=", "src3"),
    BoolPred("or", (Pred("lang", "=", "es"), Pred("source", "=", "src1"))),
    BoolPred("not", (Pred("lang", "in", ("en", "es")),)),
    Pred("n_chars", ">=", 150),  # forces raw
]

doc_specs = st.fixed_dictionaries(
    {
        "groups": st.sets(st.sampled_from(["lang", "source"]), max_size=2),
        "aggs": st.sets(st.sampled_from(range(len(_DOC_AGG_POOL))), max_size=4),
        "filt": st.sampled_from(range(len(_DOC_FILTER_POOL))),
        "order_desc": st.booleans(),
        "having": st.sampled_from([None, 0, 3]),
        "limit": st.sampled_from([None, 2, 5]),
    }
)

_EV_AGG_POOL = [
    AggCall("sum", "value", "a_sum_val"),
    AggCall("avg", "value", "a_avg_val"),
    AggCall("min", "value", "a_min_val"),
    AggCall("max", "value", "a_max_val"),
    AggCall("count", "value", "a_cnt_val"),
    AggCall("count_star", None, "a_n"),
    AggCall("count_distinct", "event_type", "a_cd_type"),
    AggCall("count_distinct", "user_id", "a_cd_user"),  # forces raw
]
_EV_FILTER_POOL = [
    None,
    Pred("event_type", "=", "click"),
    Pred("event_type", "in", ("view", "purchase")),
    Pred("ts", ">=", "2024-01-08 00:00:00", cast="timestamp"),  # folds
    Pred("ts", "<", "2024-01-25 00:00:00", cast="timestamp"),  # folds
    Pred("ts", "<=", "2024-01-25 00:00:00", cast="timestamp"),  # raw
    Pred("ts", ">=", "2024-01-08 06:30:00", cast="timestamp"),  # raw
    # r7-VERDICT item 7: hostile literal forms. Non-padded boundaries
    # must not fold (the _HOUR_BOUNDARY check is conservative — the
    # raw plan answers them exactly); sub-second literals never fold.
    Pred("ts", ">=", "2024-1-8 0:00:00", cast="timestamp"),  # raw (non-padded)
    Pred("ts", "<", "2024-01-25 00:00:00.500000", cast="timestamp"),  # raw
    BoolPred(
        "or",
        (
            Pred("event_type", "=", "error"),
            Pred("ts", "<", "2024-01-04 00:00:00", cast="timestamp"),
        ),
    ),
    Pred("value", ">=", 100.0),  # raw (filters rows, not groups)
]

ev_specs = st.fixed_dictionaries(
    {
        "type_key": st.booleans(),
        "trunc": st.sampled_from([None, "hour", "day", "month", "quarter", "year"]),
        "aggs": st.sets(st.sampled_from(range(len(_EV_AGG_POOL))), max_size=4),
        "filt": st.sampled_from(range(len(_EV_FILTER_POOL))),
    }
)


def _doc_spec(p) -> TableAggQuery:
    f = _DOC_FILTER_POOL[p["filt"]]
    groups = tuple(sorted(p["groups"]))
    aggs = tuple(_DOC_AGG_POOL[i] for i in sorted(p["aggs"]))
    if not groups and not aggs:
        aggs = (AggCall("count_star", None, "a_n"),)
    return TableAggQuery("documents", (f,) if f else (), groups, aggs)


def _ev_spec(p) -> TableAggQuery:
    f = _EV_FILTER_POOL[p["filt"]]
    groups: list[str] = ["event_type"] if p["type_key"] else []
    truncs = ()
    if p["trunc"]:
        groups.append("g_time")
        truncs = (("g_time", p["trunc"], "ts"),)
    aggs = tuple(_EV_AGG_POOL[i] for i in sorted(p["aggs"]))
    if not groups and not aggs:
        aggs = (AggCall("count_star", None, "a_n"),)
    return TableAggQuery("events", (f,) if f else (), tuple(groups), aggs, truncs)


@pytest.fixture(scope="module")
def _ora(sf_dir):
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


_EV_SCAN_COL_SETS = [
    ("event_id", "ts", "event_type", "value"),
    ("event_id", "event_type", "value"),  # ts filtered but not selected
    ("event_id", "ts", "user_id"),
]
ev_scan_specs = st.fixed_dictionaries(
    {
        "cols": st.sampled_from(_EV_SCAN_COL_SETS),
        "ts_pred": st.sampled_from(
            [
                None,
                ("between", ("2024-01-05 00:00:00", "2024-01-12 23:59:59")),
                (">=", "2024-01-20 00:00:00"),
                ("<", "2024-01-08 00:00:00"),
                ("=", "2024-01-15 12:00:00"),  # sub-day: prunes to one day
                ("<=", "2024-01-03 18:00:00"),
                # hostile forms (r7-VERDICT item 7): day-bound
                # derivation must stay a superset under them
                (">=", "2024-1-20 0:00:00"),
                ("<", "2024-1-8"),
                ("between", ("2024-1-5 7:30:15", "2024-01-12 23:59:59.750000")),
            ]
        ),
        "type_eq": st.sampled_from([None, "click", "error"]),
        "val_min": st.sampled_from([None, 100.0, 400.0]),
    }
)


def _ev_scan_spec(p):
    from bigdataproj_spark.plans.routing import TableScanQuery

    filters = []
    if p["ts_pred"]:
        op, v = p["ts_pred"]
        filters.append(Pred("ts", op, v, cast="timestamp"))
    if p["type_eq"]:
        filters.append(Pred("event_type", "=", p["type_eq"]))
    if p["val_min"] is not None:
        filters.append(Pred("value", ">=", p["val_min"]))
    return TableScanQuery("events", p["cols"], tuple(filters))


@given(p=ev_scan_specs)
@settings(
    max_examples=12 * _FUZZ_SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_events_scan_routes_and_matches_duckdb(spark, sf_dir, _ora, p):
    """The day-bounds derivation (sources/dated.py day_bounds_filter)
    is hand-written superset logic — exactly what differential fuzz
    protects: the dated-layout answer must be row-identical to DuckDB
    over raw parquet for every drawn predicate set, through both the
    spec and the SQL entry, with the same layout choice."""
    from bigdataproj_spark.plans.routing import route_scan

    spec = _ev_scan_spec(p)
    conds = [_cond_sql(f) for f in spec.filters]
    sql = f"SELECT {', '.join(spec.columns)} FROM events"
    if conds:
        sql += " WHERE " + " AND ".join(conds)
    sql += " ORDER BY " + ", ".join(spec.columns)
    parsed = parse_sql(sql)
    assert parsed.spec == spec, sql
    sql_df, sql_chosen = route_sql(spark, sf_dir, sql)
    want = _ora.execute(sql).fetchdf()
    compare_frames(sql_df.toPandas(), want, f"ev-scan-fuzz[{sql_chosen}] {sql}")
    df, chosen = route_scan(spark, sf_dir, spec)
    assert chosen == sql_chosen, (chosen, sql_chosen, sql)
    expected = "dated_events" if p["ts_pred"] else "raw"
    assert chosen == expected, (chosen, sql)


@given(
    filt=st.sampled_from(range(len(_EV_FILTER_POOL))),
    type_key=st.booleans(),
    trunc=st.sampled_from([None, "hour", "day", "month"]),
)
@settings(
    max_examples=10 * _FUZZ_SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_approx_spec_routed_equals_raw(spark, sf_dir, filt, type_key, trunc):
    """approx_distinct has no SQL spelling (rows-only family), so its
    differential check is spec-level: whatever the cube folds must
    equal the raw row-level single-pass sketch EXACTLY, across random
    filter/grouping shapes."""
    f = _EV_FILTER_POOL[filt]
    groups: list[str] = ["event_type"] if type_key else []
    truncs = ()
    if trunc:
        groups.append("g_time")
        truncs = (("g_time", trunc, "ts"),)
    spec = TableAggQuery(
        "events",
        (f,) if f else (),
        tuple(groups),
        (
            AggCall("approx_distinct", "user_id", "a_users"),
            AggCall("sum", "value", "a_sum"),
            AggCall("count_star", None, "a_n"),
        ),
        truncs,
    )
    routed, chosen = route(spark, sf_dir, spec)
    assert routed.toPandas().equals(_raw_plan(spark, sf_dir, spec).toPandas()), (
        chosen, spec,
    )


@given(p=st.one_of(doc_specs, ev_specs))
@settings(
    max_examples=25 * _FUZZ_SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_corpus_spec_routes_and_matches_duckdb(spark, sf_dir, _ora, p):
    """route(), the raw plan, and the generated SQL must agree
    on any drawn corpus spec — whichever cube (or none) answers."""
    spec = _doc_spec(p) if "groups" in p else _ev_spec(p)
    # post-aggregation extras (HAVING needs a COUNT(*) in the select
    # list to reference; LIMIT needs the group-key total order)
    has_cnt = any(a.fn == "count_star" for a in spec.aggs)
    extras = {
        "order_desc": bool(p.get("order_desc") and spec.group_by),
        "having": p.get("having") if has_cnt else None,
        "limit": p.get("limit") if spec.group_by else None,
    }
    sql = _corpus_sql(spec, **extras)
    parsed = parse_sql(sql)
    assert parsed.spec == spec, sql
    assert parsed.limit == extras["limit"], sql
    assert bool(parsed.having) == (extras["having"] is not None), sql
    sql_df, sql_chosen = route_sql(spark, sf_dir, sql)
    want = _ora.execute(sql).fetchdf()
    compare_frames(sql_df.toPandas(), want, f"corpus-fuzz[{sql_chosen}] {sql}")
    routed, chosen = route(spark, sf_dir, spec)
    assert chosen == sql_chosen, (chosen, sql_chosen, sql)
    if chosen != "raw":
        raw = _raw_plan(spark, sf_dir, spec).toPandas()
        assert routed.toPandas().equals(raw), (chosen, sql)


# ---------------------------------------------------------------------------
# Round 7: the sources dim arm (declared corpus-star join).
# ---------------------------------------------------------------------------


def test_sources_dim_folds_onto_cube_and_equals_raw(spark, sf_dir):
    """A dim-attr grouping + dim-attr filter folds onto the doc-stats
    cube (the cube stores the fact-side join key, and dim attrs are
    per-source constants); the routed plan touches neither the raw
    parquet nor the text column, and equals the row-level dim-join
    plan cell for cell."""
    q = TableAggQuery(
        "documents",
        (Pred("s_tier", "=", "crawl"),),
        ("s_kind",),
        (
            AggCall("sum", "tokens", "total_tokens"),
            AggCall("avg", "chars", "avg_chars"),
            AggCall("count_star", None, "n_docs"),
        ),
        dims=("sources",),
    )
    df, chosen = route(spark, sf_dir, q)
    assert chosen == "docs_stats_cube"
    plan = plan_of(df)
    assert "documents.parquet" not in plan, plan
    assert "text#" not in plan, plan
    assert df.toPandas().equals(_raw_plan(spark, sf_dir, q).toPandas())


def test_sources_dim_fold_refuse_table(spark, sf_dir):
    """The dim arm's fold/refuse rows: COUNT(DISTINCT dim attr) folds;
    a row-level filter alongside the dim forces raw; a dim attr
    WITHOUT its declared join refuses outright (ValueError, the
    router's refusal currency); an undeclarable fact/dim pairing
    refuses at validation."""
    cd = TableAggQuery(
        "documents", (), ("lang",),
        (AggCall("count_distinct", "s_kind", "n_kinds"),),
        dims=("sources",),
    )
    _, chosen = route(spark, sf_dir, cd)
    assert chosen == "docs_stats_cube"

    rowlevel = TableAggQuery(
        "documents", (Pred("n_chars", ">=", 150),), ("s_tier",),
        (AggCall("sum", "chars", "total_chars"),),
        dims=("sources",),
    )
    df, chosen = route(spark, sf_dir, rowlevel)
    assert chosen == "raw"
    assert df.toPandas().equals(_raw_plan(spark, sf_dir, rowlevel).toPandas())

    with pytest.raises(ValueError, match="unknown"):
        route(
            spark, sf_dir,
            TableAggQuery("documents", (), ("s_kind",),
                          (AggCall("count_star", None, "n"),)),
        )
    with pytest.raises(ValueError, match="does not join"):
        route(
            spark, sf_dir,
            TableAggQuery("events", (), ("event_type",),
                          (AggCall("count_star", None, "n"),),
                          dims=("sources",)),
        )


def test_sources_dim_sql_refusals():
    for sql in (
        # dim joined off its canonical edge
        "SELECT s_kind, COUNT(*) AS n FROM documents"
        " JOIN sources ON doc_id = src_id GROUP BY s_kind",
        # dim attr without the declared join
        "SELECT s_kind, COUNT(*) AS n FROM documents GROUP BY s_kind",
        # outer dim join: orphan semantics differ from INNER
        "SELECT s_kind, COUNT(*) AS n FROM documents"
        " LEFT JOIN sources ON source = src_id GROUP BY s_kind",
        # dim joined to the wrong fact
        "SELECT s_kind, COUNT(*) AS n FROM events"
        " JOIN sources ON source = src_id GROUP BY s_kind",
        # row-level scan over the dim join (no layout story yet)
        "SELECT doc_id, s_kind FROM documents JOIN sources ON source = src_id",
    ):
        with pytest.raises(UnsupportedSQL):
            parse_sql(sql)


def test_sources_dim_refresh_keeps_registry_complete(spark, sf_dir, tmp_path):
    """Completeness is the dim's correctness invariant (routed plans
    inner-join it): a batch introducing a NEW source must land in the
    registry, with the canonical derived attributes; a re-delivered
    batch is a no-op (no new version)."""
    from bigdataproj_spark.sources.corpus_cubes import (
        sources_dim_table,
        refresh_registry,
    )

    docs = table(spark, sf_dir, "documents")
    base_dir = tmp_path / "base"
    docs.filter(F.col("source") != "src7").write.parquet(
        str(base_dir / "documents.parquet")
    )
    sf_base = str(base_dir)
    p0 = sources_dim_table(spark, sf_base)
    assert spark.read.parquet(p0).filter("src_id = 'src7'").count() == 0

    delta = docs.filter(F.col("source") == "src7")
    p1 = refresh_registry(spark, sf_base, "sources", delta)
    assert p1 != p0
    assert sources_dim_table(spark, sf_base) == p1  # memo swung
    row = spark.read.parquet(p1).filter("src_id = 'src7'").collect()
    # 7 % 3 == 1 -> forum; 7 % 2 == 1 -> crawl (the canonical derivation)
    assert len(row) == 1
    assert row[0].s_kind == "forum" and row[0].s_tier == "crawl"
    # redelivery: same sources, no new version
    assert refresh_registry(spark, sf_base, "sources", delta) == p1


def test_between_half_open_rewrite_counterexample(spark, sf_dir):
    """r6-VERDICT item 8, answered REFUSE with a pinned counterexample:
    ``ts BETWEEN a AND b`` with b on an hour boundary would fold onto
    the hour cube only as ``ts >= a AND ts < b + 1h``, and that
    rewrite is exact only if no timestamp can fall strictly inside
    b's hour — i.e. under integer-HOUR data. The events fixture
    carries MICROSECOND timestamps (every row is sub-second), so the
    half-open form admits rows BETWEEN excludes; the fold/refuse
    table must keep refusing <=/BETWEEN at every grain. This test
    computes both row sets and shows they genuinely differ on the
    fixture."""
    e = table(spark, sf_dir, "events")
    hours = [
        r[0]
        for r in e.select(F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .orderBy("h")
        .collect()
    ]
    assert len(hours) >= 3
    a, b = hours[0], hours[len(hours) // 2]
    inside_b_hour = e.filter(
        (F.col("ts") > F.lit(b)) & (F.col("ts") < F.lit(b) + F.expr("INTERVAL 1 HOUR"))
    ).count()
    assert inside_b_hour > 0  # the fixture really is sub-hour-grained
    between_n = e.filter(F.col("ts").between(F.lit(a), F.lit(b))).count()
    half_open_n = e.filter(
        (F.col("ts") >= F.lit(a))
        & (F.col("ts") < F.lit(b) + F.expr("INTERVAL 1 HOUR"))
    ).count()
    # the would-be rewrite changes the answer by every row strictly
    # inside b's hour (minus any row at exactly the boundary instant,
    # which BETWEEN keeps)
    assert half_open_n > between_n
    assert half_open_n == between_n + inside_b_hour, (
        half_open_n, between_n, inside_b_hour,
    )


# ---------------------------------------------------------------------------
# Round 7: dims-aware differential fuzz — the sources dim arm under
# random groupings/filters/aggregates, checked three ways (SQL front
# door vs DuckDB-with-the-dim-CTE-as-a-view, spec router vs SQL
# router, routed vs raw plan).
# ---------------------------------------------------------------------------

_DIMF_GROUP_POOL = [
    (),
    ("s_kind",),
    ("s_tier",),
    ("s_kind", "s_tier"),
    ("lang", "s_kind"),
    ("s_tier", "source"),
]
_DIMF_FILTER_POOL = [
    None,
    Pred("s_tier", "=", "curated"),
    Pred("s_kind", "in", ("web", "wiki")),
    Pred("lang", "=", "en"),
    Pred("n_chars", ">=", 150),  # row-level: forces the raw dim-join plan
    BoolPred("or", (Pred("s_kind", "=", "web"), Pred("lang", "=", "de"))),
    # plain != (DuckDB's parser normalizes NOT(x = v) to x != v, so
    # the round-trip spec uses the normalized form directly)
    Pred("s_tier", "!=", "crawl"),
]
_DIMF_AGG_POOL = [
    AggCall("sum", "chars", "a_sum_chars"),
    AggCall("avg", "chars", "a_avg_chars"),
    AggCall("sum", "tokens", "a_sum_toks"),
    AggCall("min", "stopwords", "a_min_stop"),
    AggCall("count_star", None, "a_n"),
    AggCall("count_distinct", "s_kind", "a_cd_kind"),
    AggCall("count_distinct", "doc_id", "a_cd_doc"),  # forces raw
]

dim_specs = st.fixed_dictionaries(
    {
        "groups": st.sampled_from(range(len(_DIMF_GROUP_POOL))),
        "aggs": st.sets(st.sampled_from(range(len(_DIMF_AGG_POOL))), max_size=3),
        "filt": st.sampled_from(range(len(_DIMF_FILTER_POOL))),
        "order_desc": st.booleans(),
    }
)


@pytest.fixture(scope="module")
def _ora_dims(sf_dir):
    """DuckDB twin with the SOURCES registry materialized as a view
    from its canonical derivation — the same SQL text then runs on
    both engines."""
    from bigdataproj_spark.sources.corpus_cubes import SOURCES_DIM_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    con.execute(f"CREATE VIEW sources AS {SOURCES_DIM_SQL}")
    return con


@given(p=dim_specs)
@settings(
    max_examples=15 * _FUZZ_SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_dim_spec_routes_and_matches_duckdb(spark, sf_dir, _ora_dims, p):
    f = _DIMF_FILTER_POOL[p["filt"]]
    groups = tuple(sorted(_DIMF_GROUP_POOL[p["groups"]]))
    aggs = tuple(_DIMF_AGG_POOL[i] for i in sorted(p["aggs"]))
    if not groups and not aggs:
        aggs = (AggCall("count_star", None, "a_n"),)
    spec = TableAggQuery(
        "documents", (f,) if f else (), groups, aggs, dims=("sources",)
    )
    sql = _corpus_sql(spec, order_desc=bool(p["order_desc"] and groups))
    parsed = parse_sql(sql)
    assert parsed.spec == spec, sql
    sql_df, sql_chosen = route_sql(spark, sf_dir, sql)
    want = _ora_dims.execute(sql).fetchdf()
    compare_frames(sql_df.toPandas(), want, f"dim-fuzz[{sql_chosen}] {sql}")
    routed, chosen = route(spark, sf_dir, spec)
    assert chosen == sql_chosen, (chosen, sql_chosen, sql)
    if chosen != "raw":
        raw = _raw_plan(spark, sf_dir, spec).toPandas()
        assert routed.toPandas().equals(raw), (chosen, sql)


def test_event_types_dim_folds_onto_hour_cube(spark, sf_dir):
    """The second CORPUS_DIMS instance (events taxonomy): a category
    grouping + hour-boundary ts filter + day grain folds onto the
    hourly cube through the broadcast registry; equal to the row-level
    dim-join plan; the wrong-fact pairing refuses at validation."""
    q = TableAggQuery(
        "events",
        (Pred("ts", ">=", "2024-01-05 00:00:00", cast="timestamp"),),
        ("e_category", "g_day"),
        (
            AggCall("sum", "value", "total_value"),
            AggCall("count_star", None, "n"),
        ),
        truncs=(("g_day", "day", "ts"),),
        dims=("event_types",),
    )
    df, chosen = route(spark, sf_dir, q)
    assert chosen == "events_hourly_cube"
    plan = plan_of(df)
    assert "events.parquet" not in plan, plan
    assert df.toPandas().equals(_raw_plan(spark, sf_dir, q).toPandas())

    with pytest.raises(ValueError, match="does not join"):
        route(
            spark, sf_dir,
            TableAggQuery("documents", (), ("e_category",),
                          (AggCall("count_star", None, "n"),),
                          dims=("event_types",)),
        )


def test_event_types_dim_refresh_keeps_registry_complete(spark, sf_dir, tmp_path):
    from bigdataproj_spark.sources.corpus_cubes import (
        event_types_dim_table,
        refresh_registry,
    )

    ev = table(spark, sf_dir, "events")
    base_dir = tmp_path / "base"
    ev.filter(F.col("event_type") != "purchase").write.parquet(
        str(base_dir / "events.parquet")
    )
    sf_base = str(base_dir)
    p0 = event_types_dim_table(spark, sf_base)
    assert spark.read.parquet(p0).filter("et_id = 'purchase'").count() == 0
    delta = ev.filter(F.col("event_type") == "purchase")
    p1 = refresh_registry(spark, sf_base, "event_types", delta)
    assert p1 != p0 and event_types_dim_table(spark, sf_base) == p1
    row = spark.read.parquet(p1).filter("et_id = 'purchase'").collect()
    assert len(row) == 1 and row[0].e_category == "commerce"
    assert refresh_registry(spark, sf_base, "event_types", delta) == p1  # no-op


def test_refused_dim_statement_answers_verbatim(spark, sf_dir):
    """Round-7 review finding: a dim-join statement OUTSIDE the
    routable family (row-level scan over the join) must fall back to
    spark.sql and ANSWER — the engine registers the dim as a temp
    view — never crash with TABLE_OR_VIEW_NOT_FOUND. The answer must
    match DuckDB with the dim derived as a view."""
    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.sources.corpus_cubes import SOURCES_DIM_SQL

    sql = (
        "SELECT doc_id, s_kind FROM documents"
        " JOIN sources ON source = src_id"
        " WHERE lang = 'de' ORDER BY doc_id"
    )
    with pytest.raises(UnsupportedSQL):
        parse_sql(sql)
    eng = Engine(spark, sf_dir)
    chosen, _plan = eng.explain_sql(sql)
    assert chosen.startswith("spark.sql: "), chosen
    got = eng.sql(sql).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    con.execute(f"CREATE VIEW sources AS {SOURCES_DIM_SQL}")
    compare_frames(got, con.execute(sql).fetchdf(), sql)


def test_corpus_raw_paths_see_ingested_corpus(spark, sf_dir, tmp_path):
    """Round-7 review finding (the corpus twin of the lineitem fix):
    after refresh_warehouse ingests document/event deltas, the RAW
    aggregate fallback and the raw scan branch must describe the same
    base+delta corpus the cubes and clustered layouts describe."""
    from bigdataproj_spark.plans.routing import (
        TableScanQuery,
        route_scan,
    )
    from bigdataproj_spark.sources.maintenance import refresh_warehouse

    base_dir = tmp_path / "base"
    docs = table(spark, sf_dir, "documents")
    ev = table(spark, sf_dir, "events")
    docs.filter(F.col("doc_id") % 4 != 0).write.parquet(
        str(base_dir / "documents.parquet")
    )
    ev.filter(F.col("event_id") % 4 != 0).write.parquet(
        str(base_dir / "events.parquet")
    )
    sf_base = str(base_dir)
    refresh_warehouse(
        spark, sf_base,
        documents=docs.filter(F.col("doc_id") % 4 == 0),
        events=ev.filter(F.col("event_id") % 4 == 0),
    )

    # raw aggregate fallback (n_chars filter defeats every cube):
    # must count base + delta = the full fixture corpus
    agg = TableAggQuery(
        "documents", (Pred("n_chars", ">=", 0),), ("lang",),
        (AggCall("count_star", None, "n"),),
    )
    df, chosen = route(spark, sf_base, agg)
    assert chosen == "raw"
    got = {r.lang: r.n for r in df.collect()}
    want = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want, (got, want)

    # raw scan branch (no prune key): same contract on events
    scan = TableScanQuery("events", ("event_id",), (Pred("value", ">=", 0.0),))
    df, chosen = route_scan(spark, sf_base, scan)
    assert chosen == "raw"
    assert df.count() == ev.filter(F.col("value") >= 0.0).count()
