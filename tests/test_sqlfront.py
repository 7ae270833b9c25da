"""SQL front door (plans/sqlfront.py): parsing, routing, fallback.

The structural tests here pin the three contracts the module makes:
(1) lowering is exact — a SQL string in the routable family parses to
precisely the spec object its author meant, robust to case/whitespace/
qualification; (2) routing the text is invisible — the projection
answer equals DuckDB running the very same string on the raw tables;
(3) the negative space is safe — anything unsupported raises
UnsupportedSQL and Engine.sql degrades to spark.sql verbatim, so the
front door can only ever change the plan, never the answer.
(The random co-fuzz with the router lives in test_fuzz_routing.py.)
"""

from __future__ import annotations

import pytest

from bigdataproj_spark.engine import Engine
from bigdataproj_spark.plans.routing import AggCall, AggQuery, Pred, ScanQuery
from bigdataproj_spark.plans.sqlfront import (
    SUM_SQL,
    UnsupportedSQL,
    parse_sql,
    route_sql,
)
from bigdataproj_spark.sources.state import warehouse
from bigdataproj_spark.testing import compare_frames

PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {SUM_SQL["quantity"]} AS sum_qty,
  {SUM_SQL["revenue"]} AS sum_disc_price,
  {SUM_SQL["base_price"]} / COUNT(l_extendedprice) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-03-15 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

STAR_SQL = f"""
SELECT r_name, n_name, {SUM_SQL["revenue"]} AS revenue, COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""

SCAN_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
WHERE l_partkey BETWEEN 10 AND 40 AND l_suppkey >= 2
ORDER BY l_orderkey, l_linenumber
"""


# ---------------------------------------------------------------------------
# (1) Lowering.
# ---------------------------------------------------------------------------


def test_parse_pricing_exact_spec():
    spec = parse_sql(PRICING_SQL).spec
    assert spec == AggQuery(
        filters=(
            Pred("l_shipdate", "<=", "2001-03-15 00:00:00", cast="timestamp"),
        ),
        group_by=("l_returnflag", "l_linestatus"),
        aggs=(
            AggCall("sum", "quantity", "sum_qty"),
            AggCall("sum", "revenue", "sum_disc_price"),
            AggCall("avg", "base_price", "avg_price"),
            AggCall("count_star", None, "count_order"),
        ),
    )


def test_parse_is_structural_not_textual():
    """Case, whitespace, qualification, and join spelling don't matter;
    the lowered spec is identical."""
    messy = (
        "select  LINEITEM.L_RETURNFLAG, l_linestatus,\n"
        "  cast(sum(cast(lineitem.l_quantity as decimal(12, 2))) as double) sum_qty,\n"
        "  count( * ) as count_order\n"
        "from lineitem\n"
        "where LINEITEM.l_shipdate <= timestamp '2001-03-15 00:00:00'\n"
        "group by l_returnflag, L_LINESTATUS"
    )
    assert parse_sql(messy).spec == AggQuery(
        filters=(
            Pred("l_shipdate", "<=", "2001-03-15 00:00:00", cast="timestamp"),
        ),
        group_by=("l_returnflag", "l_linestatus"),
        aggs=(
            AggCall("sum", "quantity", "sum_qty"),
            AggCall("count_star", None, "count_order"),
        ),
    )


def test_parse_scan_with_order():
    parsed = parse_sql(SCAN_SQL)
    assert parsed.spec == ScanQuery(
        columns=("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        filters=(
            Pred("l_partkey", "between", (10, 40)),
            Pred("l_suppkey", ">=", 2),
        ),
    )
    assert parsed.order == (("l_orderkey", True), ("l_linenumber", True))


def test_parse_trunc_group_key():
    """date_trunc grouping lowers to a truncs entry whether GROUP BY
    repeats the expression or names the select alias."""
    for group_term in ("date_trunc('month', l_shipdate)", "m"):
        spec = parse_sql(
            "SELECT date_trunc('month', l_shipdate) AS m, COUNT(*) AS n"
            f" FROM lineitem GROUP BY {group_term} ORDER BY m"
        ).spec
        assert spec == AggQuery(
            filters=(),
            group_by=("m",),
            aggs=(AggCall("count_star", None, "n"),),
            truncs=(("m", "month", "l_shipdate"),),
        )


def test_lookalike_measure_does_not_match():
    """An expression one cast-width away from canonical revenue must
    NOT silently route as revenue — it falls back instead."""
    lookalike = (
        "SELECT l_returnflag, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
        " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"
        " AS rev FROM lineitem GROUP BY l_returnflag"
    )
    with pytest.raises(UnsupportedSQL):
        parse_sql(lookalike)


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem"
        " GROUP BY ROLLUP(l_returnflag)",
        "SELECT o_orderkey FROM orders WHERE o_orderkey < 10",  # wrong table
        "SELECT d_whatever FROM lineitem",  # unknown column
        "SELECT l_orderkey FROM lineitem JOIN orders ON l_orderkey < o_orderkey",
        # HAVING over an aggregate missing from the select list
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem"
        " GROUP BY l_returnflag HAVING count(*) > 5",
        # ORDER BY a column that is not in the output
        "SELECT l_returnflag, count(*) AS c FROM lineitem"
        " GROUP BY l_returnflag ORDER BY l_linestatus",
        "SELECT l_orderkey FROM lineitem LIMIT 5 OFFSET 2",  # OFFSET
        # a join graph that is NOT a prefix of the canonical chain
        # (customer joined without orders) must refuse
        "SELECT count(*) AS c FROM lineitem"
        " JOIN customer ON l_orderkey = c_custkey",
        # full-TPC-H column absent from THIS corpus's lineitem schema:
        # refuse at parse, not AnalysisException at plan time
        "SELECT l_shipmode, count(*) AS n FROM lineitem GROUP BY l_shipmode",
        # DISTINCT ON is a DuckDB extension with no routable shape
        "SELECT DISTINCT ON (l_returnflag) l_returnflag, l_quantity"
        " FROM lineitem",
        "INSERT INTO lineitem VALUES (1)",
        "definitely not sql",
        # adversarial boundary probes: each must REFUSE (falling back
        # to spark.sql in Engine.sql), never mis-lower
        "SELECT l_quantity + 1 AS q1, COUNT(*) AS n FROM lineitem"
        " GROUP BY q1",  # expression grouping
        "SELECT l_returnflag, SUM(l_quantity) * 2 AS s2 FROM lineitem"
        " GROUP BY l_returnflag",  # arithmetic over an aggregate
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
        " WHERE l_quantity * 2 > 50 GROUP BY l_returnflag",  # expr filter
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
        " WHERE l_shipdate IS NULL GROUP BY l_returnflag",  # IS NULL
        # self-join: the table SET check must reject it
        "SELECT a.l_returnflag, COUNT(*) AS n FROM lineitem a"
        " JOIN lineitem b ON a.l_orderkey = b.l_orderkey"
        " GROUP BY a.l_returnflag",
        # outer chain join: orphan semantics differ from INNER
        "SELECT o_orderstatus, COUNT(*) AS n FROM lineitem"
        " LEFT JOIN orders ON l_orderkey = o_orderkey"
        " GROUP BY o_orderstatus",
        # IN subquery
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem WHERE"
        " l_orderkey IN (SELECT o_orderkey FROM orders)"
        " GROUP BY l_returnflag",
        # ADVICE r6 (low): HAVING on a row-level CORPUS scan (no
        # grouping, no aggregates) is invalid SQL — the corpus branch
        # must refuse like the lineitem branch does, not silently
        # drop the clause and return scan rows
        "SELECT event_id FROM events HAVING COUNT(*) > 0",
        "SELECT doc_id FROM documents HAVING COUNT(*) > 1",
    ],
)
def test_unsupported_family_raises(bad):
    with pytest.raises(UnsupportedSQL):
        parse_sql(bad)


# ---------------------------------------------------------------------------
# (2) Routing the text is invisible.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "sql,want_chosen",
    [
        (PRICING_SQL, "pricing_cube"),
        (STAR_SQL, "star_date_cube"),
        (SCAN_SQL, "zorder_lineitem"),
    ],
)
def test_routed_sql_matches_duckdb(spark, sf_dir, oracle, sql, want_chosen):
    df, chosen = route_sql(spark, sf_dir, sql)
    assert chosen == want_chosen
    compare_frames(df.toPandas(), oracle.execute(sql).fetchdf(), want_chosen)


@pytest.mark.parametrize(
    "sql,want_chosen",
    [
        # GLOBAL aggregate: whole-fact COUNT answered from the cube
        ("SELECT COUNT(*) AS n FROM lineitem", "pricing_cube"),
        # filtered global, empty input: COUNT must come back 0, not NULL
        (
            "SELECT COUNT(*) AS n, COUNT(l_quantity) AS nq FROM lineitem"
            " WHERE l_shipdate >= TIMESTAMP '2031-01-01 00:00:00'",
            "pricing_cube",
        ),
        # top-k warehouse shape: ORDER BY aggregate DESC + LIMIT
        (
            f"SELECT l_returnflag, l_linestatus, {SUM_SQL['revenue']} AS rev"
            " FROM lineitem GROUP BY l_returnflag, l_linestatus"
            " ORDER BY rev DESC, l_returnflag, l_linestatus LIMIT 3",
            "pricing_cube",
        ),
        # HAVING folds as a post-aggregation filter on the cube path
        (
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
            " GROUP BY l_returnflag HAVING COUNT(*) > 100"
            " ORDER BY l_returnflag",
            "pricing_cube",
        ),
        # MIN/MAX re-derive from the cube's stored int64 partials
        (
            "SELECT l_returnflag, MIN(l_quantity) AS mn,"
            " MAX(l_extendedprice) AS mx FROM lineitem"
            " WHERE l_shipdate <= TIMESTAMP '2001-03-15 00:00:00'"
            " GROUP BY l_returnflag ORDER BY l_returnflag",
            "pricing_cube",
        ),
        # monthly rollup: a coarser time grain folds exactly onto the
        # day-grained cube (coarse groups are unions of stored groups)
        (
            "SELECT date_trunc('month', l_shipdate) AS ship_month,"
            " SUM(l_quantity) AS sq, COUNT(*) AS n FROM lineitem"
            " GROUP BY ship_month ORDER BY ship_month",
            "pricing_cube",
        ),
        # COUNT(DISTINCT cube-key): the shipdate value set folds on
        # the cube (distinct-over-stored ≡ distinct-over-raw)
        (
            "SELECT l_returnflag, COUNT(DISTINCT l_shipdate) AS days,"
            " COUNT(*) AS n FROM lineitem"
            " GROUP BY l_returnflag ORDER BY l_returnflag",
            "pricing_cube",
        ),
        # COUNT(DISTINCT non-key): the cube can't store the supplier
        # value set, so the raw plan carries the column
        (
            "SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS supps"
            " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
            "raw",
        ),
        # DISTINCT shape (GROUP BY with no aggregates): key combos are
        # a projection of stored group keys
        (
            "SELECT l_returnflag FROM lineitem GROUP BY l_returnflag"
            " ORDER BY l_returnflag",
            "pricing_cube",
        ),
        # SELECT DISTINCT spelling of the same shape
        (
            "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"
            " ORDER BY l_returnflag, l_linestatus",
            "pricing_cube",
        ),
        # IN list, NOT IN, and != predicates fold on group-key columns
        (
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
            " WHERE l_returnflag IN ('A', 'R') GROUP BY l_returnflag"
            " ORDER BY l_returnflag",
            "pricing_cube",
        ),
        (
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
            " WHERE l_returnflag NOT IN ('A') AND l_linestatus != 'F'"
            " GROUP BY l_returnflag ORDER BY l_returnflag",
            "pricing_cube",
        ),
        # an OR across group-key columns is constant within each stored
        # group, so the boolean tree folds exactly
        (
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sq"
            " FROM lineitem WHERE l_returnflag = 'R' OR l_linestatus = 'O'"
            " GROUP BY l_returnflag, l_linestatus"
            " ORDER BY l_returnflag, l_linestatus",
            "pricing_cube",
        ),
        # full-chain join with NO dimension attribute referenced: the
        # declared chain is semantically meaningful (inner joins may
        # drop orphan fact rows); round 7 the 450-row segment cube is
        # the cheapest chain-4 candidate and claims the global count
        (
            "SELECT count(*) AS c FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey",
            "segment_cube",
        ),
        # market-segment grouping: round 7 the segment cube stores it
        (
            "SELECT c_mktsegment, count(*) AS n FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " GROUP BY c_mktsegment ORDER BY c_mktsegment",
            "segment_cube",
        ),
        # order-date time grain over the full chain: o_orderdate is
        # stored per order in the denorm at full resolution
        (
            "SELECT date_trunc('month', o_orderdate) AS om, count(*) AS n"
            " FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " GROUP BY om ORDER BY om",
            "order_revenue_star",
        ),
        # DISTINCT over a chain-4 dimension attribute
        (
            "SELECT DISTINCT r_name FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " ORDER BY r_name",
            "star_date_cube",
        ),
        # PREFIX chain (lineitem⋈orders only): no projection stores a
        # chain-1 o_orderdate grain (registry user views claim the
        # status/priority chain-1 shapes since q20/q12 deploy them),
        # so the generalized raw plan answers it
        (
            "SELECT date_trunc('month', o_orderdate) AS om, count(*) AS n"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " GROUP BY om ORDER BY om",
            "raw",
        ),
        # mixed local+star grouping: the widened star cube stores both
        # attribute kinds (returnflag/linestatus x region/nation x day)
        (
            "SELECT l_returnflag, r_name, count(*) AS n FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " GROUP BY l_returnflag, r_name ORDER BY l_returnflag, r_name",
            "star_date_cube",
        ),
        # mixed grouping over a PER-ORDER attribute: round 7 this is
        # the segment cube's home family (every key has a fixed
        # domain, 450 rows at any scale)
        (
            "SELECT c_mktsegment, l_linestatus, count(*) AS n FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " GROUP BY c_mktsegment, l_linestatus"
            " ORDER BY c_mktsegment, l_linestatus",
            "segment_cube",
        ),
        # DATED per-order grouping: o_orderdate is the per-order
        # attribute the segment cube refuses (cubing it would grow
        # toward the order count) and this shape carries a measure the
        # rollup pair lacks — the zero-exchange spine keeps it
        (
            "SELECT c_mktsegment, l_linestatus,"
            " CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS q,"
            " date_trunc('month', o_orderdate) AS om, count(*) AS n"
            " FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " GROUP BY c_mktsegment, l_linestatus, om"
            " ORDER BY c_mktsegment, l_linestatus, om",
            "bucketed_spine",
        ),
    ],
)
def test_extended_family_matches_duckdb(spark, sf_dir, oracle, sql, want_chosen):
    """Global aggregates, HAVING, DESC ordering, and LIMIT route and
    agree with DuckDB running the identical text on the raw tables."""
    df, chosen = route_sql(spark, sf_dir, sql)
    assert chosen == want_chosen
    compare_frames(df.toPandas(), oracle.execute(sql).fetchdf(), sql[:60])


def test_routed_plan_reads_projection_not_raw(spark, sf_dir):
    from bigdataproj_spark.plans import optimized_plan

    df, chosen = route_sql(spark, sf_dir, PRICING_SQL)
    assert chosen == "pricing_cube"
    plan = optimized_plan(df)
    assert "lineitem.parquet" not in plan, plan


# ---------------------------------------------------------------------------
# (3) Engine.sql: routed by default, verbatim fallback, A/B identical.
# ---------------------------------------------------------------------------


def test_trunc_alias_shadowing_filter_column(spark, sf_dir, oracle):
    """WHERE is pre-projection: a trunc alias that SHADOWS the filtered
    column must not change what the filter sees — the cube path applies
    filters before materializing the alias, same as the raw plan."""
    sql = (
        "SELECT date_trunc('month', l_shipdate) AS l_shipdate,"
        " COUNT(*) AS n FROM lineitem"
        " WHERE l_shipdate <= TIMESTAMP '2001-03-15 00:00:00'"
        " GROUP BY date_trunc('month', l_shipdate) ORDER BY l_shipdate"
    )
    df, chosen = route_sql(spark, sf_dir, sql)
    assert chosen == "pricing_cube"
    compare_frames(df.toPandas(), oracle.execute(sql).fetchdf(), "shadowing")


def test_routed_answer_tracks_incremental_refresh(spark, sf_dir):
    """Freshness end-to-end: a delta lands, the cube delta-merges
    (sources/bucketed.py refresh), and the SQL front door's answer —
    still routed onto the cube — equals DuckDB computing the same
    query over base + delta. This is the full ingest→maintain→route
    loop the at-rest tests prove piecewise."""
    import duckdb
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.sources.bucketed import pricing_cube_table
    from bigdataproj_spark.sources.user_projections import refresh_projection

    sql = (
        f"SELECT l_returnflag, l_linestatus, {SUM_SQL['quantity']} AS sum_qty,"
        " COUNT(*) AS n FROM lineitem"
        " GROUP BY l_returnflag, l_linestatus"
        " ORDER BY l_returnflag, l_linestatus"
    )
    base = pricing_cube_table(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    # reuse existing groups AND mint new shipdate groups (both merge arms)
    delta = li.orderBy("l_orderkey", "l_linenumber").limit(60)
    delta = delta.withColumn(
        "l_shipdate",
        F.when(F.col("l_linenumber") % 2 == 0, F.col("l_shipdate")).otherwise(
            F.col("l_shipdate") + F.expr("INTERVAL 7000 DAYS")
        ),
    )
    try:
        refresh_projection(spark, sf_dir, "pricing_cube", delta)
        df, chosen = route_sql(spark, sf_dir, sql)
        assert chosen == "pricing_cube"
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW base AS SELECT * FROM "
            f"read_parquet('{sf_dir}/lineitem.parquet')"
        )
        con.register("delta", delta.toPandas())
        con.execute(
            "CREATE VIEW combined AS SELECT * FROM base"
            " UNION ALL SELECT * FROM delta"
        )
        want = con.execute(sql.replace("FROM lineitem", "FROM combined")).fetchdf()
        compare_frames(df.toPandas(), want, "routed-after-refresh")
    finally:
        # the delta is synthetic, not fixture data: later tests must see
        # the fixture-derived cube again
        warehouse(spark, sf_dir).projections["pricing_cube"] = base


def test_engine_sql_routes_and_matches_verbatim(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    routed = eng.sql(STAR_SQL).toPandas()
    verbatim = eng.sql(STAR_SQL, routed=False).toPandas()
    assert routed.columns.tolist() == verbatim.columns.tolist()
    assert routed.equals(verbatim)


def test_engine_explain_sql_reports_choice(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    chosen, plan = eng.explain_sql(PRICING_SQL)
    assert chosen == "pricing_cube"
    assert "lineitem.parquet" not in plan
    # COUNT(DISTINCT) joined the family late round 6: a non-key target
    # routes raw (the cube can't store its value set), not spark.sql
    chosen, plan = eng.explain_sql(
        "SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n"
        " FROM lineitem GROUP BY l_returnflag"
    )
    assert chosen == "raw" and plan
    chosen, plan = eng.explain_sql(
        "SELECT CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS sz,"
        " COUNT(*) AS n FROM lineitem GROUP BY sz"
    )
    # the fallback carries its refusal REASON (r6-VERDICT item 7)
    assert chosen.startswith("spark.sql: ") and plan
    chosen, plan = eng.explain_sql(
        "SELECT l_returnflag, rank() OVER (ORDER BY l_quantity) AS r"
        " FROM lineitem"
    )
    assert chosen.startswith("spark.sql: ") and "window" in chosen, chosen


def test_engine_sql_falls_back_outside_family(spark, sf_dir, oracle):
    """A statement the front door refuses still answers via spark.sql."""
    sql = (
        "SELECT CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS sz,"
        " COUNT(*) AS n FROM lineitem GROUP BY sz ORDER BY sz"
    )
    with pytest.raises(UnsupportedSQL):
        parse_sql(sql)
    got = Engine(spark, sf_dir).sql(sql).toPandas()
    compare_frames(got, oracle.execute(sql).fetchdf(), "fallback")


@pytest.mark.parametrize(
    "sql,want_chosen",
    [
        # table alias + qualified column references: matching is on
        # unqualified names, qualification must not break routing
        (
            "SELECT li.l_returnflag, COUNT(*) AS n FROM lineitem li"
            " GROUP BY li.l_returnflag ORDER BY li.l_returnflag",
            "pricing_cube",
        ),
        # flipped join-condition order: the edge SET comparison is
        # orientation-free (chain-1 o_orderdate grain: raw — the
        # status/priority chain-1 shapes belong to registry user views)
        (
            "SELECT date_trunc('month', o_orderdate) AS om, COUNT(*) AS n"
            " FROM lineitem JOIN orders ON o_orderkey = l_orderkey"
            " GROUP BY om ORDER BY om",
            "raw",
        ),
        # reversed BETWEEN bounds: an empty fold must produce the
        # empty result, not an error
        (
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
            " WHERE l_quantity BETWEEN 30 AND 10"
            " GROUP BY l_returnflag ORDER BY l_returnflag",
            "raw",
        ),
        # DATE (not TIMESTAMP) literal against the timestamp group key
        (
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
            " WHERE l_shipdate < DATE '2000-01-01'"
            " GROUP BY l_returnflag ORDER BY l_returnflag",
            "pricing_cube",
        ),
    ],
)
def test_adversarial_boundary_routes_and_matches(spark, sf_dir, oracle, sql, want_chosen):
    """Shapes NEAR the family boundary that must route (not refuse)
    and still match DuckDB running the identical text."""
    df, chosen = route_sql(spark, sf_dir, sql)
    assert chosen == want_chosen
    compare_frames(df.toPandas(), oracle.execute(sql).fetchdf(), sql[:60])


# ---------------------------------------------------------------------------
# Round 7 (r6-VERDICT item 7): OVER-clause statements fall back
# verbatim — fuzzed. parse_sql must REFUSE every drawn statement with
# the window-function reason (never mis-lower one onto a projection),
# and Engine.sql's spark.sql fallback must match DuckDB running the
# identical string. Window functions drawn integer-valued
# (rank/dense_rank/count) so the exact-compare harness applies;
# ordering keys may tie, which rank/dense_rank resolve
# deterministically.
# ---------------------------------------------------------------------------

import os as _os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_FUZZ_SCALE = int(_os.environ.get("FUZZ_SCALE", "1"))

_over_statements = st.fixed_dictionaries(
    {
        "wfn": st.sampled_from(["rank()", "dense_rank()", "count(*)"]),
        "partition": st.sampled_from(
            [None, "l_returnflag", "l_linestatus"]
        ),
        "order": st.sampled_from(["l_quantity", "l_extendedprice"]),
        "filt": st.sampled_from(
            [None, "l_quantity <= 10", "l_orderkey <= 400"]
        ),
    }
)


def _over_sql(p) -> str:
    over = []
    if p["partition"]:
        over.append(f"PARTITION BY {p['partition']}")
    if p["wfn"] != "count(*)":
        # rank needs an ordering; count(*) measures the whole partition
        over.append(f"ORDER BY {p['order']}")
    sql = (
        f"SELECT l_orderkey, l_linenumber, l_returnflag, "
        f"{p['wfn']} OVER ({' '.join(over)}) AS w FROM lineitem"
    )
    if p["filt"]:
        sql += f" WHERE {p['filt']}"
    return sql


@given(p=_over_statements)
@settings(
    max_examples=10 * _FUZZ_SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_over_statement_falls_back_and_matches(spark, sf_dir, oracle, p):
    sql = _over_sql(p)
    with pytest.raises(UnsupportedSQL, match="window"):
        parse_sql(sql)
    eng = Engine(spark, sf_dir)
    chosen, _plan = eng.explain_sql(sql)
    assert chosen.startswith("spark.sql: ") and "window" in chosen, chosen
    got = eng.sql(sql).toPandas()
    want = oracle.execute(sql).fetchdf()
    compare_frames(got, want, f"over-fuzz {sql}")


# ---------------------------------------------------------------------------
# (5) Characterization table: statement -> lowered spec, or refusal.
# Driver-only (no Spark). It pins the lowering of both families: every
# aggregate spelling, the FROM shapes, trunc gating and the clause
# refusals, so a change to the lowering cannot move a statement
# between "routed as this spec" and "run verbatim" unnoticed.
# ---------------------------------------------------------------------------

from bigdataproj_spark.plans.routing import (  # noqa: E402
    TableAggQuery,
    TableScanQuery,
)
from bigdataproj_spark.plans.sqlfront import (  # noqa: E402
    CNT_SRC,
    CORPUS_AVG_SQL,
    CORPUS_MAX_SQL,
    CORPUS_MIN_SQL,
    CORPUS_SUM_SQL,
    MAX_SQL,
    MIN_SQL,
)

_STAR = (
    "lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
)
# the full chain plus both arms: every lineitem measure is reachable
_ARMS = (
    _STAR + " JOIN part ON l_partkey = p_partkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
)
_REFUSED = UnsupportedSQL
_N = (AggCall("count_star", None, "n"),)
_FNS = ("sum", "avg", "count", "min", "max")


def _star_agg(fn: str, measure: str) -> AggQuery:
    return AggQuery(
        (), (), (AggCall(fn, measure, "x"),), chain=4, part=True, supp=True
    )


def _corpus_agg(table: str, fn: str, measure: str) -> TableAggQuery:
    return TableAggQuery(table, (), (), (AggCall(fn, measure, "x"),))


_SPELLINGS = [
    # canonical DECIMAL forms of every lineitem measure
    *[
        (f"SELECT {sql[m]} AS x FROM {_ARMS}", _star_agg(fn, m))
        for m in SUM_SQL
        for fn, sql in (("sum", SUM_SQL), ("min", MIN_SQL), ("max", MAX_SQL))
    ],
    # canonical AVG: the canonical SUM over COUNT of the source column
    *[
        (f"SELECT {SUM_SQL[m]} / COUNT({c}) AS x FROM {_ARMS}", _star_agg("avg", m))
        for m, c in CNT_SRC.items()
    ],
    # derived measures have no source column, so no quotient is their AVG
    *[
        (f"SELECT {SUM_SQL[m]} / COUNT(l_quantity) AS x FROM {_ARMS}", _REFUSED)
        for m in ("revenue", "charge")
    ],
    (f"SELECT {SUM_SQL['quantity']} / COUNT(l_discount) AS x FROM lineitem", _REFUSED),
    # plain one-column spellings, and the plain SUM/COUNT quotient
    *[
        (f"SELECT {fn.upper()}({c}) AS x FROM {_ARMS}", _star_agg(fn, m))
        for m, c in CNT_SRC.items()
        for fn in _FNS
    ],
    *[
        (f"SELECT SUM({c}) / COUNT({c}) AS x FROM {_ARMS}", _star_agg("avg", m))
        for m, c in CNT_SRC.items()
    ],
    (
        "select sum(L_QUANTITY) / count(lineitem.l_quantity) as x from lineitem",
        AggQuery((), (), (AggCall("avg", "quantity", "x"),)),
    ),
    ("SELECT SUM(l_quantity) FROM lineitem", _REFUSED),  # no alias
    ("SELECT COUNT(l_returnflag) AS x FROM lineitem", _REFUSED),  # not a measure
    # an arm measure needs its join
    ("SELECT SUM(o_totalprice) AS t FROM lineitem", _REFUSED),
    (
        "SELECT SUM(p_retailprice) AS t FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey",
        _REFUSED,
    ),
    # canonical forms of every corpus measure (AVG spelled as one snippet)
    *[
        (f"SELECT {sql[t][m]} AS x FROM {t}", _corpus_agg(t, fn, m))
        for t in CORPUS_SUM_SQL
        for m in CORPUS_SUM_SQL[t]
        for fn, sql in (
            ("sum", CORPUS_SUM_SQL),
            ("min", CORPUS_MIN_SQL),
            ("max", CORPUS_MAX_SQL),
            ("avg", CORPUS_AVG_SQL),
        )
    ],
    *[
        (f"SELECT {fn.upper()}({c}) AS x FROM {t}", _corpus_agg(t, fn, m))
        for t, c, m in (("documents", "n_chars", "chars"), ("events", "value", "value"))
        for fn in _FNS
    ],
    # the plain quotient is not a corpus AVG spelling
    ("SELECT SUM(value) / COUNT(value) AS x FROM events", _REFUSED),
    ("SELECT SUM(n_chars) / COUNT(n_chars) AS x FROM documents", _REFUSED),
]

_SHAPES = [
    # trunc gating: o_orderdate needs the order join
    (
        "SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n"
        " FROM lineitem GROUP BY m",
        _REFUSED,
    ),
    (
        "SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey GROUP BY m",
        AggQuery((), ("m",), _N, (("m", "month", "o_orderdate"),)),
    ),
    (
        "SELECT date_trunc('week', l_shipdate) AS w, COUNT(*) AS n"
        " FROM lineitem GROUP BY w",
        _REFUSED,
    ),
    (
        "SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n FROM events GROUP BY h",
        TableAggQuery("events", (), ("h",), _N, (("h", "hour", "ts"),)),
    ),
    (
        "SELECT date_trunc('month', ts) AS m, COUNT(*) AS n FROM lineitem GROUP BY m",
        _REFUSED,
    ),
    (
        "SELECT date_trunc('month', n_chars) AS m, COUNT(*) AS n"
        " FROM documents GROUP BY m",
        _REFUSED,
    ),
    (
        "SELECT date_trunc('day', ts) AS d, COUNT(*) AS n FROM events"
        " GROUP BY date_trunc('month', ts)",
        _REFUSED,
    ),
    ("SELECT date_trunc('day', l_shipdate) AS d FROM lineitem", _REFUSED),
    ("SELECT date_trunc('day', ts) AS d FROM events", _REFUSED),
    # HAVING on a scan, and on an aggregate
    ("SELECT l_orderkey FROM lineitem HAVING COUNT(*) > 0", _REFUSED),
    (
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
        " GROUP BY l_returnflag HAVING COUNT(*) > 5",
        AggQuery((), ("l_returnflag",), _N),
    ),
    (
        "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang HAVING COUNT(*) > 5",
        TableAggQuery("documents", (), ("lang",), _N),
    ),
    # dimension joins, single and doubled
    (
        f"SELECT n_name, COUNT(*) AS n FROM {_STAR} GROUP BY n_name",
        AggQuery((), ("n_name",), _N, chain=4),
    ),
    (
        "SELECT p_brand, s_name, COUNT(*) AS n FROM lineitem"
        " JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey"
        " GROUP BY p_brand, s_name",
        AggQuery((), ("p_brand", "s_name"), _N, part=True, supp=True),
    ),
    (
        "SELECT o_orderstatus, COUNT(*) AS n FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey"
        " JOIN orders o2 ON l_orderkey = o2.o_orderkey GROUP BY o_orderstatus",
        AggQuery((), ("o_orderstatus",), _N),
    ),
    (
        "SELECT e_category, COUNT(*) AS n FROM events"
        " JOIN event_types ON event_type = et_id GROUP BY e_category",
        TableAggQuery("events", (), ("e_category",), _N, dims=("event_types",)),
    ),
    (
        "SELECT s_kind, COUNT(*) AS n FROM documents JOIN sources ON source = src_id"
        " JOIN sources s2 ON source = s2.src_id GROUP BY s_kind",
        TableAggQuery("documents", (), ("s_kind",), _N, dims=("sources",)),
    ),
    (
        "SELECT s_kind, COUNT(*) AS n FROM documents JOIN sources ON source = src_id"
        " JOIN event_types ON source = et_id GROUP BY s_kind",
        _REFUSED,
    ),
    (
        "SELECT s_kind, COUNT(*) AS n FROM documents"
        " JOIN sources ON lang = src_id GROUP BY s_kind",
        _REFUSED,
    ),
    ("SELECT s_kind, COUNT(*) AS n FROM documents GROUP BY s_kind", _REFUSED),
    # a lineitem-corpus join, and two corpus facts
    ("SELECT COUNT(*) AS n FROM lineitem JOIN documents ON l_orderkey = doc_id", _REFUSED),
    ("SELECT COUNT(*) AS n FROM documents JOIN events ON doc_id = event_id", _REFUSED),
    ("SELECT l_orderkey FROM lineitem, orders WHERE l_orderkey = o_orderkey", _REFUSED),
    ("SELECT 1 AS one", _REFUSED),
    # DISTINCT
    (
        "SELECT DISTINCT o_orderstatus FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey",
        AggQuery((), ("o_orderstatus",), ()),
    ),
    (
        "SELECT DISTINCT lang, source FROM documents",
        TableAggQuery("documents", (), ("lang", "source"), ()),
    ),
    ("SELECT DISTINCT nosuch FROM documents", _REFUSED),
    # a DISTINCT key must be a column the FROM clause reaches
    ("SELECT DISTINCT nosuch FROM lineitem", _REFUSED),
    ("SELECT DISTINCT o_orderstatus FROM lineitem", _REFUSED),
    ("SELECT DISTINCT l_returnflag FROM lineitem GROUP BY l_returnflag", _REFUSED),
    ("SELECT DISTINCT l_returnflag, COUNT(*) AS n FROM lineitem", _REFUSED),
    # COUNT(DISTINCT) targets
    (
        "SELECT COUNT(DISTINCT o_orderstatus) AS n FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey",
        AggQuery((), (), (AggCall("count_distinct", "o_orderstatus", "n"),)),
    ),
    ("SELECT COUNT(DISTINCT o_custkey) AS n FROM lineitem", _REFUSED),
    (
        "SELECT COUNT(DISTINCT user_id) AS n FROM events",
        TableAggQuery("events", (), (), (AggCall("count_distinct", "user_id", "n"),)),
    ),
    ("SELECT COUNT(DISTINCT nosuch) AS n FROM events", _REFUSED),
    # select-list and GROUP BY consistency
    (
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem",
        AggQuery((), (), (*_N, AggCall("sum", "quantity", "q"))),
    ),
    ("SELECT nosuch, COUNT(*) AS n FROM lineitem GROUP BY nosuch", _REFUSED),
    ("SELECT lang, COUNT(*) AS n, COUNT(*) AS n FROM documents GROUP BY lang", _REFUSED),
    ("SELECT l_returnflag, COUNT(*) AS n FROM lineitem", _REFUSED),
    (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem"
        " GROUP BY l_returnflag",
        _REFUSED,
    ),
    (
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
        " GROUP BY l_returnflag, l_linestatus",
        _REFUSED,
    ),
    ("SELECT lang AS l, COUNT(*) AS n FROM documents GROUP BY lang", _REFUSED),
    (
        "SELECT lang, COUNT(*) AS n FROM documents GROUP BY date_trunc('day', ts)",
        _REFUSED,
    ),
    (
        "SELECT l_returnflag, rank() OVER (ORDER BY l_quantity) AS r FROM lineitem",
        _REFUSED,
    ),
    # scans
    (
        "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 10"
        " ORDER BY l_orderkey DESC LIMIT 5",
        ScanQuery(("l_orderkey", "l_quantity"), (Pred("l_quantity", ">", 10),)),
    ),
    (
        "SELECT doc_id, lang FROM documents WHERE lang IN ('en', 'de') ORDER BY doc_id",
        TableScanQuery(
            "documents", ("doc_id", "lang"), (Pred("lang", "in", ("en", "de")),)
        ),
    ),
    (
        "SELECT event_id, ts FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'",
        TableScanQuery(
            "events",
            ("event_id", "ts"),
            (Pred("ts", ">=", "2024-01-10 00:00:00", cast="timestamp"),),
        ),
    ),
    ("SELECT nosuch FROM lineitem", _REFUSED),
    ("SELECT l_orderkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey", _REFUSED),
    ("SELECT doc_id FROM documents JOIN sources ON source = src_id", _REFUSED),
    ("SELECT lang FROM documents ORDER BY doc_id", _REFUSED),
    # a schema-qualified table name
    ("SELECT COUNT(*) AS n FROM other_db.lineitem", _REFUSED),
    ("SELECT lang, COUNT(*) AS n FROM other_db.documents GROUP BY lang", _REFUSED),
]


@pytest.mark.parametrize(
    "sql,want",
    _SPELLINGS + _SHAPES,
    ids=[f"row{i:03d}" for i in range(len(_SPELLINGS) + len(_SHAPES))],
)
def test_lowering_table(sql, want):
    if want is _REFUSED:
        with pytest.raises(UnsupportedSQL):
            parse_sql(sql)
    else:
        assert parse_sql(sql).spec == want, sql


@pytest.mark.parametrize(
    "term,want",
    [
        ("lang", (("lang", True),)),
        ("lang DESC", (("lang", False),)),
        # Spark's own placement (first ascending, last descending) is
        # what the routed sort applies, so the explicit form routes
        ("lang NULLS FIRST", (("lang", True),)),
        ("lang ASC NULLS FIRST", (("lang", True),)),
        ("lang DESC NULLS LAST", (("lang", False),)),
        # the other placement cannot be expressed by the routed sort
        ("lang DESC NULLS FIRST", _REFUSED),
        ("lang ASC NULLS LAST", _REFUSED),
        ("lang NULLS LAST", _REFUSED),
    ],
)
def test_explicit_null_order(term, want):
    sql = f"SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang ORDER BY {term} LIMIT 2"
    if want is _REFUSED:
        with pytest.raises(UnsupportedSQL, match="NULLS"):
            parse_sql(sql)
    else:
        assert parse_sql(sql).order == want


def test_explicit_null_order_matches_verbatim(spark, sf_dir, tmp_path):
    """Over a column holding a NULL (inserted here), Engine.sql returns
    the verbatim rows for every placement: the one the routed sort
    cannot express runs verbatim, the others route."""
    from bigdataproj_spark.catalog import TABLES
    from bigdataproj_spark.catalog import table as _table

    for t in TABLES:
        _table(spark, sf_dir, t).write.parquet(str(tmp_path / f"{t}.parquet"))
    eng = Engine(spark, str(tmp_path))
    eng.sql(
        "INSERT INTO documents (doc_id, text, lang, source, n_chars)"
        " VALUES (900000001, 'abc', NULL, 'src91', 3)"
    )
    for term, routed in (
        ("lang DESC NULLS FIRST", False),
        ("lang ASC NULLS LAST", False),
        ("lang DESC NULLS LAST", True),
        ("lang", True),
    ):
        sql = (
            "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang"
            f" ORDER BY {term} LIMIT 2"
        )
        chosen, _plan = eng.explain_sql(sql)
        assert chosen.startswith("spark.sql: ") != routed, (term, chosen)
        got = [tuple(r) for r in eng.sql(sql).collect()]
        want = [tuple(r) for r in eng.sql(sql, routed=False).collect()]
        assert got == want, (term, got, want)


def test_qualified_dim_name_is_not_the_engines(spark, sf_dir, tmp_path):
    """A schema-qualified ``sources`` names another database's table:
    it is not among the statement's warehouse tables, and the verbatim
    fallback neither deploys nor registers the engine's ``sources``
    view for it (the statement then fails as Spark fails it)."""
    import shutil

    from pyspark.errors import AnalysisException

    from bigdataproj_spark.catalog import TABLES
    from bigdataproj_spark.plans.sqlfront import mentioned_tables
    from bigdataproj_spark.sources.state import session_state

    sql = "SELECT s_kind FROM other_db.sources"
    assert mentioned_tables(sql) == frozenset()
    for t in TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    existed = spark.catalog.tableExists("sources")
    with pytest.raises(AnalysisException):
        Engine(spark, str(tmp_path)).sql(sql)
    assert session_state(spark).dim_views.get("sources") != str(tmp_path)
    assert spark.catalog.tableExists("sources") == existed
