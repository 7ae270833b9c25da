"""S13 projection auto-routing: the rewrite is plan-asserted, the
subsumption rules are unit-tested on both sides (must-match and
must-NOT-match), and rewrites are equivalence-checked against the raw
plan on real fixture data. The DuckDB bit-identity of the three
registered routed queries lives in the oracle suite
(tests/test_oracle.py) like every other query."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdataproj_spark.plans import physical_plan as plan_of
from bigdataproj_spark.plans.routing import (
    PROJECTIONS,
    AggCall,
    AggQuery,
    Pred,
    _raw_plan,
    route,
)

PRICING = AggQuery(
    filters=(Pred("l_shipdate", "<=", "2001-03-15 00:00:00", cast="timestamp"),),
    group_by=("l_returnflag", "l_linestatus"),
    aggs=(
        AggCall("sum", "quantity", "sum_qty"),
        AggCall("avg", "base_price", "avg_price"),
        AggCall("count_star", None, "count_order"),
    ),
)

STAR = AggQuery(
    filters=(),
    group_by=("r_name", "n_name"),
    aggs=(
        AggCall("sum", "revenue", "revenue"),
        AggCall("count_star", None, "n_items"),
    ),
)


def test_pricing_shape_routes_to_cube_and_skips_raw_scan(spark, sf_dir):
    df, chosen = route(spark, sf_dir, PRICING)
    assert chosen == "pricing_cube"
    plan = plan_of(df)
    # The scan reads the cube's stored partials (qty_i etc. exist only
    # in the projection) out of the layout warehouse — and touches NO
    # raw fixture file, which is the whole point. (Scan paths truncate
    # in the plan string, so assert on schema + warehouse root.)
    assert "qty_i" in plan and "bigdataproj_bucketed_wh" in plan, plan
    assert "lineitem.parquet" not in plan, plan


def test_star_shape_routes_to_star_cube(spark, sf_dir):
    """Round 8: the undated pure-star shape is claimed by the
    scale-invariant star cube (A/B: 3.4x faster than the rollup pair
    at sf5 and flat over corpus size)."""
    df, chosen = route(spark, sf_dir, STAR)
    assert chosen == "star_date_cube"
    plan = plan_of(df)
    assert "star_date" in plan, plan  # scan paths truncate in the plan string
    for raw in ("lineitem.parquet", "orders.parquet", "customer.parquet"):
        assert raw not in plan, plan


def test_order_date_star_shape_keeps_projection_pair(spark, sf_dir):
    """The per-order-attribute + ORDER-DATE family neither cube can
    serve stays on the exchange-free rollup⋈denorm pair."""
    spec = AggQuery(
        filters=(),
        group_by=("c_mktsegment", "om"),
        aggs=(AggCall("sum", "revenue", "revenue"),),
        truncs=(("om", "month", "o_orderdate"),),
        chain=4,  # the declared full chain (q04's SQL family)
    )
    df, chosen = route(spark, sf_dir, spec)
    assert chosen == "order_revenue_star"
    plan = plan_of(df)
    assert "lineitem_rollup" in plan and "orders_denorm" in plan, plan
    assert df.toPandas().equals(_raw_plan(spark, sf_dir, spec).toPandas())


def test_routed_results_equal_raw_plan(spark, sf_dir):
    """Routing is a physical choice only: projection answers must equal
    the raw plan's answers cell-for-cell on the fixture (the DuckDB
    oracle additionally pins both to ANSI SQL)."""
    for spec in (PRICING, STAR):
        routed, chosen = route(spark, sf_dir, spec)
        assert chosen != "raw"
        raw = _raw_plan(spark, sf_dir, spec)
        assert routed.toPandas().equals(raw.toPandas()), spec


def test_non_key_filter_falls_back_to_raw(spark, sf_dir):
    """A predicate NOT on projection group keys must refuse the
    rewrite: cube groups mix discount values, so folding a discount
    filter would drop rows from inside kept groups."""
    spec = AggQuery(
        filters=(Pred("l_discount", "<=", 0.05),),
        group_by=("l_returnflag", "l_linestatus"),
        aggs=(AggCall("sum", "revenue", "rev"),),
    )
    df, chosen = route(spark, sf_dir, spec)
    assert chosen == "raw"
    assert "lineitem" in plan_of(df)


def test_unsupported_aggregate_falls_back_to_raw():
    """AVG needs a stored non-null count: the cube stores none for the
    derived revenue/charge products, so avg(charge) must not match."""
    cube = PROJECTIONS[0]
    ok = AggQuery((), ("l_returnflag",), (AggCall("avg", "quantity", "a"),))
    bad = AggQuery((), ("l_returnflag",), (AggCall("avg", "charge", "a"),))
    assert cube.subsumes(ok)
    assert not cube.subsumes(bad)


def test_ungrouped_attribute_falls_back():
    """Grouping by an attribute a projection does not store must not
    match, while a stored attribute over the same arms does: the raw
    order key on the pricing cube, the order date on the star cube, the
    ship date and the pricing flags on the rollup⋈denorm pair. Each
    spec declares its cube's arm set, so only the attribute decides."""
    by_name = {p.name: p for p in PROJECTIONS}

    def count_by(p, col):
        n = (AggCall("count_star", None, "n"),)
        return AggQuery.of("lineitem", p.arms, (), (col,), n, ())

    cube = by_name["pricing_cube"]
    assert not cube.subsumes(count_by(cube, "l_orderkey"))
    assert cube.subsumes(count_by(cube, "l_returnflag"))
    star = by_name["star_date_cube"]
    assert not star.subsumes(count_by(star, "o_orderdate"))
    assert star.subsumes(count_by(star, "l_shipdate"))
    pair = by_name["order_revenue_star"]
    assert not pair.subsumes(count_by(pair, "l_shipdate"))
    assert not pair.subsumes(count_by(pair, "l_returnflag"))
    assert pair.subsumes(count_by(pair, "o_orderdate"))
    for p in (star, pair):
        assert p.subsumes(count_by(p, "r_name"))


def test_star_filter_routes_and_matches_raw(spark, sf_dir):
    """A dimension-attribute filter (r_name) stays within the star
    projection's attrs, so it routes — and equals the raw star plan."""
    spec = AggQuery(
        filters=(Pred("r_name", "=", "ASIA"),),
        group_by=("n_name",),
        aggs=(
            AggCall("sum", "revenue", "revenue"),
            AggCall("count_star", None, "n_items"),
        ),
    )
    routed, chosen = route(spark, sf_dir, spec)
    assert chosen == "star_date_cube"
    assert routed.toPandas().equals(_raw_plan(spark, sf_dir, spec).toPandas())


def _naive_star_group(spark, sf_dir, group):
    """Row-level 5-table join-then-group over the RAW tables — the
    independent twin the routed mixed-grouping plans must equal."""
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.functions import cents, isum_expr

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(*group)
        .agg(
            isum_expr(
                cents("l_extendedprice") * (100 - cents("l_discount")), 10_000
            ).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(*group)
    )


def test_mixed_local_and_star_grouping_routes_to_star_cube(spark, sf_dir):
    """Mixed local+star grouping over CUBE-STORED attributes: the
    widened star cube keys (region, nation, returnflag, linestatus,
    shipdate), so returnflag x region folds onto ~375k stored partials;
    the answer must equal the naive row-level join-then-group plan."""
    spec = AggQuery(
        filters=(),
        group_by=("l_returnflag", "r_name"),
        aggs=(
            AggCall("sum", "revenue", "rev"),
            AggCall("count_star", None, "n"),
        ),
    )
    routed, chosen = route(spark, sf_dir, spec)
    assert chosen == "star_date_cube"
    naive = _naive_star_group(spark, sf_dir, ("l_returnflag", "r_name"))
    assert routed.toPandas().equals(naive.toPandas())


def test_per_order_mixed_grouping_routes_to_segment_cube(spark, sf_dir):
    """Round 7: the undated segment x flag mix folds onto the 450-row
    segment cube (every key has a fixed domain), bit-identical to the
    naive row-level star plan. The spec DECLARES the full chain (the
    cube's build embodies chain-4 orphan semantics; a bare
    c_mktsegment query implies only chain 2 and stays raw)."""
    spec = AggQuery(
        filters=(),
        group_by=("c_mktsegment", "l_returnflag"),
        aggs=(
            AggCall("sum", "revenue", "rev"),
            AggCall("count_star", None, "n"),
        ),
        chain=4,
    )
    routed, chosen = route(spark, sf_dir, spec)
    assert chosen == "segment_cube"
    plan = plan_of(routed)
    assert "lineitem.parquet" not in plan and "lineitem_bkt" not in plan, plan
    naive = _naive_star_group(spark, sf_dir, ("c_mktsegment", "l_returnflag"))
    assert routed.toPandas().equals(naive.toPandas())


def test_dated_per_order_grouping_routes_to_spine(spark, sf_dir):
    """The spine keeps the shapes the segment cube deliberately
    refuses: o_orderdate is the one per-order attribute whose cubing
    would grow toward the order count, so a (mktsegment x order-month)
    grouping stays on the exchange-free row-level fact⋈denorm join.
    (The rollup pair claims the revenue-only form of this shape; the
    quantity MIN below needs partials only the fact row-level carries.)"""
    spec = AggQuery(
        filters=(),
        group_by=("c_mktsegment", "om"),
        aggs=(
            AggCall("sum", "revenue", "rev"),
            AggCall("min", "quantity", "min_qty"),
        ),
        truncs=(("om", "month", "o_orderdate"),),
        chain=4,
    )
    routed, chosen = route(spark, sf_dir, spec)
    assert chosen == "bucketed_spine", chosen


def test_spine_plan_is_exchange_free_before_final_agg(spark, sf_dir):
    """The spine's load-bearing property, plan-asserted: the bucketed
    fact⋈denorm row-level join introduces NO exchange — the only
    exchanges in the whole plan are the final |groups|-row aggregate
    and the output sort. At fixture scale the denorm would broadcast
    (bypassing the claim), so broadcast is disabled for the assert."""
    spec = AggQuery(
        filters=(),
        group_by=("c_mktsegment", "om", "l_returnflag"),
        aggs=(AggCall("sum", "revenue", "rev"), AggCall("min", "quantity", "mq")),
        truncs=(("om", "month", "o_orderdate"),),
        chain=4,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        routed, chosen = route(spark, sf_dir, spec)
        assert chosen == "bucketed_spine"
        plan = plan_of(routed)
        # the join itself: bucketed scans on both sides, no exchange
        # below it — every Exchange in the plan partitions on OUTPUT
        # group keys (the final agg / sort), never on the join key
        assert "Bucketed: true" in plan, plan
        assert "hashpartitioning(l_orderkey" not in plan, plan
        assert "hashpartitioning(o_orderkey" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_scan_routing_picks_zorder_layout(spark, sf_dir):
    """A range query on the curve keys with covered columns must scan
    the Z-ordered layout (plan reads the layout path, not the raw
    fixture file) and return exactly the raw scan's rows; a query
    touching an uncovered column must fall back to the raw table."""
    from bigdataproj_spark.plans.routing import ScanQuery, route_scan

    spec = ScanQuery(
        columns=("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        filters=(
            Pred("l_partkey", "between", (50, 150)),
            Pred("l_suppkey", "between", (5, 40)),
        ),
    )
    df, chosen = route_scan(spark, sf_dir, spec)
    assert chosen == "zorder_lineitem"
    plan = plan_of(df)
    assert "lineitem_zorder" in plan or "bigdataproj_bucketed_wh" in plan, plan
    assert "lineitem.parquet" not in plan, plan

    from bigdataproj_spark.catalog import table as t

    # (orderkey, linenumber) is NOT unique in the fixture — sort on
    # every projected column so row order is total on both sides
    key = list(spec.columns)
    want = (
        t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_partkey").between(50, 150) & F.col("l_suppkey").between(5, 40)
        )
        .select(*spec.columns)
        .orderBy(*key)
        .toPandas()
    )
    got = df.orderBy(*key).toPandas()
    assert got.equals(want)

    # uncovered column (l_shipdate not stored) -> raw fallback
    fallback = ScanQuery(
        columns=("l_orderkey", "l_shipdate"),
        filters=(Pred("l_partkey", "between", (50, 150)),),
    )
    _, chosen2 = route_scan(spark, sf_dir, fallback)
    assert chosen2 == "raw"
    # no selective curve-key range -> raw fallback (layout buys nothing)
    unselective = ScanQuery(
        columns=("l_orderkey", "l_partkey"),
        filters=(Pred("l_quantity", "<=", 10.0),),
    )
    _, chosen3 = route_scan(spark, sf_dir, unselective)
    assert chosen3 == "raw"


def test_dated_star_routes_to_date_cube_and_matches_raw(spark, sf_dir):
    """A date-filtered star query must route to the star-date cube
    (the rollup pair stores no shipdate and correctly refuses; the
    cube volunteers because the spec involves its required date
    attribute) and equal the raw star plan cell-for-cell. The undated
    star shape must KEEP routing to the rollup pair — the requires
    gate keeps the canonical plan stable."""
    from bigdataproj_spark.plans.routing import _ROUTED_STAR_DATE_SPEC

    routed, chosen = route(spark, sf_dir, _ROUTED_STAR_DATE_SPEC)
    assert chosen == "star_date_cube"
    plan = plan_of(routed)
    assert "lineitem.parquet" not in plan and "customer.parquet" not in plan, plan
    raw = _raw_plan(spark, sf_dir, _ROUTED_STAR_DATE_SPEC)
    assert routed.toPandas().equals(raw.toPandas())
    # the undated star ALSO folds onto the cube (round 8: it claims
    # every shape its key set covers; the pair keeps o_orderdate mixes)
    _, undated_choice = route(spark, sf_dir, STAR)
    assert undated_choice == "star_date_cube"


def test_approx_distinct_folds_on_star_sketch_partials(spark, sf_dir):
    """approx_distinct(l_suppkey/l_partkey) folds onto the star cube's
    HLL sketch partials, equals the raw ROW-LEVEL single-pass sketch
    exactly (union is register-max; duplicates never move a register,
    so pre-grouped rows sketch identically), and lands within the
    sketch's error bound of the true distinct counts. A chain-0 shape
    has no cube with sketches, so it runs the raw plan."""
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.plans.routing import (
        _STAR_SKETCH_SPEC,
        _raw_plan,
        route,
    )

    df, chosen = route(spark, sf_dir, _STAR_SKETCH_SPEC)
    assert chosen == "star_date_cube"
    got = df.toPandas()
    assert got.equals(_raw_plan(spark, sf_dir, _STAR_SKETCH_SPEC).toPandas())
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    od = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    truth = {
        row.r_name: (row.ds, row.dp)
        for row in li.join(od, li.l_orderkey == od.o_orderkey)
        .join(c, od.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.countDistinct("l_suppkey").alias("ds"),
            F.countDistinct("l_partkey").alias("dp"),
        )
        .collect()
    }
    for _, row in got.iterrows():
        ds, dp = truth[row.r_name]
        assert abs(row.approx_suppliers - ds) <= max(2, 0.05 * ds)
        assert abs(row.approx_parts - dp) <= max(2, 0.05 * dp)
    # chain-0: no projection stores sketches for the pricing shape
    q0 = AggQuery(
        (), ("l_returnflag",),
        (AggCall("approx_distinct", "l_suppkey", "a"),),
    )
    _, chosen = route(spark, sf_dir, q0)
    assert chosen == "raw"
