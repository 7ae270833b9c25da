"""Characterization table for the routers over every fact table: each
row is one spec and the layout its router chooses, or the refusal it
raises (exception class and a fragment of its message).

Driver-side plans only: the rows build the routed DataFrame and never
collect it. The warehouse is a private copy of the fixture, so no user
view deployed elsewhere in the session can claim a row.
"""

import shutil

import pytest

from bigdataproj_spark.catalog import TABLES
from bigdataproj_spark.plans.routing import (
    AggCall,
    AggQuery,
    BoolPred,
    Pred,
    ScanQuery,
    TableAggQuery,
    TableScanQuery,
    route,
    route_scan,
)
from bigdataproj_spark.plans.sqlfront import SUM_SQL, UnsupportedSQL, route_spec, route_sql
from bigdataproj_spark.testing import compare_frames

_N = AggCall("count_star", None, "n")
_REV = AggCall("sum", "revenue", "rev")
_DAY = "2000-01-01 00:00:00"


def _ts(col, op, value):
    return Pred(col, op, value, cast="timestamp")


# (id, spec, chosen layout | (exception class name, message fragment))
_ROWS = [
    # --- lineitem: built-in cubes ---------------------------------------
    (
        "li_pricing_cube",
        AggQuery(
            (_ts("l_shipdate", "<=", "2001-03-15 00:00:00"),),
            ("l_returnflag", "l_linestatus"),
            (AggCall("sum", "quantity", "q"), AggCall("avg", "base_price", "p"), _N),
        ),
        "pricing_cube",
    ),
    ("li_global_count", AggQuery((), (), (_N,)), "pricing_cube"),
    (
        "li_month_trunc",
        AggQuery((), ("m",), (_REV,), (("m", "month", "l_shipdate"),)),
        "pricing_cube",
    ),
    (
        "li_segment_cube",
        AggQuery((), ("c_mktsegment", "o_orderpriority"), (_REV, _N), chain=4),
        "segment_cube",
    ),
    ("li_star_cube", AggQuery((), ("r_name", "n_name"), (_REV, _N)), "star_date_cube"),
    (
        "li_star_sketch",
        AggQuery(
            (_ts("l_shipdate", ">=", _DAY),),
            ("r_name",),
            (AggCall("approx_distinct", "l_suppkey", "s"), _N),
            chain=4,
        ),
        "star_date_cube",
    ),
    ("li_star_distinct", AggQuery((), ("r_name", "l_returnflag"), ()), "star_date_cube"),
    (
        "li_order_revenue_star",
        AggQuery(
            (), ("c_mktsegment", "m"), (_REV, _N), (("m", "month", "o_orderdate"),),
            chain=4,
        ),
        "order_revenue_star",
    ),
    # --- lineitem: the bucketed spine -----------------------------------
    (
        "li_spine_mixed_group",
        AggQuery((), ("r_name", "l_quantity"), (AggCall("sum", "quantity", "q"),)),
        "bucketed_spine",
    ),
    (
        "li_spine_count_distinct",
        AggQuery((), ("r_name",), (AggCall("count_distinct", "l_partkey", "d"),)),
        "bucketed_spine",
    ),
    (
        "li_spine_distinct",
        AggQuery((), ("r_name", "l_quantity"), ()),
        "bucketed_spine",
    ),
    (
        "li_spine_star_filter",
        AggQuery(
            (Pred("r_name", "=", "ASIA"), Pred("l_discount", "<=", 0.05)),
            ("n_name",),
            (AggCall("avg", "quantity", "q"), AggCall("min", "revenue", "lo")),
        ),
        "bucketed_spine",
    ),
    # --- lineitem: the raw plan -----------------------------------------
    (
        "li_raw_local",
        AggQuery((Pred("l_discount", "<=", 0.05),), ("l_returnflag",), (_REV, _N)),
        "raw",
    ),
    ("li_raw_local_distinct", AggQuery((), ("l_quantity",), ()), "raw"),
    (
        "li_raw_partial_chain1",
        AggQuery(
            (Pred("o_orderstatus", "=", "F"),),
            ("o_orderpriority", "l_returnflag"),
            (_REV, AggCall("max", "quantity", "mx"), AggCall("count", "discount", "c")),
        ),
        "raw",
    ),
    (
        "li_raw_partial_distinct",
        AggQuery((), ("o_orderstatus",), ()),
        "raw",
    ),
    (
        "li_raw_partial_count_distinct",
        AggQuery((), ("o_orderstatus",), (AggCall("count_distinct", "l_suppkey", "d"),)),
        "raw",
    ),
    (
        "li_raw_order_trunc",
        AggQuery((), ("m",), (_REV,), (("m", "year", "o_orderdate"),)),
        "raw",
    ),
    (
        "li_raw_deeper_chain",
        AggQuery((), ("l_returnflag",), (_REV,), chain=2),
        "raw",
    ),
    (
        "li_raw_part_arm",
        AggQuery((Pred("p_size", "<", 10),), ("p_brand",), (_REV, _N), part=True),
        "raw",
    ),
    (
        "li_raw_part_no_attr",
        AggQuery((), ("l_returnflag",), (_N,), part=True),
        "raw",
    ),
    (
        "li_raw_triple_arm",
        AggQuery(
            (), ("r_name", "p_brand", "s_name"), (_REV,), part=True, supp=True,
        ),
        "raw",
    ),
    (
        "li_raw_arm_measures",
        AggQuery(
            (),
            ("p_brand",),
            (
                AggCall("sum", "part_retail", "pr"),
                AggCall("avg", "order_total", "ot"),
                AggCall("max", "supp_acctbal", "sa"),
            ),
            part=True,
            supp=True,
        ),
        "raw",
    ),
    (
        "li_raw_approx_chain1",
        AggQuery((), ("o_orderstatus",), (AggCall("approx_distinct", "l_partkey", "a"),)),
        "raw",
    ),
    (
        "li_raw_part_distinct",
        AggQuery((), ("p_brand", "l_returnflag"), (), part=True),
        "raw",
    ),
    # --- lineitem: a conjunct mixing the fact and an arm ----------------
    (
        "li_mixed_part_row_level",
        AggQuery(
            (BoolPred("or", (Pred("l_quantity", ">", 40), Pred("p_size", "<", 5))),),
            ("p_brand",),
            (_N,),
            part=True,
        ),
        "raw",
    ),
    (
        "li_mixed_chain1_partial",
        AggQuery(
            (BoolPred("or", (Pred("l_quantity", ">", 40), Pred("o_orderstatus", "=", "F"))),),
            ("l_returnflag",),
            (_N,),
        ),
        ("ValueError", "mixing columns"),
    ),
    (
        "li_mixed_chain4_spine",
        AggQuery(
            (BoolPred("or", (Pred("l_quantity", ">", 40), Pred("r_name", "=", "ASIA"))),),
            ("l_returnflag",),
            (_N,),
            chain=4,
        ),
        ("ValueError", "mixing columns"),
    ),
    # --- lineitem: refusals ---------------------------------------------
    (
        "li_unknown_measure",
        AggQuery((), ("l_returnflag",), (AggCall("sum", "nosuch", "x"),)),
        ("ValueError", "unknown measure 'nosuch'"),
    ),
    (
        "li_trunc_non_timestamp",
        AggQuery((), ("m",), (_N,), (("m", "month", "l_quantity"),)),
        ("ValueError", "non-timestamp"),
    ),
    (
        "li_unknown_group",
        AggQuery((), ("nosuch",), (_N,)),
        ("ValueError", "nosuch"),
    ),
    (
        "li_unknown_count_distinct",
        AggQuery((), ("l_returnflag",), (AggCall("count_distinct", "nosuch", "d"),)),
        ("ValueError", "nosuch"),
    ),
    (
        "li_part_attr_without_arm",
        AggQuery((), ("p_brand",), (_N,)),
        ("ValueError", "part join"),
    ),
    (
        "li_supp_attr_without_arm",
        AggQuery((Pred("s_name", "=", "x"),), ("l_returnflag",), (_N,)),
        ("ValueError", "supplier join"),
    ),
    (
        "li_part_measure_without_arm",
        AggQuery((), ("l_returnflag",), (AggCall("sum", "part_retail", "x"),)),
        ("ValueError", "part join"),
    ),
    (
        "li_chain_too_shallow",
        AggQuery((), ("r_name",), (_N,), chain=1),
        ("ValueError", "cannot reach"),
    ),
    # --- lineitem scans -------------------------------------------------
    (
        "li_scan_zorder",
        ScanQuery(("l_partkey", "l_quantity"), (Pred("l_partkey", "<", 50),)),
        "zorder_lineitem",
    ),
    (
        "li_scan_dated",
        ScanQuery(("l_orderkey", "l_shipdate"), (_ts("l_shipdate", ">=", _DAY),)),
        "dated_lineitem",
    ),
    ("li_scan_raw", ScanQuery(("l_orderkey", "l_tax"), ()), "raw"),
    (
        "li_scan_zorder_key_and_date",
        ScanQuery(
            ("l_partkey", "l_shipdate"),
            (Pred("l_partkey", "<", 50), _ts("l_shipdate", ">=", _DAY)),
        ),
        "dated_lineitem",
    ),
    (
        "li_scan_zorder_key_unstored_column",
        ScanQuery(("l_partkey", "l_tax"), (Pred("l_partkey", "<", 50),)),
        "raw",
    ),
    (
        "li_scan_zorder_key_in_or",
        ScanQuery(
            ("l_partkey", "l_quantity"),
            (BoolPred("or", (Pred("l_partkey", "<", 50), Pred("l_quantity", ">", 40))),),
        ),
        "raw",
    ),
    (
        "li_scan_unknown_column",
        ScanQuery(("nosuch",), ()),
        ("ValueError", "unknown column 'nosuch'"),
    ),
    # --- documents and events: built-in cubes ---------------------------
    (
        "docs_cube",
        TableAggQuery(
            "documents", (), ("lang",),
            (AggCall("sum", "tokens", "t"), AggCall("avg", "chars", "c"), _N),
        ),
        "docs_stats_cube",
    ),
    ("docs_cube_distinct", TableAggQuery("documents", (), ("lang", "source"), ()), "docs_stats_cube"),
    (
        "docs_cube_dim",
        TableAggQuery(
            "documents", (Pred("s_tier", "=", "gold"),), ("s_kind",),
            (AggCall("sum", "chars", "c"),), dims=("sources",),
        ),
        "docs_stats_cube",
    ),
    (
        "docs_cube_unused_dim",
        TableAggQuery("documents", (), ("lang",), (_N,), dims=("sources",)),
        "docs_stats_cube",
    ),
    (
        "events_cube_hour_fold",
        TableAggQuery(
            "events", (_ts("ts", ">=", "2024-01-15 00:00:00"),), ("d",),
            (AggCall("sum", "value", "v"),), (("d", "day", "ts"),),
        ),
        "events_hourly_cube",
    ),
    (
        "events_cube_sketch",
        TableAggQuery(
            "events", (), ("event_type",),
            (AggCall("approx_distinct", "user_id", "u"), _N),
        ),
        "events_hourly_cube",
    ),
    (
        "events_cube_dim",
        TableAggQuery(
            "events", (), ("e_category",), (AggCall("max", "value", "v"),),
            dims=("event_types",),
        ),
        "events_hourly_cube",
    ),
    # --- documents and events: the raw plan -----------------------------
    (
        "docs_raw_local",
        TableAggQuery(
            "documents", (Pred("n_chars", ">=", 150),), ("lang",),
            (AggCall("sum", "stopwords", "s"), AggCall("count", "tokens", "c")),
        ),
        "raw",
    ),
    (
        "docs_raw_dim",
        TableAggQuery(
            "documents", (Pred("n_chars", ">=", 150),), ("s_tier",),
            (AggCall("sum", "chars", "c"),), dims=("sources",),
        ),
        "raw",
    ),
    ("docs_raw_distinct", TableAggQuery("documents", (), ("doc_id",), ()), "raw"),
    (
        "events_raw_off_boundary",
        TableAggQuery(
            "events", (_ts("ts", ">=", "2024-01-15 00:30:00"),), ("event_type",),
            (AggCall("avg", "value", "v"),),
        ),
        "raw",
    ),
    (
        "events_cube_hour_group",
        TableAggQuery(
            "events", (), ("h",), (_N,), (("h", "hour", "ts"),),
        ),
        "events_hourly_cube",
    ),
    (
        "events_raw_count_distinct",
        TableAggQuery("events", (), ("event_type",), (AggCall("count_distinct", "user_id", "u"),)),
        "raw",
    ),
    (
        "events_raw_dim_mixed",
        TableAggQuery(
            "events",
            (BoolPred("or", (Pred("value", ">", 50.0), Pred("e_category", "=", "commerce"))),),
            ("e_category",),
            (_N,),
            dims=("event_types",),
        ),
        "raw",
    ),
    # --- documents and events: refusals ---------------------------------
    (
        "corpus_unknown_column",
        TableAggQuery("documents", (Pred("bogus", "=", 1),), ("lang",), (_N,)),
        ("ValueError", "unknown column"),
    ),
    (
        "corpus_unknown_table",
        TableAggQuery("tweets", (), ("lang",), (_N,)),
        ("ValueError", "unknown corpus table"),
    ),
    (
        "corpus_trunc_non_timestamp",
        TableAggQuery("documents", (), ("g",), (_N,), (("g", "month", "lang"),)),
        ("ValueError", "non-timestamp"),
    ),
    (
        "corpus_trunc_unit",
        TableAggQuery("events", (), ("g",), (_N,), (("g", "minute", "ts"),)),
        ("ValueError", "trunc unit"),
    ),
    (
        "corpus_dim_wrong_table",
        TableAggQuery("events", (), ("event_type",), (_N,), dims=("sources",)),
        ("ValueError", "does not join"),
    ),
    (
        "corpus_dim_attr_without_dim",
        TableAggQuery("documents", (), ("s_kind",), (_N,)),
        ("ValueError", "unknown"),
    ),
    (
        "corpus_unknown_measure",
        TableAggQuery("events", (), ("event_type",), (AggCall("sum", "chars", "c"),)),
        ("ValueError", "unknown measure"),
    ),
    # --- documents and events: scans ------------------------------------
    (
        "events_scan_dated",
        TableScanQuery("events", ("event_id", "ts"), (_ts("ts", ">=", "2024-01-10 00:00:00"),)),
        "dated_events",
    ),
    (
        "docs_scan_clustered",
        TableScanQuery("documents", ("doc_id", "lang"), (Pred("lang", "in", ("en", "de")),)),
        "clustered_documents",
    ),
    ("docs_scan_raw", TableScanQuery("documents", ("doc_id", "n_chars"), ()), "raw"),
    (
        "docs_scan_source_range",
        TableScanQuery(
            "documents", ("doc_id", "source"), (Pred("source", "in", ("src1", "src2")),)
        ),
        "clustered_documents",
    ),
    (
        "docs_scan_n_chars_range",
        TableScanQuery("documents", ("doc_id", "n_chars"), (Pred("n_chars", ">=", 150),)),
        "raw",
    ),
    (
        "events_scan_ts_in_or",
        TableScanQuery(
            "events",
            ("event_id", "ts"),
            (
                BoolPred(
                    "or",
                    (
                        _ts("ts", ">=", "2024-01-10 00:00:00"),
                        Pred("event_type", "=", "click"),
                    ),
                ),
            ),
        ),
        "raw",
    ),
    (
        "corpus_scan_unknown_column",
        TableScanQuery("events", ("nosuch",), ()),
        ("ValueError", "unknown column"),
    ),
]


@pytest.fixture(scope="module")
def private_sf(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("table_model_sf")
    for t in TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def _check(router, spark, sf, spec, want):
    try:
        _df, chosen = router(spark, sf, spec)
    except Exception as e:  # noqa: BLE001 - the refusal is the row's outcome
        got = (type(e).__name__, str(e))
        assert isinstance(want, tuple), got
        assert got[0] == want[0] and want[1] in got[1], got
    else:
        assert chosen == want, chosen


@pytest.mark.parametrize("spec,want", [r[1:] for r in _ROWS], ids=[r[0] for r in _ROWS])
def test_route_table(spark, private_sf, spec, want):
    _check(route_spec, spark, private_sf, spec, want)


@pytest.mark.parametrize("spec,want", [r[1:] for r in _ROWS], ids=[r[0] for r in _ROWS])
def test_route_table_one_entry_per_shape(spark, private_sf, spec, want):
    """The same rows through the two routers called directly: ``route``
    answers every aggregate spec and ``route_scan`` every scan spec,
    whatever the fact table."""
    router = route_scan if isinstance(spec, (ScanQuery, TableScanQuery)) else route
    _check(router, spark, private_sf, spec, want)


_MIXED_SQL = (
    f"SELECT p_brand, COUNT(*) AS n, {SUM_SQL['revenue']} AS rev"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE l_quantity > 40 OR p_size < 5 GROUP BY p_brand ORDER BY p_brand"
)


def test_mixed_conjunct_routes_row_level_and_matches_duckdb(spark, sf_dir, oracle):
    """A conjunct spanning the fact and an arm applies after the joins
    of the row-level plan, and the answer is DuckDB's."""
    df, chosen = route_sql(spark, sf_dir, _MIXED_SQL)
    assert chosen == "raw"
    compare_frames(df.toPandas(), oracle.execute(_MIXED_SQL).fetchdf(), "mixed")


def test_mixed_conjunct_refused_on_the_partial_path(spark, sf_dir):
    """Over the order chain alone the plan aggregates below the join,
    where a mixed conjunct cannot apply: the statement runs verbatim."""
    with pytest.raises(UnsupportedSQL, match="mixing columns"):
        route_sql(
            spark, sf_dir,
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " WHERE l_quantity > 40 OR o_orderstatus = 'F' GROUP BY l_returnflag",
        )
