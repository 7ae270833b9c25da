"""Bucketed-table co-located join (SURVEY.md §4 / 100 TB posture).

The biggest repeated cost in a fact-fact pipeline is re-shuffling the
same table on the same key for every join. Bucketing pre-partitions
the data at rest; a join of two tables bucketed on the join key runs
with ZERO exchanges. This is the deploy-time answer for the
lineitem⋈orders spine every TPC-H-shaped query pays for — asserted
here on real saved tables, not claimed in prose.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdataproj_spark.catalog import table
from bigdataproj_spark.plans import physical_plan
from bigdataproj_spark.sources.state import warehouse


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bucketed_wh")
    n = 8
    (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(n, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(wh / "lineitem_b"))  # external table: data in tmp
        .mode("overwrite")
        .saveAsTable("lineitem_b")
    )
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(n, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(wh / "orders_b"))
        .mode("overwrite")
        .saveAsTable("orders_b")
    )
    yield "lineitem_b", "orders_b"
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")


@pytest.fixture()
def no_broadcast(spark):
    """Force the shuffle-join path (at fixture scale everything
    broadcasts, which would bypass bucketing — at 100 TB neither fact
    side fits a broadcast, which is the case bucketing exists for)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark, bucketed, no_broadcast):
    """A fact-fact join of two tables bucketed on the join key must
    read the buckets as-is: sort-merge join with NO shuffle exchange —
    the shuffle happened once, at rest."""
    li, od = bucketed
    df = spark.table(li).join(
        spark.table(od), F.col("l_orderkey") == F.col("o_orderkey")
    )
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan, plan
    assert df.count() > 0


def test_bucketed_agg_has_no_shuffle(spark, bucketed, no_broadcast):
    """Aggregating a bucketed table on its bucket key also skips the
    exchange (the at-rest partitioning satisfies the distribution)."""
    li, _ = bucketed
    df = spark.table(li).groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    plan = physical_plan(df)
    assert "Exchange" not in plan, plan


def test_bucketed_join_matches_unbucketed(spark, sf_dir, bucketed):
    """Bucketing is a physical property only: the joined row count
    must equal the plain shuffle join's."""
    li, od = bucketed
    bucketed_n = (
        spark.table(li)
        .join(spark.table(od), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    plain_n = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert bucketed_n == plain_n


def test_incremental_rollup_refresh_equals_rebuild(spark, sf_dir):
    """Delta-merge maintenance of the order-revenue rollup must equal
    a from-scratch rebuild bit-for-bit: the rollup's measures are
    commutative monoid sums, so (stored ⊕ delta-agg) == agg(base ∪
    delta). The delta deliberately mixes touched existing orders with
    brand-new order keys (both merge arms exercised)."""
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.registry import load_all
    from bigdataproj_spark.sources.bucketed import (
        _lineitem_with_derived,
        order_revenue_projection,
        refresh_order_revenue_rollup,
    )

    base = order_revenue_projection(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    # 100-row ingest batch: 50 rows touch existing orders, 50 open new ones
    delta = li.orderBy("l_orderkey", "l_linenumber").limit(100)
    delta = delta.withColumn(
        "l_orderkey",
        F.when(F.col("l_linenumber") % 2 == 0, F.col("l_orderkey"))
        .otherwise(F.col("l_orderkey") + 1_000_000_000),
    )
    try:
        new_name, _ = refresh_order_revenue_rollup(spark, sf_dir, delta)

        expected = (
            _lineitem_with_derived(li.unionByName(delta))
            .groupBy("l_orderkey")
            .agg(F.sum("l_rev_i").alias("rev_i"), F.count(F.lit(1)).alias("n_items"))
            .orderBy("l_orderkey")
            .toPandas()
        )
        got = spark.table(new_name).orderBy("l_orderkey").toPandas()
        assert got.equals(expected[got.columns.tolist()])

        # the memoized projection now serves the refreshed version, and
        # the star-join query still builds (bucket layout preserved)
        assert order_revenue_projection(spark, sf_dir)[0] == new_name
        load_all()["q39_bucketed_star_join"].build(spark, sf_dir)
    finally:
        # the synthetic delta is NOT fixture data: point the shared
        # session's memo back at the base projection so later tests
        # (e.g. the q39 oracle row) see the fixture-derived layout
        warehouse(spark, sf_dir).layouts.update(
            order_revenue_rollup=base[0], orders_denorm=base[1]
        )


# The pricing cubes' stored partials, written out by hand so the
# rebuild side of the refresh-equals-rebuild checks stays independent
# of the engine's one view build.
def _pricing_cube_aggs() -> list:
    src = {
        "qty_i": "l_qty_i",
        "price_i": "l_price_i",
        "disc_i": "l_disc_i",
        "rev_i": "l_rev_i",
        "charge_i": "l_charge_i",
    }
    aggs = [F.sum(src[c]).alias(c) for c in src]
    aggs += [
        F.count("l_quantity").alias("cnt_qty"),
        F.count("l_extendedprice").alias("cnt_price"),
        F.count("l_discount").alias("cnt_disc"),
        F.count(F.lit(1)).alias("cnt"),
    ]
    aggs += [F.min(src[c]).alias(f"min_{c}") for c in src]
    aggs += [F.max(src[c]).alias(f"max_{c}") for c in src]
    return aggs


def _star_cube_aggs() -> list:
    return _pricing_cube_aggs() + [
        F.hll_sketch_agg("l_suppkey").alias("supp_hll"),
        F.hll_sketch_agg("l_partkey").alias("part_hll"),
    ]


_PRICING_PARTIAL_DTYPES = [
    ("qty_i", "bigint"), ("price_i", "bigint"), ("disc_i", "bigint"),
    ("rev_i", "bigint"), ("charge_i", "bigint"),
    ("cnt_qty", "bigint"), ("cnt_price", "bigint"), ("cnt_disc", "bigint"),
    ("cnt", "bigint"),
    ("min_qty_i", "bigint"), ("min_price_i", "bigint"), ("min_disc_i", "bigint"),
    ("min_rev_i", "bigint"), ("min_charge_i", "bigint"),
    ("max_qty_i", "bigint"), ("max_price_i", "bigint"), ("max_disc_i", "bigint"),
    ("max_rev_i", "bigint"), ("max_charge_i", "bigint"),
]


def test_builtin_cube_schemas_are_pinned(spark, sf_dir):
    """The stored schema of every built-in cube — column names, types
    and order — is a contract: the router reads these columns by name,
    q46_bucketed_pricing reads the pricing cube's directly, and a
    deployed cube's refresh merges delta partials onto it by name."""
    from bigdataproj_spark.sources.bucketed import (
        pricing_cube_table,
        segment_cube_table,
        star_date_cube_table,
    )
    from bigdataproj_spark.sources.corpus_cubes import (
        docs_stats_cube_table,
        events_hourly_cube_table,
    )

    def dtypes(deploy):
        return spark.read.parquet(deploy(spark, sf_dir)).dtypes

    assert dtypes(pricing_cube_table) == [
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"), *_PRICING_PARTIAL_DTYPES,
    ]
    assert dtypes(star_date_cube_table) == [
        ("r_name", "string"), ("n_name", "string"),
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"), *_PRICING_PARTIAL_DTYPES,
        ("supp_hll", "binary"), ("part_hll", "binary"),
    ]
    assert dtypes(segment_cube_table) == [
        ("c_mktsegment", "string"), ("o_orderpriority", "string"),
        ("o_orderstatus", "string"), ("l_returnflag", "string"),
        ("l_linestatus", "string"), *_PRICING_PARTIAL_DTYPES,
    ]
    assert dtypes(docs_stats_cube_table) == [
        ("lang", "string"), ("source", "string"),
        ("chars_i", "bigint"), ("tokens_i", "bigint"), ("stop_i", "bigint"),
        ("cnt_chars", "bigint"), ("cnt_text", "bigint"), ("cnt", "bigint"),
        ("min_chars_i", "bigint"), ("min_tokens_i", "bigint"),
        ("min_stop_i", "bigint"),
        ("max_chars_i", "bigint"), ("max_tokens_i", "bigint"),
        ("max_stop_i", "bigint"),
    ]
    assert dtypes(events_hourly_cube_table) == [
        ("event_type", "string"), ("event_hour", "timestamp"),
        ("value_i", "bigint"), ("cnt_value", "bigint"), ("cnt", "bigint"),
        ("min_value_i", "bigint"), ("max_value_i", "bigint"),
        ("users_hll", "binary"),
    ]


def test_incremental_cube_refresh_equals_rebuild(spark, sf_dir):
    """Delta-merge maintenance of the pricing cube must equal a
    from-scratch rebuild bit-for-bit: every cube measure (int64 sums
    and non-null counts) is a commutative monoid. Delta rows reuse
    existing (flag, status, shipdate) groups AND introduce brand-new
    shipdates, exercising both merge arms; the routed q46-family
    query still answers from the refreshed version."""
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.registry import load_all
    from bigdataproj_spark.sources.bucketed import (
        _lineitem_with_derived,
        pricing_cube_table,
    )
    from bigdataproj_spark.sources.user_projections import refresh_projection

    base = pricing_cube_table(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    delta = li.orderBy("l_orderkey", "l_linenumber").limit(100)
    delta = delta.withColumn(
        "l_shipdate",
        F.when(
            F.col("l_linenumber") % 2 == 0, F.col("l_shipdate")
        ).otherwise(F.col("l_shipdate") + F.expr("INTERVAL 5000 DAYS")),
    )
    keys = ["l_returnflag", "l_linestatus", "l_shipdate"]
    try:
        new_path = refresh_projection(spark, sf_dir, "pricing_cube", delta)
        # the from-scratch rebuild over base+delta, via the SAME agg
        # list the deploy uses (incl. the round-6 min/max partials)
        expected = (
            _lineitem_with_derived(li.unionByName(delta))
            .groupBy(*keys)
            .agg(*_pricing_cube_aggs())
            .orderBy(*keys)
            .toPandas()
        )
        got = spark.read.parquet(new_path).orderBy(*keys).toPandas()
        assert got.equals(expected[got.columns.tolist()])
        assert pricing_cube_table(spark, sf_dir) == new_path
        load_all()["q46_bucketed_pricing"].build(spark, sf_dir)
    finally:
        warehouse(spark, sf_dir).projections["pricing_cube"] = base


def test_incremental_denorm_refresh_equals_rebuild(spark, sf_dir):
    """Upsert maintenance of the dimension-denormalized orders table:
    a delta batch that touches existing orders (same key, possibly a
    changed customer) and adds new orders must land exactly where a
    from-scratch re-denormalization of (stored ∖ delta) ∪ delta would."""
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.sources.bucketed import (
        order_revenue_projection,
        refresh_orders_denorm,
    )

    base = order_revenue_projection(spark, sf_dir)
    o = table(spark, sf_dir, "orders")
    # 40 updated orders rerouted to a different customer + 40 new keys
    delta = o.orderBy("o_orderkey").limit(80)
    delta = delta.withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderkey"))
        .otherwise(F.col("o_orderkey") + 2_000_000_000),
    ).withColumn(
        "o_custkey",
        F.when(F.col("o_custkey") > 1, F.col("o_custkey") - 1).otherwise(
            F.col("o_custkey")
        ),
    )
    try:
        _, new_name = refresh_orders_denorm(spark, sf_dir, delta)
        c = table(spark, sf_dir, "customer")
        n = table(spark, sf_dir, "nation")
        r = table(spark, sf_dir, "region")

        def denorm(orders_df):
            from bigdataproj_spark.sources.bucketed import DENORM_ATTRS

            return (
                orders_df.join(c, orders_df.o_custkey == c.c_custkey)
                .join(n, c.c_nationkey == n.n_nationkey)
                .join(r, n.n_regionkey == r.r_regionkey)
                .select("o_orderkey", *DENORM_ATTRS)
            )

        merged_orders = o.join(
            delta.select("o_orderkey"), "o_orderkey", "left_anti"
        ).unionByName(delta)
        expected = denorm(merged_orders).orderBy("o_orderkey").toPandas()
        got = spark.table(new_name).orderBy("o_orderkey").toPandas()
        assert got.equals(expected[got.columns.tolist()])
        assert order_revenue_projection(spark, sf_dir)[1] == new_name
    finally:
        warehouse(spark, sf_dir).layouts.update(
            order_revenue_rollup=base[0], orders_denorm=base[1]
        )


def test_refreshed_versions_are_numbered_from_the_base_name(spark, sf_dir):
    """A merge refresh of an already refreshed rollup or denorm table
    publishes ``<base>_v<n>``: the version name does not grow by one
    suffix per refresh (which would overrun the file-name limit of a
    long-lived warehouse)."""
    from bigdataproj_spark.sources.bucketed import (
        BUCKETED_TABLE,
        order_revenue_projection,
        refresh_order_revenue_rollup,
        refresh_orders_denorm,
    )

    base = order_revenue_projection(spark, sf_dir)
    # redelivered existing rows: both refreshes take the merge path
    li = table(spark, sf_dir, "lineitem").limit(2)
    o = table(spark, sf_dir, "orders").limit(2)
    try:
        for _ in range(2):
            roll, _ = refresh_order_revenue_rollup(spark, sf_dir, li)
            _, den = refresh_orders_denorm(spark, sf_dir, o, has_update=True)
        for name, key in ((roll, "order_revenue_rollup"), (den, "orders_denorm")):
            stem, n = name.rsplit("_v", 1)
            assert (stem, n.isdigit()) == (BUCKETED_TABLE[key].base(sf_dir), True)
    finally:
        warehouse(spark, sf_dir).layouts.update(
            order_revenue_rollup=base[0], orders_denorm=base[1]
        )


def test_incremental_star_date_cube_refresh_equals_rebuild(spark, sf_dir):
    """Delta-merge maintenance of the star-by-date cube must equal a
    from-scratch rebuild bit-for-bit. Delta rows reuse existing
    (region, nation, shipdate) groups AND introduce brand-new
    shipdates, exercising both merge arms; the routed r85-family query
    still answers from the refreshed version."""
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.registry import load_all
    from bigdataproj_spark.sources.bucketed import (
        _lineitem_with_derived,
        order_revenue_projection,
        star_date_cube_table,
    )
    from bigdataproj_spark.sources.user_projections import refresh_projection

    base = star_date_cube_table(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    delta = li.orderBy("l_orderkey", "l_linenumber").limit(100)
    delta = delta.withColumn(
        "l_shipdate",
        F.when(
            F.col("l_linenumber") % 2 == 0, F.col("l_shipdate")
        ).otherwise(F.col("l_shipdate") + F.expr("INTERVAL 5000 DAYS")),
    )
    from bigdataproj_spark.plans.routing import (
        _STAR_CUBE_KEYS,
        _STAR_SKETCH_COLS,
    )

    keys = list(_STAR_CUBE_KEYS)

    # sketch partials compare at the ESTIMATE level (register-max union
    # matches the rebuild's logical state; sparse-mode serialization
    # may differ byte-wise)
    def est(df):
        for c in _STAR_SKETCH_COLS:
            df = df.withColumn(c, F.hll_sketch_estimate(c))
        return df

    try:
        new_path = refresh_projection(spark, sf_dir, "star_date_cube", delta)
        # from-scratch rebuild over base+delta through the same denorm
        _, den_name = order_revenue_projection(spark, sf_dir)
        den = spark.table(den_name).select("o_orderkey", "r_name", "n_name")
        both = _lineitem_with_derived(li.unionByName(delta))
        expected = est(
            both.join(den, both.l_orderkey == den.o_orderkey)
            .groupBy(*keys)
            .agg(*_star_cube_aggs())
        ).orderBy(*keys).toPandas()
        got = est(spark.read.parquet(new_path)).orderBy(*keys).toPandas()
        assert got.equals(expected[got.columns.tolist()])
        assert star_date_cube_table(spark, sf_dir) == new_path
        load_all()["r85_routed_star_date"].build(spark, sf_dir)
    finally:
        warehouse(spark, sf_dir).projections["star_date_cube"] = base


def test_stream_ingest_maintains_pricing_cube(spark, sf_dir, tmp_path):
    """The full maintenance loop under streaming ingest: lineitem
    arrives as micro-batches through a real readStream, each batch
    refreshes the pricing cube via foreachBatch (delta-merge, not
    rebuild), and the final cube equals the one-shot cube of the whole
    corpus bit-for-bit — the monoid-merge argument compounds across
    any number of batches. This ties ST9's foreachBatch pattern to the
    S11 projection the router serves."""
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.sources.bucketed import pricing_cube_table
    from bigdataproj_spark.sources.user_projections import refresh_projection

    li = table(spark, sf_dir, "lineitem")
    # Split the corpus: 60% is the "deployed" base, 40% streams in as
    # 4 micro-batches.
    base = li.filter(F.col("l_orderkey") % 5 < 3)
    stream_part = li.filter(F.col("l_orderkey") % 5 >= 3)
    stage = tmp_path / "stage"
    stage.mkdir()
    for i in range(4):
        stream_part.filter(F.col("l_orderkey") % 4 == i).write.parquet(
            str(stage / f"b{i}")
        )

    base_dir = tmp_path / "basecorpus"
    base.write.parquet(str(base_dir / "lineitem.parquet"))
    # the layout deploy also buckets orders and denormalizes the full
    # dimension arm; give both corpus dirs the whole chain
    for t in ("orders", "customer", "nation", "region"):
        table(spark, sf_dir, t).write.parquet(str(base_dir / f"{t}.parquet"))
    sf_base = str(base_dir)
    pricing_cube_table(spark, sf_base)  # deploy over the base corpus
    from bigdataproj_spark.sources.bucketed import star_date_cube_table
    from bigdataproj_spark.sources.user_projections import refresh_projection

    star_date_cube_table(spark, sf_base)  # star cube deploys over the base too

    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage / "b*"))
    )

    def refresh(batch_df, batch_id):
        if batch_df.count():
            # both projections maintain from the same micro-batch (no
            # new ORDERS stream in, so the denorm needs no refresh)
            refresh_projection(spark, sf_base, "pricing_cube", batch_df)
            refresh_projection(spark, sf_base, "star_date_cube", batch_df)

    q = (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # a False return means the stream did NOT drain in time: fail as
    # TIMEOUT, not as a confusing row-count mismatch from reading a
    # half-maintained cube (round-10 VERDICT item 5 — this test flaked
    # exactly that way under host load)
    assert q.awaitTermination(120), (
        "TIMEOUT: the availableNow stream did not drain within 120 s "
        "(slow host?); the cube comparison below would read a "
        "partially-maintained state"
    )

    keys = ["l_returnflag", "l_linestatus", "l_shipdate"]
    got = (
        spark.read.parquet(pricing_cube_table(spark, sf_base))
        .orderBy(*keys)
        .toPandas()
    )
    full_dir = tmp_path / "fullcorpus"
    li.write.parquet(str(full_dir / "lineitem.parquet"))
    for t in ("orders", "customer", "nation", "region"):
        table(spark, sf_dir, t).write.parquet(str(full_dir / f"{t}.parquet"))
    want = (
        spark.read.parquet(pricing_cube_table(spark, str(full_dir)))
        .orderBy(*keys)
        .toPandas()
    )
    assert got.equals(want[got.columns.tolist()])

    # the star cube maintained through the same micro-batches equals
    # the one-shot cube of the full corpus too
    from bigdataproj_spark.plans.routing import (
        _STAR_CUBE_KEYS,
        _STAR_SKETCH_COLS,
    )

    def est(df):
        for c in _STAR_SKETCH_COLS:
            df = df.withColumn(c, F.hll_sketch_estimate(c))
        return df

    skeys = list(_STAR_CUBE_KEYS)
    star_got = (
        est(spark.read.parquet(star_date_cube_table(spark, sf_base)))
        .orderBy(*skeys)
        .toPandas()
    )
    star_want = (
        est(spark.read.parquet(star_date_cube_table(spark, str(full_dir))))
        .orderBy(*skeys)
        .toPandas()
    )
    assert star_got.equals(star_want[star_got.columns.tolist()])

    # …and the SQL front door serves the freshly-maintained cube: SQL
    # text routed over the streamed-in corpus equals DuckDB computing
    # the same statement from the full raw corpus (ingest → delta-merge
    # → route, end to end).
    import duckdb

    from bigdataproj_spark.plans.sqlfront import MIN_SQL, SUM_SQL, route_sql
    from bigdataproj_spark.testing import compare_frames

    sql = (
        f"SELECT l_returnflag, {SUM_SQL['revenue']} AS rev,"
        f" {MIN_SQL['quantity']} AS min_qty, COUNT(*) AS n"
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    routed, chosen = route_sql(spark, sf_base, sql)
    assert chosen == "pricing_cube"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{full_dir}/lineitem.parquet/*.parquet')"
    )
    compare_frames(
        routed.toPandas(), con.execute(sql).fetchdf(), "streamed-then-routed"
    )

    # …and a MIXED fact+dimension grouping routes onto the freshly
    # maintained star cube (the layered router's new claim), matching
    # DuckDB running the full 5-table join on the raw full corpus.
    mixed_sql = (
        f"SELECT l_returnflag, r_name, {SUM_SQL['revenue']} AS rev,"
        " COUNT(*) AS n FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey"
        " GROUP BY l_returnflag, r_name ORDER BY l_returnflag, r_name"
    )
    routed2, chosen2 = route_sql(spark, sf_base, mixed_sql)
    assert chosen2 == "star_date_cube"
    for t in ("orders", "customer", "nation", "region"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{full_dir}/{t}.parquet/*.parquet')"
        )
    compare_frames(
        routed2.toPandas(),
        con.execute(mixed_sql).fetchdf(),
        "streamed-then-routed-star",
    )
