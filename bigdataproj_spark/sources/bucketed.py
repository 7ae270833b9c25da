"""S11 (engine extension): bucketed table layout — ``bucketBy/sortBy``
plus derived fixed-point columns at write time, shuffle-free and
decode-free star queries at read time.

The reference's README promises a query layer over pre-indexed data
(reference README.md:102-104 — Elasticsearch holds the enriched
records so queries never re-shard); the Spark-native equivalent for
JOIN-heavy workloads is bucketing: the shuffle a fact-fact join would
pay on every query is paid ONCE, at rest. Two tables bucketed on the
join key with the same bucket count co-locate matching keys in
matching files, so the join (and any aggregation on the bucket key)
runs with ZERO Exchange nodes — asserted on real saved tables in
tests/test_bucketing.py and tests/test_plans.py, not claimed in prose.

The second at-rest lever (round 5): the layout write also MATERIALIZES
the engine's int64 fixed-point money columns (functions.cents — qty,
price, disc, tax in hundredths, plus the price*(1-disc) and
*(1+tax) products). The per-tuple quantize/multiply work that
dominates the residual q01/q39 cost (docs/BENCHMARKS.md decomposition:
bare scan+count ≈ DuckDB's whole query) moves to the one-time deploy
write; queries over the layout read plain long columns and aggregate.
Bit-exactness is free — it is the SAME arithmetic, executed at write
instead of per query — so the oracle contract is unchanged.

At 100 TB this is the difference between re-shuffling ~40 TB of
lineitem per star query and reading co-located buckets: the layout
write is the deploy-time cost, every subsequent query is exchange-free
on the spine. Bucket count rule of thumb: total_bytes / target
(e.g. 256 MiB) rounded to a multiple of the executor-core count; the
fixture layout uses 32 (= the local[32] lane count).

Layout builds are memoized per (session, sf_dir, n_buckets): the write
happens once (the "deploy" step), every query against the layout
reuses the registered tables — mirroring production, where the layout
exists before the query arrives. Table names and warehouse paths
encode BOTH the fixture-dir tag and the bucket count (two layouts of
the same data coexist), and the warehouse root is process-scoped via
``catalog.pid_scratch`` so concurrent pytest/bench drivers never race
one directory.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import pid_scratch, scratch_tag, table
from ..functions import cents, isum_expr
from ..registry import query
from ..session import run_parallel
from .state import deploy_name, warehouse

_N_BUCKETS = 32
_WH_ROOT = os.path.join(tempfile.gettempdir(), "bigdataproj_bucketed_wh")


def _layout_paths(sf_dir: str) -> tuple[str, str]:
    """(table-name tag, process-scoped warehouse dir) for a fixture
    dir — the ONE place the layout's naming scheme lives, so every
    layout/projection builder derives identical paths."""
    tag = re.sub(r"[^A-Za-z0-9_]", "_", scratch_tag(sf_dir))
    return tag, os.path.join(pid_scratch(_WH_ROOT), tag)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_key: str,
    n_buckets: int = _N_BUCKETS,
) -> None:
    """Write ``df`` as an external bucketed+sorted table.

    ``sortBy`` on the bucket key makes every bucket file
    internally sorted, so a downstream sort-merge join needs neither
    an exchange nor a sort. Spark records the bucket spec in the
    session catalog; readers must go through ``spark.table(name)``
    (a plain ``read.parquet`` of the directory would lose the spec).

    The write repartitions by the bucket key into ``n_buckets``
    partitions first (round 12, guide §2.4 "two operations keyed the
    same way share one exchange"): repartition's HashPartitioning is
    the SAME murmur3-pmod assignment bucketBy uses, so each task then
    holds exactly one bucket — without it, every INPUT task sorts and
    writes a file for every bucket it touches (input_tasks × buckets
    file explosion at scale; locally a 3-task input serialized the
    whole sort behind 3 tasks — measured 5.7 s → 1.9 s for the sf0.1
    lineitem deploy), and the per-task multi-bucket sort is replaced
    by n_buckets parallel single-bucket sorts."""
    (
        df.repartition(n_buckets, F.col(bucket_key))
        .write.bucketBy(n_buckets, bucket_key)
        .sortBy(bucket_key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(name)
    )


def append_bucketed_lineitem(
    spark: SparkSession,
    sf_dir: str,
    delta_lineitem: DataFrame,
    prejoined: DataFrame | None = None,
) -> str:
    """Append an ingest batch to the bucketed fact layout, derived
    fixed-point columns materialized at write time like the deploy.
    ``saveAsTable`` in append mode validates the bucket spec against
    the existing table, so the batch lands as NEW per-bucket files
    with the same key hashing — bucketed reads stay exchange-free
    (each bucket id just has one more file; the spine's shuffle_hash
    join consumes buckets whole). Compaction back to one file per
    bucket is the scheduled OPTIMIZE rewrite (re-run the deploy), the
    same posture as the Z-order/dated appends.

    ``prejoined`` (round 13): refresh_warehouse's shared checkpointed
    delta frame; dropping its denorm columns leaves exactly the
    ``_lineitem_with_derived`` projection, already materialized."""
    li_name, _ = bucketed_fact_tables(spark, sf_dir)
    frame = (
        prejoined.drop(*_DELTA_DENORM_COLS)
        if prejoined is not None
        else _lineitem_with_derived(delta_lineitem)
    )
    (
        frame
        .write.bucketBy(_N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("append")
        .saveAsTable(li_name)
    )
    return li_name


def append_bucketed_orders(
    spark: SparkSession,
    sf_dir: str,
    delta_orders: DataFrame,
    has_update: bool | None = None,
) -> str:
    """UPSERT an ingest batch of ORDERS into the bucketed orders table
    — the maintained dimension spine. The raw fixture parquet is
    immutable; after ingest, the bucketed orders table IS the current
    orders relation (refresh_warehouse upserts here before any
    lineitem-driven refresh that joins the order side, so chain>=1
    user projections see newly ingested orders — the same
    dimension-first ordering the denorm refresh encodes).

    Delta rows REPLACE same-key stored rows, matching
    :func:`refresh_orders_denorm` exactly (round-6 ADVICE, medium: a
    blind append left a re-ingested o_orderkey duplicated here while
    the denorm deduplicated it, so chain>=1 user-projection refreshes
    joining through this table double-counted every matching
    lineitem). The common case — a batch of genuinely NEW orders —
    stays a cheap bucket-preserving append (one semi-join probe
    against the stored keys detects it); only a batch carrying an
    UPDATE pays the anti-join rewrite, published as a new bucketed
    VERSION with the same atomic memo swing the denorm refresh uses."""
    _, od_name = bucketed_fact_tables(spark, sf_dir)
    stored = spark.table(od_name)
    delta_keys = delta_orders.select("o_orderkey")
    # No broadcast hint on either join (round-7 ADVICE): a bulk-load
    # batch's key set can exceed the driver/broadcast memory bound a
    # hint would force past AQE's size checks; the stored side is
    # bucketed on o_orderkey, so the planner's sort-merge semi/anti
    # join is exchange-light on that side anyway, and AQE still
    # broadcasts genuinely small deltas on its own.
    if has_update is None:
        # standalone callers probe; refresh_warehouse already knows
        # (its conflict detection ran the same probe — round-9 review
        # finding: don't scan the stored relation twice per batch)
        has_update = bool(
            stored.join(delta_keys, "o_orderkey", "left_semi")
            .limit(1)
            .take(1)
        )
    if not has_update:
        (
            delta_orders.write.bucketBy(_N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("append")
            .saveAsTable(od_name)
        )
        return od_name
    tag, wh = _layout_paths(sf_dir)
    kept = stored.join(delta_keys, "o_orderkey", "left_anti")
    merged = kept.unionByName(delta_orders)
    # versions key on the BASE table name (od_name is already a
    # versioned name after a prior upsert)
    base_name = f"orders_bkt_{tag}_{_N_BUCKETS}"
    ws = warehouse(spark, sf_dir)
    new_name = ws.publish(base_name)
    write_bucketed(merged, new_name, os.path.join(wh, new_name), "o_orderkey")
    li_name, _ = ws.bucketed[_N_BUCKETS]
    ws.bucketed[_N_BUCKETS] = (li_name, new_name)
    return new_name


def _lineitem_with_derived(li: DataFrame) -> DataFrame:
    """The lineitem projection the layout stores: every source column
    plus the int64 fixed-point money columns (and their products) the
    engine's aggregates consume. Same arithmetic as functions.cents /
    q01's fused projection — moved from query time to write time."""
    q_i, p_i = cents("l_quantity"), cents("l_extendedprice")
    d_i, t_i = cents("l_discount"), cents("l_tax")
    rev_i = p_i * (100 - d_i)
    return li.select(
        "*",
        q_i.alias("l_qty_i"),
        p_i.alias("l_price_i"),
        d_i.alias("l_disc_i"),
        t_i.alias("l_tax_i"),
        rev_i.alias("l_rev_i"),
        (rev_i * (100 + t_i)).alias("l_charge_i"),
    )


# Denorm attributes the SHARED per-batch delta frame attaches (round
# 13): every order-side column any lineitem-driven cube delta needs.
# ``o_orderkey`` doubles as the denorm-matched indicator under the
# frame's LEFT join (NULL == the rows the per-leg INNER joins dropped).
_DELTA_DENORM_COLS = (
    "o_orderkey", "r_name", "n_name",
    "c_mktsegment", "o_orderpriority", "o_orderstatus",
)


def build_delta_frame(
    spark: SparkSession, sf_dir: str, delta_lineitem: DataFrame
) -> DataFrame:
    """The SHARED per-batch lineitem delta frame (round 13, guide
    §1.2/§5, r12-VERDICT item 1): derived fixed-point columns plus the
    stored denorm's order attributes, joined ONCE. refresh_warehouse
    localCheckpoints this and every refresh leg reads the materialized
    rows — before, each cube leg re-ran staged-scan + derived columns
    (+ its own denorm join for star/segment) per leg.

    LEFT join, not the legs' INNER: pricing/rollup/append legs must see
    EVERY delta row; star/segment filter to denorm-matched rows
    (``o_orderkey IS NOT NULL``), which equals their old INNER join
    because the denorm is unique per order key (upsert discipline —
    delta rows REPLACE same-key stored rows). Row multiplicity is
    therefore preserved exactly for both consumers.

    The denorm is SEMI-trimmed to the delta's keys before the left
    join: an outer join cannot build (broadcast) its preserved side,
    so joining the full denorm directly would hash-build the
    O(|orders|) table per batch — measured as a steady-INSERT
    regression on the first cut of this change. Trimming first makes
    the left join's build side batch-sized while the semi pass streams
    the denorm once. Trimming drops only denorm rows that match no
    delta key — rows the left join could never match — so the result
    is row-identical. No broadcast hints (round-7 ADVICE: bulk-load
    key sets can exceed broadcast memory); AQE broadcasts genuinely
    small deltas on its own."""
    _roll, den_name = order_revenue_projection(spark, sf_dir)
    li = _lineitem_with_derived(delta_lineitem)
    keys = delta_lineitem.select("l_orderkey").distinct()
    den = spark.table(den_name).select(*_DELTA_DENORM_COLS)
    den_trim = den.join(
        keys, den.o_orderkey == keys.l_orderkey, "semi"
    )
    return li.join(den_trim, li.l_orderkey == den_trim.o_orderkey, "left")


def bucketed_fact_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = _N_BUCKETS
) -> tuple[str, str]:
    """Deploy the bucketed layout for the lineitem/orders join spine
    (once per session+sf_dir+bucket-count; memoized) and return the
    table names.

    Both facts bucket on the order key — the key every TPC-H-shaped
    star query joins on — so the spine join is exchange-free. The
    lineitem table carries the derived fixed-point columns (see
    :func:`_lineitem_with_derived`).

    The warehouse path is scoped per process (``pid_scratch``: cleaned
    at interpreter exit, so concurrent pytest and bench drivers each
    own their tree) and per bucket count (two layouts coexist); a
    cluster deployment runs the layout write once as a deploy step
    into the shared warehouse, not per session.
    """
    ws = warehouse(spark, sf_dir)
    if n_buckets in ws.bucketed:
        return ws.bucketed[n_buckets]
    tag, wh = _layout_paths(sf_dir)
    li_name = deploy_name(spark, sf_dir, f"lineitem_bkt_{tag}_{n_buckets}")
    od_name = deploy_name(spark, sf_dir, f"orders_bkt_{tag}_{n_buckets}")
    # The two deploy writes read disjoint immutable fixtures and write
    # disjoint tables — overlap them (round 13, guide §2.6): the orders
    # write's tasks back-fill executors the bigger lineitem write's
    # tail frees. Both legs are awaited before any error re-raises.
    run_parallel(
        lambda: write_bucketed(
            _lineitem_with_derived(table(spark, sf_dir, "lineitem")),
            li_name,
            os.path.join(wh, li_name),
            "l_orderkey",
            n_buckets,
        ),
        lambda: write_bucketed(
            table(spark, sf_dir, "orders"),
            od_name,
            os.path.join(wh, od_name),
            "o_orderkey",
            n_buckets,
        ),
    )
    ws.bucketed[n_buckets] = (li_name, od_name)
    return li_name, od_name


# Dimension attributes the denormalized orders table stores: the full
# region/nation arm plus the order- and customer-level attributes the
# routing catalog exposes (plans/routing.py DIM_ATTRS) — storing them
# costs a few bytes per ORDER (not per lineitem) and lets the router
# answer e.g. "revenue by market segment" or "revenue by order month"
# from the exchange-free rollup⋈denorm spine instead of a raw 5-table
# join. One tuple, used by the deploy build AND the delta refresh, so
# the two can never drift.
DENORM_ATTRS = (
    "r_name",
    "n_name",
    "c_mktsegment",
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
)


def denorm_join(spark: SparkSession, sf_dir: str, orders_df: DataFrame) -> DataFrame:
    """THE denorm derivation: an orders frame joined through the
    broadcast customer→nation→region chain, projected to
    (o_orderkey, *DENORM_ATTRS). The deploy build, the incremental
    refresh, and the S21 reattribution all call this one definition —
    three hand-maintained copies had accumulated (round-9 review
    finding), and a drift between them would silently desynchronize
    the reattribution's old/new attribution from the stored denorm.
    INNER joins throughout: an order whose o_custkey resolves to no
    customer contributes no denorm row, matching the raw star join's
    orphan-drop semantics."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        orders_df.join(F.broadcast(c), orders_df.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("o_orderkey", *DENORM_ATTRS)
    )


def order_revenue_projection(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Deploy the star-join PROJECTIONS (memoized): a per-order
    aggregate rollup of lineitem and a dimension-denormalized orders
    table, both bucketed+sorted on the order key.

    This is the classic warehouse answer past derived columns: the
    rollup collapses the 4:1 lineitem fan-out at rest (30M rows → 7.5M
    at sf5), and the denorm folds the customer→nation→region broadcast
    arm into two stored strings — so the query-time star join is a
    bucket-aligned 7.5M x 7.5M join of slim rows with zero exchanges.
    Both tables are exact-arithmetic functions of the base tables
    (int64 revenue cents; broadcast-join denormalization), so queries
    over them stay bit-identical to their raw-table oracles. A/B at
    sf5: 1.69 s (derived-column scan join) → 0.51 s over the
    projections, vs DuckDB 0.43 s — the 2x gate closes at rest.

    At 100 TB the rollup/denorm write is the deploy step exactly like
    the bucket layout itself; incremental maintenance would ride the
    engine's upsert operator (r82) per ingest batch.
    """
    tag, wh = _layout_paths(sf_dir)
    roll_name = f"lineitem_rollup_{tag}_{_N_BUCKETS}"
    den_name = f"orders_denorm_{tag}_{_N_BUCKETS}"
    ws = warehouse(spark, sf_dir)
    if "order_revenue" in ws.projections:
        return ws.projections["order_revenue"]
    from .retention import apply_tombstones

    li_name, od_name = bucketed_fact_tables(spark, sf_dir)
    # S19: a deploy AFTER a delete must exclude tombstoned orders
    roll = (
        apply_tombstones(
            spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
        )
        .groupBy("l_orderkey")
        .agg(F.sum("l_rev_i").alias("rev_i"), F.count(F.lit(1)).alias("n_items"))
    )
    o = apply_tombstones(spark, sf_dir, "orders", spark.table(od_name))
    denorm = denorm_join(spark, sf_dir, o)
    # the two projection writes read settled tables (the bucketed
    # facts, just deployed above) and write disjoint tables — overlap
    # them (round 13, guide §2.6), same await-all discipline as the
    # refresh pool
    run_parallel(
        lambda: write_bucketed(
            roll, roll_name, os.path.join(wh, roll_name), "l_orderkey"
        ),
        lambda: write_bucketed(
            denorm, den_name, os.path.join(wh, den_name), "o_orderkey"
        ),
    )
    ws.projections["order_revenue"] = (roll_name, den_name)
    return roll_name, den_name


def refresh_order_revenue_rollup(
    spark: SparkSession,
    sf_dir: str,
    delta_lineitem: DataFrame,
    prejoined: DataFrame | None = None,
) -> tuple[str, str]:
    """Incrementally maintain the per-order revenue rollup for one
    ingested lineitem batch: aggregate the DELTA, merge it additively
    into the stored rollup (full-outer on the order key, summed
    measures — the rollup's aggregates are all commutative monoids,
    so delta-merge == rebuild, bit-for-bit), and publish a new
    VERSION of the bucketed table. Readers through the memo see the
    old version until the new one is fully written — the same
    atomic-version pattern as the streaming upsert sink
    (streaming/replay.py), sized here to a projection refresh.

    This is the answer to "projections go stale under ingest": the
    refresh cost is O(|delta| + |touched orders|), not a corpus
    rebuild, and the bucket layout is preserved so q39 stays
    exchange-free after every refresh. The pricing cube refreshes
    identically (group key instead of order key); proven equivalent
    to a from-scratch rebuild in tests/test_bucketing.py.
    """
    tag, wh = _layout_paths(sf_dir)
    roll_name, den_name = order_revenue_projection(spark, sf_dir)
    # ``prejoined`` (round 13): the shared checkpointed delta frame —
    # grouping ignores its extra denorm columns, so the delta rollup is
    # value-identical while the staged scan + derived columns are read
    # from the materialized rows instead of recomputed per leg.
    delta_src = (
        prejoined
        if prejoined is not None
        else _lineitem_with_derived(delta_lineitem)
    )
    delta_roll = (
        delta_src
        .groupBy("l_orderkey")
        .agg(F.sum("l_rev_i").alias("rev_i"), F.count(F.lit(1)).alias("n_items"))
    )
    stored = spark.table(roll_name)
    # the common case — lineitems of genuinely NEW orders (the
    # two-statement new-order sequence, bulk loads) — has no stored
    # group to merge into: a bucket-preserving APPEND of the delta
    # groups is exact, and skips the O(|orders|) full-outer rewrite
    # (round 9: the same corpus-growing term refresh_orders_denorm
    # had; only batches touching EXISTING orders pay the merge)
    if not (
        stored.join(delta_roll.select("l_orderkey"), "l_orderkey", "left_semi")
        .limit(1)
        .take(1)
    ):
        (
            delta_roll.write.bucketBy(_N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("append")
            .saveAsTable(roll_name)
        )
        return roll_name, den_name
    s, d = stored.alias("s"), delta_roll.alias("d")
    merged = s.join(d, F.col("s.l_orderkey") == F.col("d.l_orderkey"), "full_outer").select(
        F.coalesce(F.col("s.l_orderkey"), F.col("d.l_orderkey")).alias("l_orderkey"),
        (
            F.coalesce(F.col("s.rev_i"), F.lit(0))
            + F.coalesce(F.col("d.rev_i"), F.lit(0))
        ).alias("rev_i"),
        (
            F.coalesce(F.col("s.n_items"), F.lit(0))
            + F.coalesce(F.col("d.n_items"), F.lit(0))
        ).alias("n_items"),
    )
    ws = warehouse(spark, sf_dir)
    new_name = ws.publish(roll_name)
    write_bucketed(merged, new_name, os.path.join(wh, new_name), "l_orderkey")
    ws.projections["order_revenue"] = (new_name, den_name)
    return new_name, den_name


def refresh_orders_denorm(
    spark: SparkSession, sf_dir: str, delta_orders: DataFrame,
    has_update: bool | None = None,
) -> tuple[str, str]:
    """Incrementally maintain the dimension-denormalized orders table
    for one ingested orders batch: denormalize the DELTA through the
    same broadcast dim arm the deploy build uses, upsert it into the
    stored table by order key (delta rows replace same-key stored
    rows; customer/nation/region are slowly-changing at most).

    The common case — a batch of genuinely NEW orders — is a cheap
    bucket-preserving APPEND of the denormalized delta, exactly like
    :func:`append_bucketed_orders` (round 9: the unconditional
    merge-rewrite made a 1000-row insert cost O(|orders|) — measured
    121 s at sf20, the one corpus-growing term in the whole ingest
    path). Only a batch carrying a key conflict pays the anti-join
    rewrite, published as a new bucketed VERSION: the rewrite is also
    what REMOVES a stored row when an update orphans its order out of
    the customer chain (no delta_denorm row survives the inner dim
    join — the append path can never need that, because appends have
    no stored pre-image). ``has_update=None`` probes; refresh_warehouse
    passes its conflict-detection answer. Proven upsert-equal to a
    from-scratch rebuild in tests/test_bucketing.py."""
    tag, wh = _layout_paths(sf_dir)
    roll_name, den_name = order_revenue_projection(spark, sf_dir)
    delta_denorm = denorm_join(spark, sf_dir, delta_orders)
    stored = spark.table(den_name)
    if has_update is None:
        has_update = bool(
            stored.join(
                delta_orders.select("o_orderkey"), "o_orderkey", "left_semi"
            )
            .limit(1)
            .take(1)
        )
    if not has_update:
        (
            delta_denorm.write.bucketBy(_N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("append")
            .saveAsTable(den_name)
        )
        return roll_name, den_name
    # anti-join on the DELTA's keys, not delta_denorm's (round-9
    # review finding): an update that orphans an order out of the
    # customer chain (no matching c_custkey) produces NO delta_denorm
    # row, and keying the subtraction on the survivors would leave the
    # STALE pre-update denorm row serving the old attribution forever
    # — the orphaned key's row must be REMOVED, matching the raw
    # join's orphan-drop semantics
    kept = stored.join(
        delta_orders.select("o_orderkey").distinct(), "o_orderkey", "left_anti"
    )
    merged = kept.unionByName(delta_denorm)
    ws = warehouse(spark, sf_dir)
    new_name = ws.publish(den_name)
    write_bucketed(merged, new_name, os.path.join(wh, new_name), "o_orderkey")
    ws.projections["order_revenue"] = (roll_name, new_name)
    return roll_name, new_name


def pricing_cube_table(spark: SparkSession, sf_dir: str) -> str:
    """Deploy the pricing-summary aggregate projection (memoized): the
    lineitem money sums cubed by (returnflag, linestatus, shipdate).

    The group key bounds the cube at |flags| x |statuses| x |days| —
    ~15k rows at EVERY corpus scale — while any shipdate-cutoff
    pricing query folds it exactly: the filter predicate is on a
    group-by key, and int64 sums re-aggregate associatively. Per-money-
    column non-null counts are stored so AVG denominators match
    COUNT(col) semantics bit-for-bit even on corpora with NULL money
    fields. This is the at-rest answer to q01's scan floor: the raw
    query reads 30M rows to produce 6; the cube reads 15k.
    """
    tag, wh = _layout_paths(sf_dir)
    cube_name = f"lineitem_pricing_cube_{tag}"
    ws = warehouse(spark, sf_dir)
    if "pricing_cube" in ws.projections:
        return ws.projections["pricing_cube"]
    from .retention import apply_tombstones

    li_name, _ = bucketed_fact_tables(spark, sf_dir)
    cube = (
        apply_tombstones(
            spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
        )
        .groupBy("l_returnflag", "l_linestatus", "l_shipdate")
        .agg(*_pricing_cube_aggs())
    )
    path = os.path.join(wh, cube_name)
    cube.write.mode("overwrite").parquet(path)
    ws.projections["pricing_cube"] = path
    return path


# The cube's stored partial states — one place, used identically by the
# initial deploy and the delta refresh so the two can never drift.
# Sums and counts merge by +; per-group int64 MIN/MAX partials (added
# round 6 for MIN/MAX routing) merge by least/greatest — all
# commutative monoids, so delta-merge == rebuild bit-for-bit. The
# min/max columns double as per-group zone maps.
_CUBE_SUM_COLS = ("qty_i", "price_i", "disc_i", "rev_i", "charge_i")
_CUBE_CNT_COLS = ("cnt_qty", "cnt_price", "cnt_disc", "cnt")
_CUBE_MIN_COLS = tuple(f"min_{c}" for c in _CUBE_SUM_COLS)
_CUBE_MAX_COLS = tuple(f"max_{c}" for c in _CUBE_SUM_COLS)


def _pricing_cube_aggs() -> list:
    src = {
        "qty_i": "l_qty_i",
        "price_i": "l_price_i",
        "disc_i": "l_disc_i",
        "rev_i": "l_rev_i",
        "charge_i": "l_charge_i",
    }
    aggs = [F.sum(src[c]).alias(c) for c in _CUBE_SUM_COLS]
    aggs += [
        F.count("l_quantity").alias("cnt_qty"),
        F.count("l_extendedprice").alias("cnt_price"),
        F.count("l_discount").alias("cnt_disc"),
        F.count(F.lit(1)).alias("cnt"),
    ]
    aggs += [F.min(src[c]).alias(f"min_{c}") for c in _CUBE_SUM_COLS]
    aggs += [F.max(src[c]).alias(f"max_{c}") for c in _CUBE_SUM_COLS]
    return aggs


# Sketch partials stored by the STAR cube (the star shapes are where
# "distinct suppliers/parts per region/period" lives): datasketches
# HLL sketches are commutative monoids under register-max union, so
# approx distinct counts re-aggregate from the cube with no distinct
# shuffle, and the merged register state equals the single-pass state
# (estimates agree exactly; serialized sparse form may differ — the
# rebuild-equal tests compare sketch columns at the estimate level).
_STAR_SKETCH_COLS = ("supp_hll", "part_hll")


def _star_cube_aggs() -> list:
    return _pricing_cube_aggs() + [
        F.hll_sketch_agg("l_suppkey").alias("supp_hll"),
        F.hll_sketch_agg("l_partkey").alias("part_hll"),
    ]


# The star cube's group keys: the full lineitem pricing key set PLUS
# the region/nation names. Row bound is |nations| x |flags| x
# |statuses| x |days| ≈ 375k at EVERY corpus scale (nation determines
# region) — adding per-order attributes (mktsegment, priority) would
# multiply that toward the order count, so those shapes stay on the
# rollup⋈denorm pair or the bucketed spine instead.
_STAR_CUBE_KEYS = ("r_name", "n_name", "l_returnflag", "l_linestatus", "l_shipdate")


def star_date_cube_table(spark: SparkSession, sf_dir: str) -> str:
    """Deploy the star aggregate projection (memoized): ALL pricing
    measures (int64 sums, non-null counts, min/max partials — the
    same stored-partial contract as the pricing cube) cubed by
    (region, nation, returnflag, linestatus, shipdate).

    Bounded at ~375k rows at EVERY corpus scale — it answers the
    time-sliced star family ("revenue per region/nation over a date
    range"), MIXED fact+dimension groupings (revenue by returnflag x
    region), and star min/max/avg shapes the rollup pair's
    revenue-only storage cannot. A date or group-key predicate lands
    on a cube key so it folds exactly, and every partial re-aggregates
    associatively. Built from the bucketed lineitem (derived money
    columns already materialized) joined through the dimension-
    denormalized orders table, so the deploy itself is the
    exchange-free spine join plus one bounded aggregation."""
    tag, wh = _layout_paths(sf_dir)
    cube_name = f"star_date_cube_{tag}"
    ws = warehouse(spark, sf_dir)
    if "star_date_cube" in ws.projections:
        return ws.projections["star_date_cube"]
    from .retention import apply_tombstones

    li_name, _ = bucketed_fact_tables(spark, sf_dir)
    _, den_name = order_revenue_projection(spark, sf_dir)
    li = apply_tombstones(
        spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
    )
    den = spark.table(den_name).select("o_orderkey", "r_name", "n_name")
    # no shuffle_hash hint on deploy joins: sort-merge spills
    # gracefully where a per-task hash relation can OOM at scale
    # (the segment cube hit exactly that at sf20; same rationale
    # in segment_cube_table)
    cube = (
        li.join(den, li.l_orderkey == den.o_orderkey)
        .groupBy(*_STAR_CUBE_KEYS)
        .agg(*_star_cube_aggs())
    )
    path = os.path.join(wh, cube_name)
    cube.write.mode("overwrite").parquet(path)
    ws.projections["star_date_cube"] = path
    return path


# The segment cube's group keys (round 7, the q10 answer): the q10
# family groups LOW-CARDINALITY per-order attributes against the
# lineitem flags — and every such attribute has a fixed domain
# (|segments|=5, |priorities|=5, |statuses|=3), so cubing them is
# bounded at 5x5x3x3x2 = 450 rows at EVERY corpus scale. The round-6
# premise ("cubing per-order attributes grows toward the order
# count") holds only for o_orderdate — which therefore stays OUT of
# this key set; dated segment shapes keep the spine.
_SEGMENT_CUBE_KEYS = (
    "c_mktsegment", "o_orderpriority", "o_orderstatus",
    "l_returnflag", "l_linestatus",
)


def segment_cube_table(spark: SparkSession, sf_dir: str) -> str:
    """Deploy the per-order-attribute segment cube (memoized): ALL
    pricing measures cubed by (mktsegment, priority, orderstatus,
    returnflag, linestatus) over the full chain-4 star join — the
    materialized answer to the q10 family, which until round 7 was
    the last routed >2x shape (the zero-exchange spine still had to
    SCAN the fact per query; 450 stored rows don't). Built from the
    bucketed spine like the star cube, so the deploy is exchange-free
    plus one bounded aggregation."""
    tag, wh = _layout_paths(sf_dir)
    cube_name = f"segment_cube_{tag}"
    ws = warehouse(spark, sf_dir)
    if "segment_cube" in ws.projections:
        return ws.projections["segment_cube"]
    from .retention import apply_tombstones

    li_name, _ = bucketed_fact_tables(spark, sf_dir)
    _, den_name = order_revenue_projection(spark, sf_dir)
    li = apply_tombstones(
        spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
    )
    den = spark.table(den_name).select(
        "o_orderkey", "c_mktsegment", "o_orderpriority", "o_orderstatus"
    )
    # NO shuffle_hash hint on the DEPLOY join: a hash relation must
    # fit per task and dies with "can't acquire memory" when it
    # doesn't (measured at sf20 — 120M lineitems, 30M denorm rows);
    # sort-merge over the bucket-aligned sorted tables spills
    # gracefully, and a one-shot deploy pays the sort once. The
    # QUERY-time spine keeps the hint where it is measured faster.
    cube = (
        li.join(den, li.l_orderkey == den.o_orderkey)
        .groupBy(*_SEGMENT_CUBE_KEYS)
        .agg(*_pricing_cube_aggs())
    )
    path = os.path.join(wh, cube_name)
    cube.write.mode("overwrite").parquet(path)
    ws.projections["segment_cube"] = path
    return path


def refresh_segment_cube(
    spark: SparkSession,
    sf_dir: str,
    delta_lineitem: DataFrame,
    prejoined: DataFrame | None = None,
) -> str:
    """Incrementally maintain the segment cube for one ingested
    lineitem batch — the star-cube refresh shape verbatim (delta joins
    the stored denorm INNER, additive monoid merge == rebuild; same
    denorm-first ordering contract). ``prejoined`` (round 13): the
    shared checkpointed delta frame; its denorm-matched rows
    (o_orderkey IS NOT NULL under the LEFT join) are exactly this
    INNER join's rows."""
    stored_path = segment_cube_table(spark, sf_dir)
    keys = list(_SEGMENT_CUBE_KEYS)
    if prejoined is not None:
        joined = prejoined.filter(F.col("o_orderkey").isNotNull())
    else:
        _, den_name = order_revenue_projection(spark, sf_dir)
        li = _lineitem_with_derived(delta_lineitem)
        den = spark.table(den_name).select(
            "o_orderkey", "c_mktsegment", "o_orderpriority", "o_orderstatus"
        )
        joined = li.join(den, li.l_orderkey == den.o_orderkey)
    delta_cube = joined.groupBy(*keys).agg(*_pricing_cube_aggs())
    # versioned_parquet, not read.parquet (round 13): the stored cube
    # path is immutable once published — the routed read path already
    # memoizes this exact path, so the refresh re-running file listing
    # + schema inference per merge was pure fixed cost (guide §6)
    from .snapshots import versioned_parquet

    merged = _merge_cube_frames(
        versioned_parquet(spark, stored_path), delta_cube, keys
    )
    ws = warehouse(spark, sf_dir)
    new_path = ws.publish(stored_path)
    merged.write.mode("overwrite").parquet(new_path)
    ws.projections["segment_cube"] = new_path
    return new_path


def merge_partial_frames(
    stored: DataFrame,
    delta: DataFrame,
    keys: tuple[str, ...],
    add_cols: tuple[str, ...],
    min_cols: tuple[str, ...],
    max_cols: tuple[str, ...],
    sketch_cols: tuple[str, ...] = (),
) -> DataFrame:
    """THE merge identity every cube refresh shares, with the column
    contract passed in: full-outer on the (null-safe) group key, + for
    sums and counts, least/greatest for min/max partials, register-max
    ``hll_union`` for sketch partials (all skip/propagate NULLs —
    exactly the identity a group present on only one side needs).
    Every stored column is a commutative monoid, so delta-merge ==
    rebuild (bit-for-bit for the numeric partials; estimate-identical
    for sketches, whose serialized sparse form may differ). Defined
    ONCE here so the lineitem cubes, the corpus cubes, and the user
    projections can never drift on the merge semantics."""
    s, d = stored.alias("s"), delta.alias("d")
    cond = [F.col(f"s.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys]
    return s.join(d, cond, "full_outer").select(
        *[F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}")).alias(k) for k in keys],
        *[
            (
                F.coalesce(F.col(f"s.{m}"), F.lit(0))
                + F.coalesce(F.col(f"d.{m}"), F.lit(0))
            ).alias(m)
            for m in add_cols
        ],
        *[F.least(F.col(f"s.{m}"), F.col(f"d.{m}")).alias(m) for m in min_cols],
        *[F.greatest(F.col(f"s.{m}"), F.col(f"d.{m}")).alias(m) for m in max_cols],
        *[
            F.when(F.col(f"s.{m}").isNull(), F.col(f"d.{m}"))
            .when(F.col(f"d.{m}").isNull(), F.col(f"s.{m}"))
            .otherwise(F.hll_union(F.col(f"s.{m}"), F.col(f"d.{m}")))
            .alias(m)
            for m in sketch_cols
        ],
    )


def _merge_cube_frames(stored, delta, keys: list[str], sketch_cols=()):
    """The pricing-partial instance of :func:`merge_partial_frames`."""
    return merge_partial_frames(
        stored, delta, tuple(keys),
        (*_CUBE_SUM_COLS, *_CUBE_CNT_COLS),
        _CUBE_MIN_COLS, _CUBE_MAX_COLS, tuple(sketch_cols),
    )


def refresh_pricing_cube(
    spark: SparkSession,
    sf_dir: str,
    delta_lineitem: DataFrame,
    prejoined: DataFrame | None = None,
) -> str:
    """Incrementally maintain the pricing cube for one ingested
    lineitem batch: cube the DELTA with the same group keys and
    measures, merge additively into the stored cube (full-outer on the
    3-part group key; every measure — int64 sums AND the non-null
    counts — is a commutative monoid, so delta-merge == rebuild
    bit-for-bit), and publish a new VERSION the memo swings to
    atomically. Refresh cost is O(|delta| + |cube|), and the cube is
    ~15k rows at ANY corpus scale — so maintenance stays constant-cost
    while the corpus grows. Proven rebuild-equal in
    tests/test_bucketing.py."""
    tag, wh = _layout_paths(sf_dir)
    stored_path = pricing_cube_table(spark, sf_dir)
    keys = ["l_returnflag", "l_linestatus", "l_shipdate"]
    # ``prejoined`` (round 13): the shared delta frame — ALL rows (its
    # LEFT join preserves every delta row), extra denorm columns
    # ignored by the grouping, so the delta cube is value-identical.
    delta_src = (
        prejoined
        if prejoined is not None
        else _lineitem_with_derived(delta_lineitem)
    )
    delta_cube = delta_src.groupBy(*keys).agg(*_pricing_cube_aggs())
    from .snapshots import versioned_parquet

    merged = _merge_cube_frames(
        versioned_parquet(spark, stored_path), delta_cube, keys
    )
    ws = warehouse(spark, sf_dir)
    new_path = ws.publish(stored_path)
    merged.write.mode("overwrite").parquet(new_path)
    ws.projections["pricing_cube"] = new_path
    return new_path


def refresh_star_date_cube(
    spark: SparkSession,
    sf_dir: str,
    delta_lineitem: DataFrame,
    prejoined: DataFrame | None = None,
) -> str:
    """Incrementally maintain the star-by-date cube for one ingested
    lineitem batch: pre-aggregate the DELTA per (order, shipdate),
    resolve region/nation through the stored denorm (the denorm is
    bucketed on the order key, so only the small delta side shuffles),
    cube the result, and merge additively into the stored cube —
    full-outer on the 3-part group key, both measures (int64 revenue
    sum, count) commutative monoids, so delta-merge == rebuild
    bit-for-bit. New VERSION published via the memo swing, same atomic
    pattern as the other projections.

    ORDERING: a batch that also introduces new ORDERS must refresh the
    denorm first (:func:`refresh_orders_denorm`) — the cube delta joins
    the denorm INNER, exactly like the deploy build, so a lineitem
    whose order is missing from the denorm is dropped from the cube on
    both the refresh and the rebuild path (consistent, but only the
    ingest order above gives the intended result). Cost is
    O(|delta| + |cube|); the cube is ~375k rows at ANY corpus scale."""
    tag, wh = _layout_paths(sf_dir)
    stored_path = star_date_cube_table(spark, sf_dir)
    keys = list(_STAR_CUBE_KEYS)
    # ``prejoined`` (round 13): shared delta frame; denorm-matched rows
    # == this INNER join (see refresh_segment_cube).
    if prejoined is not None:
        joined = prejoined.filter(F.col("o_orderkey").isNotNull())
    else:
        _, den_name = order_revenue_projection(spark, sf_dir)
        li = _lineitem_with_derived(delta_lineitem)
        den = spark.table(den_name).select("o_orderkey", "r_name", "n_name")
        joined = li.join(den, li.l_orderkey == den.o_orderkey)
    delta_cube = joined.groupBy(*keys).agg(*_star_cube_aggs())
    from .snapshots import versioned_parquet

    merged = _merge_cube_frames(
        versioned_parquet(spark, stored_path), delta_cube, keys,
        _STAR_SKETCH_COLS,
    )
    ws = warehouse(spark, sf_dir)
    new_path = ws.publish(stored_path)
    merged.write.mode("overwrite").parquet(new_path)
    ws.projections["star_date_cube"] = new_path
    return new_path


# Same result contract as q26_star_join_revenue (operators/joins.py) —
# bucketing is a physical property, the answer is bit-identical.
_BUCKETED_STAR_ORACLE = """
SELECT
  r_name,
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


@query(
    "q39_bucketed_star_join",
    oracle=_BUCKETED_STAR_ORACLE,
    tags=("bench", "S11", "J1", "J4", "A1"),
)
def q39_bucketed_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q26 star-schema revenue rollup over the layout's
    PROJECTIONS: a per-order lineitem rollup joined to a
    dimension-denormalized orders table, both bucketed on the order
    key — bit-identical answer, zero exchanges on the fact spine, and
    both the 4:1 lineitem fan-out and the dim-broadcast arm already
    collapsed at rest (see :func:`order_revenue_projection`).

    Plan shape: two bucketed scans → ShuffledHashJoin whose "shuffle"
    is satisfied by the matching bucket specs (NO exchange, no sorts)
    → 25-group partial aggregate → one 25-row final exchange. The
    shuffle_hash hint keeps the r4-measured win over SMJ (the
    aggregate loses sort order anyway; 0.51 s vs 0.57 s at sf5 over
    these projections). Evolution across rounds, A/B at sf5 in
    docs/BENCHMARKS.md: raw-bucketed join 1.93 s → derived-column
    scan 1.69 s → projections 0.51 s vs DuckDB 0.43 s — the layout,
    not the plan, is what closes the 2x gate. Asserted exchange-free
    in tests/test_plans.py.
    """
    roll_name, den_name = order_revenue_projection(spark, sf_dir)
    r = spark.table(roll_name)
    d = spark.table(den_name)
    return (
        r.join(d.hint("shuffle_hash"), r.l_orderkey == d.o_orderkey)
        .groupBy("r_name", "n_name")
        .agg(
            isum_expr(F.col("rev_i"), 10_000).alias("revenue"),
            F.sum("n_items").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


# Same result contract as q01_pricing_summary (operators/relational.py)
# — the derived columns hold the same arithmetic, computed at write.
_BUCKETED_PRICING_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
           * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
    AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice)
    AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query(
    "q46_bucketed_pricing",
    oracle=_BUCKETED_PRICING_ORACLE,
    tags=("bench", "S11", "A1", "P2", "O1"),
)
def q46_bucketed_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q01's pricing summary folded from the AGGREGATE PROJECTION
    (:func:`pricing_cube_table`): the shipdate cutoff filters on a
    cube group key, int64 partial sums re-aggregate associatively, and
    AVG divides by the stored per-column non-null counts — so the
    answer is bit-identical to the q01 oracle while the scan reads
    ~15k cube rows instead of the full lineitem (30M at sf5; the rows
    read are INDEPENDENT of corpus scale, bounded by flag x status x
    day cardinality). sf5 A/B: raw q01 0.59 s, derived-column scan
    0.99 s (wider table, same row count — derived columns alone do
    NOT pay here), cube 0.22 s vs DuckDB 0.27 s. The general-predicate
    fallback remains q01 over the base table.
    """
    from .snapshots import versioned_parquet

    cube_path = pricing_cube_table(spark, sf_dir)
    pre = versioned_parquet(spark, cube_path).filter(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            isum_expr(F.col("qty_i"), 100).alias("sum_qty"),
            isum_expr(F.col("price_i"), 100).alias("sum_base_price"),
            isum_expr(F.col("rev_i"), 10_000).alias("sum_disc_price"),
            isum_expr(F.col("charge_i"), 1_000_000).alias("sum_charge"),
            (isum_expr(F.col("qty_i"), 100) / F.sum("cnt_qty")).alias("avg_qty"),
            (isum_expr(F.col("price_i"), 100) / F.sum("cnt_price")).alias("avg_price"),
            (isum_expr(F.col("disc_i"), 100) / F.sum("cnt_disc")).alias("avg_disc"),
            F.sum("cnt").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
