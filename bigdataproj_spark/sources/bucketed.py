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
# The denorm columns the SHARED per-batch delta frame attaches (round
# 13): every order-side column a view the denorm covers can read.
# ``o_orderkey`` doubles as the denorm-matched indicator under the
# frame's LEFT join (NULL == the rows the per-leg INNER joins dropped).
_DELTA_DENORM_COLS = ("o_orderkey", *DENORM_ATTRS)


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
    from .user_projections import deploy_builtin

    return deploy_builtin(spark, sf_dir, "pricing_cube")


def star_date_cube_table(spark: SparkSession, sf_dir: str) -> str:
    from .user_projections import deploy_builtin

    return deploy_builtin(spark, sf_dir, "star_date_cube")


def segment_cube_table(spark: SparkSession, sf_dir: str) -> str:
    from .user_projections import deploy_builtin

    return deploy_builtin(spark, sf_dir, "segment_cube")


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
