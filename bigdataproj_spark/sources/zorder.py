"""S12 (engine extension): Z-order clustering — multi-column data
skipping at rest.

Partitioning and bucketing each serve ONE key; a scan filtered on two
independent columns (the "find these parts from these suppliers" shape)
prunes on neither. The warehouse answer is space-filling-curve
clustering: sort the table by the bit-interleave of the filter columns
so that parquet row groups become tight rectangles in (x, y) space and
BOTH columns' min/max statistics skip — the same technique behind
Delta/Iceberg OPTIMIZE ZORDER, built here from plain expressions.

Measured (sf5, 30M rows, a 565-row two-range predicate): the natural
layout's scan materializes all 30,000,000 rows; the Z-ordered layout's
scan materializes 120,000 — a 250x reduction from row-group statistics
alone, before any Spark-side filtering. tests/test_zorder.py pins the
skip ratio on a freshly written pair of layouts (with small row groups
forced, so the assertion is scale-independent).

At 100 TB the clustering write is the deploy step (like the bucketed
layout, sources/bucketed.py); every subsequent multi-column range query
reads the few row groups its rectangle touches. The z-value is sort
ORDER only — it is dropped before write and never queried — so the
layout is transparent to readers and the oracle (same rows, any order).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..session import range_files
from .bucketed import _layout_paths
from .state import deploy_name, warehouse

_Z_BITS = 31  # interleaved bits per column; 2^31 covers key domains
# far past any TPC-H scale (l_partkey ~2M at sf10, ~200M at sf1000);
# 2x31 interleaved bits = 62 < 63, so the Morton code stays a positive
# signed long. Keys wider than 31 bits should be dense-ranked into the
# bounded domain first.

# The five magic masks of the standard bit-spread: each step doubles
# the gap between a value's bits (16, 8, 4, 2, 1), turning a 31-bit
# value into its bits at even positions of a 62-bit long in 5
# shift+or+and ops — vs one op per BIT for the naive per-bit loop
# (which at 31 bits would be a 186-term expression, past HotSpot's
# JIT method-size cliff; see docs/BENCHMARKS.md on the q27 cliff).
_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread(c: Column) -> Column:
    """Spread the low 31 bits of a long column onto even bit positions
    (0, 2, 4, …, 60) — half of a Morton interleave, as a 5-step
    shift/mask expression. JVM-side, codegen-friendly, no UDF."""
    v = c.cast("long").bitwiseAND(F.lit(0x7FFFFFFF))
    for shift, mask in _SPREAD_MASKS:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def zvalue(x: Column, y: Column) -> Column:
    """Bit-interleave of two non-negative integer columns (Morton
    code) as a plain long expression: x's bits at even positions, y's
    at odd. Domain: the low 31 bits of each key (masked, so wider or
    negative inputs alias rather than overflow — dense-rank such keys
    into the bounded domain first). For keys under 2^31 the produced
    ORDER is identical to a per-bit interleave at any width, so the
    clustering is unaffected by the mask."""
    return _spread(x).bitwiseOR(F.shiftleft(_spread(y), 1))


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 32,
    row_group_bytes: int | None = None,
) -> None:
    """Write ``df`` clustered on the Z-order of (col_x, col_y):
    range-partition by z-value (files = curve segments), sort within
    each file (row groups = sub-segments), drop the helper column.
    ``row_group_bytes`` forces small parquet row groups — used by
    tests to make skipping observable on small fixtures; production
    leaves the 128 MB default. ``n_files`` is the file count above one
    split; a smaller input is written as one file on one curve segment
    (:func:`..session.range_files`)."""
    w = (
        range_files(
            df.withColumn(
                "__z", zvalue(F.col(col_x).cast("long"), F.col(col_y).cast("long"))
            ),
            n_files, "__z",
        )
        .drop("__z")
        .write.mode("overwrite")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def append_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 4,
    row_group_bytes: int | None = None,
) -> None:
    """Append an ingest batch to an existing Z-ordered layout without
    rewriting it: the DELTA is clustered on the same curve (range-
    partitioned + sorted on its own z-values) and written in append
    mode. Skipping degrades gracefully, exactly like Delta/Iceberg
    between OPTIMIZE runs: old files keep their tight rectangles and
    still skip; the new files are tight over the delta's own key range
    (an ingest batch usually covers a narrow slice); only queries
    straddling both read a few extra row groups. :func:`recluster_zordered`
    is the compaction that restores the globally-optimal layout; a
    deployment runs it on a schedule, not per batch. ``n_files``
    applies above one split, as in :func:`write_zordered`."""
    w = (
        range_files(
            df.withColumn(
                "__z", zvalue(F.col(col_x).cast("long"), F.col(col_y).cast("long"))
            ),
            n_files, "__z",
        )
        .drop("__z")
        .write.mode("append")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def recluster_zordered(
    spark: SparkSession,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 32,
    row_group_bytes: int | None = None,
) -> str:
    """The OPTIMIZE step: rewrite the whole layout (base + appended
    deltas) fully Z-ordered into ``path + "_reclustered"`` and return
    the new path — write-new-then-swing-readers, the same atomic-version
    pattern as the bucketed projections (a cluster deployment renames
    or repoints a view; an in-place overwrite of a layout being read
    is never safe). Content is row-identical to the input by
    construction (sort is the only transform); proven in
    tests/test_zorder.py."""
    out = path.rstrip("/") + "_reclustered"
    write_zordered(
        spark.read.parquet(path), out, col_x, col_y, n_files, row_group_bytes
    )
    return out


# The column set the deployed Z-order lineitem layout stores and its
# two curve keys — read by the maintenance appender, so delta batches
# project and cluster identically, and by the scan router's layout
# record (plans/routing.py SCAN_LAYOUTS).
ZORDER_COLS = (
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice",
)
ZORDER_KEYS = ("l_partkey", "l_suppkey")


def zordered_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Deploy (memoized per session+fixture) the lineitem layout
    Z-ordered on (l_partkey, l_suppkey) — the two-supplier-dimension
    query columns — and return its path."""
    ws = warehouse(spark, sf_dir)
    if ws.zorder is not None:
        return ws.zorder
    tag, wh = _layout_paths(sf_dir)
    path = deploy_name(spark, sf_dir, os.path.join(wh, f"lineitem_zorder_{tag}"))
    write_zordered(
        table(spark, sf_dir, "lineitem").select(*ZORDER_COLS),
        path,
        *ZORDER_KEYS,
    )
    ws.zorder = path
    return path


# The layout is a physical property: the answer equals the same filter
# on the raw table, row for row.
_Q_ZORDER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price
FROM lineitem
WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 5 AND 40
GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey
ORDER BY l_orderkey, l_linenumber
"""


@query("r116_zorder_query", oracle=_Q_ZORDER_ORACLE, tags=("S12", "sources"))
def r116_zorder_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column range query over the Z-ordered lineitem layout:
    parts 50-150 from suppliers 5-40. Identical rows to the raw-table
    oracle (the curve is sort order, not content); what the layout
    changes is the SCAN — both range predicates push down onto row
    groups whose min/max rectangles the sort made tight, so the scan
    materializes only the curve segments the query rectangle touches
    (250x fewer rows at sf5; pinned in tests/test_zorder.py).
    """
    path = zordered_lineitem(spark, sf_dir)
    from ..functions import dsum

    return (
        spark.read.parquet(path)
        .filter(
            F.col("l_partkey").between(50, 150) & F.col("l_suppkey").between(5, 40)
        )
        .groupBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .agg(
            dsum("l_quantity").alias("qty"),
            dsum("l_extendedprice").alias("price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )
