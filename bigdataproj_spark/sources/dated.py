"""S14 (engine extension): date-partitioned lineitem layout — partition
pruning for time-range scans.

Z-order (sources/zorder.py) serves multi-key range scans; the other
canonical warehouse scan is the TIME SLICE ("last month's lineitems"),
and its at-rest answer is hive-style date partitioning: one directory
per ship month, rows range-sorted by exact shipdate within each, so a
date-range query reads only the month directories its range touches
(directory-level pruning, before any file is opened) and then only the
row groups its exact bounds touch (statistics-level skipping inside
the month). At 100 TB a month is ~1/84th of a 7-year corpus: the
layout turns a full scan into a read proportional to the query's time
window.

Spark prunes on the PARTITION column only, and the partition column
(``ship_month``) is derived — so the reader must derive month bounds
from the query's ``l_shipdate`` predicates itself. That derivation is
a SUPERSET constraint by construction (month truncation is monotone,
so every row satisfying the exact predicate lives in a kept month);
the exact row-level predicate is still applied after, which is what
makes the rewrite correctness-free: a derivation bug could only read
MORE partitions, never produce a wrong answer. Cited behavior:
reference README.md:102-104 (query the indexed store — the engine,
not the user, picks the layout).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..session import range_files
from .bucketed import _layout_paths
from .state import deploy_name, warehouse

_MONTH_FMT = "yyyy-MM"


def write_dated(
    df: DataFrame,
    path: str,
    n_files: int = 32,
    row_group_bytes: int | None = None,
) -> None:
    """Write ``df`` hive-partitioned by ship month and range-sorted by
    exact ``l_shipdate`` within each partition. ``repartitionByRange``
    over (month, date) splits big months across several sorted files —
    at 100 TB one month is far past a single task — while keeping each
    file's shipdate min/max tight for row-group skipping inside the
    month. ``row_group_bytes`` forces small parquet row groups for
    tests (scale-independent skip assertions); production keeps the
    128 MB default. ``n_files`` is the file count above one split; a
    smaller input is written as one file per month directory
    (:func:`..session.range_files`)."""
    w = (
        range_files(
            df.withColumn(
                "ship_month", F.date_format(F.col("l_shipdate"), _MONTH_FMT)
            ),
            n_files, "ship_month", "l_shipdate",
        )
        .write.mode("overwrite")
        .partitionBy("ship_month")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def append_dated(
    df: DataFrame,
    path: str,
    n_files: int = 4,
    row_group_bytes: int | None = None,
) -> None:
    """Append an ingest batch to an existing dated layout without
    rewriting it: hive partitioning is append-friendly by construction
    — a batch's rows land in their month directories as NEW files
    (new months create new directories), so directory-level pruning is
    exactly as effective as before, and within-month skipping degrades
    only for months the batch touched (its files are themselves
    shipdate-sorted, so their row groups stay tight over the batch's
    own range). Re-running :func:`write_dated` over the union is the
    OPTIMIZE step that re-merges small files; a deployment runs it on
    a schedule, not per batch — same posture as
    :func:`..zorder.recluster_zordered`. ``n_files`` applies above one
    split, as in :func:`write_dated`."""
    w = (
        range_files(
            df.withColumn(
                "ship_month", F.date_format(F.col("l_shipdate"), _MONTH_FMT)
            ),
            n_files, "ship_month", "l_shipdate",
        )
        .write.mode("append")
        .partitionBy("ship_month")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def dated_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Deploy (memoized per session+fixture) the full-width lineitem
    layout partitioned by ship month, and return its path."""
    ws = warehouse(spark, sf_dir)
    if ws.dated is not None:
        return ws.dated
    tag, wh = _layout_paths(sf_dir)
    path = deploy_name(spark, sf_dir, os.path.join(wh, f"lineitem_dated_{tag}"))
    write_dated(table(spark, sf_dir, "lineitem"), path)
    ws.dated = path
    return path


# A date-or-timestamp literal's leading date fields, PADDING-TOLERANT:
# SQL engines (Spark's cast, DuckDB's parser) accept '2000-3-15' as a
# valid literal, so the derivation must not assume zero-padded text.
_ISO_DATE_PREFIX = re.compile(r"^\s*(\d{4})-(\d{1,2})-(\d{1,2})(?![\d-])")


def _time_key_of(value, keylen: int) -> str | None:
    """The truncation key ('yyyy-MM' or 'yyyy-MM-dd') of a timestamp
    literal's text form. The key is built from PARSED-AND-REFORMATTED
    date fields, never from a raw text slice: a non-padded literal like
    '2000-3-15' (valid to Spark and DuckDB) would slice to '2000-3-'
    and lexicographically exclude months '2000-04'..'2000-12' — a
    silent under-read that breaks the module's superset invariant.
    Literals that don't parse as ISO-ish dates (or have out-of-range
    fields) return None: no pruning, still correct."""
    if not isinstance(value, str):
        return None
    m = _ISO_DATE_PREFIX.match(value)
    if not m:
        return None
    y, mo, d = (int(g) for g in m.groups())
    if not (1 <= mo <= 12 and 1 <= d <= 31):
        return None
    return f"{y:04d}-{mo:02d}-{d:02d}"[:keylen]


def time_bounds_filter(preds, ts_col: str, part_col: str, keylen: int) -> Column | None:
    """Derive the partition-pruning predicate on ``part_col`` from the
    query's ``ts_col`` conjuncts — a SUPERSET of the partitions any
    matching row can live in (truncation is monotone, so e.g.
    ``ts <= T`` implies ``trunc(ts) <= trunc(T)``; the ISO string form
    preserves the order). Conjuncts that don't yield a bound contribute
    nothing (still correct: the exact row filter runs after). Returns
    None when no bound is derivable."""
    out: Column | None = None

    def add(c: Column) -> None:
        nonlocal out
        out = c if out is None else (out & c)

    for p in preds:
        if getattr(p, "col", None) != ts_col:
            continue
        m = F.col(part_col)
        if p.op == "between":
            lo, hi = (
                _time_key_of(p.value[0], keylen),
                _time_key_of(p.value[1], keylen),
            )
            if lo and hi:
                add(m.between(lo, hi))
        elif p.op in ("<=", "<"):
            key = _time_key_of(p.value, keylen)
            if key:
                add(m <= key)
        elif p.op in (">=", ">"):
            key = _time_key_of(p.value, keylen)
            if key:
                add(m >= key)
        elif p.op == "=":
            key = _time_key_of(p.value, keylen)
            if key:
                add(m == key)
        elif p.op == "in":
            keys = [_time_key_of(v, keylen) for v in p.value]
            if all(keys):
                add(m.isin(*keys))
    return out


def month_bounds_filter(preds) -> Column | None:
    """The lineitem instance of :func:`time_bounds_filter`: ship-month
    bounds from ``l_shipdate`` conjuncts ('yyyy-MM' is 7 chars)."""
    return time_bounds_filter(preds, "l_shipdate", "ship_month", 7)


# ---------------------------------------------------------------------------
# The events instance (S15): day-partitioned event log. An event
# stream's natural partition unit is the DAY (finer than lineitem's
# month because event tables are written continuously and queried in
# short windows — "yesterday's errors" should open one directory). The
# same superset-derivation argument applies verbatim at the day grain.
# ---------------------------------------------------------------------------

_DAY_FMT = "yyyy-MM-dd"


def write_dated_events(
    df: DataFrame,
    path: str,
    n_files: int = 32,
    row_group_bytes: int | None = None,
) -> None:
    """Write an events frame hive-partitioned by event day and
    range-sorted by exact ``ts`` within each partition — the day-grain
    twin of :func:`write_dated` (same file-count and row-group knobs;
    ``n_files`` applies above one split, one file per day below it)."""
    w = (
        range_files(
            df.withColumn("event_day_p", F.date_format(F.col("ts"), _DAY_FMT)),
            n_files, "event_day_p", "ts",
        )
        .write.mode("overwrite")
        .partitionBy("event_day_p")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def append_dated_events(
    df: DataFrame,
    path: str,
    n_files: int = 4,
    row_group_bytes: int | None = None,
) -> None:
    """Append an event batch to the day-partitioned layout — the
    streaming-ingest write shape (a micro-batch lands in today's
    directory as new ts-sorted files); same append-friendliness
    argument as :func:`append_dated`, and ``n_files`` applies above one
    split."""
    w = (
        range_files(
            df.withColumn("event_day_p", F.date_format(F.col("ts"), _DAY_FMT)),
            n_files, "event_day_p", "ts",
        )
        .write.mode("append")
        .partitionBy("event_day_p")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def dated_events(spark: SparkSession, sf_dir: str) -> str:
    """Deploy (memoized per session+fixture) the events layout
    partitioned by event day, and return its path."""
    ws = warehouse(spark, sf_dir)
    if ws.dated_events is not None:
        return ws.dated_events
    tag, wh = _layout_paths(sf_dir)
    path = deploy_name(spark, sf_dir, os.path.join(wh, f"events_dated_{tag}"))
    write_dated_events(table(spark, sf_dir, "events"), path)
    ws.dated_events = path
    return path


def day_bounds_filter(preds) -> Column | None:
    """The events instance of :func:`time_bounds_filter`: event-day
    bounds from ``ts`` conjuncts ('yyyy-MM-dd' is 10 chars)."""
    return time_bounds_filter(preds, "ts", "event_day_p", 10)
