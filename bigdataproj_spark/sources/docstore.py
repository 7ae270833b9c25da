"""Round 7 (S15, closing r6-VERDICT item 3): clustered at-rest layout
for DOCUMENTS row-level scans.

The scan router gave the events table the S14 treatment (day
directories); documents scans still read the raw fixture parquet. The
canonical row-level document queries are corpus slices — "the English
docs from these sources", "the short docs of one language" — so the
at-rest answer is the same two-level clustering the lineitem layouts
use, instantiated on the documents key hierarchy:

- hive-partition by ``lang``: the coarse, low-cardinality axis
  (|langs| directories at any corpus scale). ``lang`` is a REAL
  partition column here, so Catalyst prunes directories from the row
  predicate itself — no derived superset filter needed (unlike the
  dated layouts, whose partition key is a truncation of the filter
  column).
- within each language, range-sort files by (``source``,
  ``n_chars``): parquet file/row-group min-max stats then skip
  non-matching sources and length bands inside the kept directories.

At 100 TB the text column dominates the bytes; a scan that opens one
language directory and skips to two sources reads megabytes instead of
the corpus. Appends land as new files in their language directories
(pruning keeps working; in-file sort stays tight over the batch);
:func:`..maintenance.optimize_warehouse` re-clusters on a schedule —
the same append/optimize posture as every other row-level layout.

Cited behavior: reference README.md:102-104 (query the indexed store —
the engine, not the user, picks the layout).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..session import range_files
from .bucketed import _layout_paths
from .state import deploy_name, warehouse


def write_clustered_docs(
    df: DataFrame,
    path: str,
    n_files: int = 16,
    row_group_bytes: int | None = None,
) -> None:
    """Write a documents frame hive-partitioned by language and
    range-sorted by (source, n_chars) within each partition.
    ``row_group_bytes`` forces small row groups for scale-independent
    skip assertions in tests; production keeps the 128 MB default.
    ``n_files`` is the file count above one split; a smaller input is
    written as one file per language (:func:`..session.range_files`)."""
    w = (
        range_files(df, n_files, "lang", "source", "n_chars")
        .write.mode("overwrite")
        .partitionBy("lang")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def append_clustered_docs(
    df: DataFrame,
    path: str,
    n_files: int = 4,
    row_group_bytes: int | None = None,
) -> None:
    """Append an ingest batch: rows land in their language directories
    as NEW (source, n_chars)-sorted files — directory pruning stays
    exactly as effective; within-directory skipping degrades only for
    the batch's own files, which are themselves sorted. The scheduled
    OPTIMIZE rewrite re-merges (maintenance.optimize_warehouse).
    ``n_files`` applies above one split, as in
    :func:`write_clustered_docs`."""
    w = (
        range_files(df, n_files, "lang", "source", "n_chars")
        .write.mode("append")
        .partitionBy("lang")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def clustered_documents(spark: SparkSession, sf_dir: str) -> str:
    """Deploy (memoized per session+fixture) the clustered documents
    layout and return its path."""
    ws = warehouse(spark, sf_dir)
    if ws.docstore is not None:
        return ws.docstore
    tag, wh = _layout_paths(sf_dir)
    path = deploy_name(spark, sf_dir, os.path.join(wh, f"documents_clustered_{tag}"))
    write_clustered_docs(table(spark, sf_dir, "documents"), path)
    ws.docstore = path
    return path
