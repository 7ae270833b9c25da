"""Clustered documents layout (round 7): pruning asserted, not
narrated — same discipline as tests/test_dated.py / test_zorder.py.
Correctness is the usual layout contract: identical rows to the raw
table filter, whatever the physical layout."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdataproj_spark.catalog import table
from bigdataproj_spark.plans.routing import (
    Pred,
    TableScanQuery,
    route_scan,
)
from bigdataproj_spark.sources.docstore import (
    append_clustered_docs,
    write_clustered_docs,
)


def _scan_rows(spark, df) -> int:
    df.collect()
    leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    return int(leaf.metrics().apply("numOutputRows").value())


def test_clustered_docs_prunes_language_directories(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    path = str(tmp_path / "clustered")
    write_clustered_docs(docs, path, n_files=8, row_group_bytes=4096)
    total = docs.count()

    pred = (F.col("lang") == "zh") & F.col("source").isin("src1", "src2")
    matched = docs.filter(pred).count()
    assert 0 < matched < total

    pruned = spark.read.parquet(path).filter(pred)
    assert sorted(r["doc_id"] for r in pruned.collect()) == sorted(
        r["doc_id"] for r in docs.filter(pred).collect()
    )
    # one language directory out of |langs|, then source skipping
    # inside it: the scan must touch a small fraction of the corpus
    scanned = _scan_rows(spark, pruned)
    assert scanned <= max(matched * 2, total // 4), (scanned, matched, total)
    # lang is a REAL partition column: pruning shows up as a
    # PartitionFilters entry derived from the plain row predicate
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan, plan


def test_route_corpus_scan_picks_clustered_docs_and_matches(spark, sf_dir):
    q = TableScanQuery(
        "documents",
        ("doc_id", "source", "n_chars"),
        (Pred("lang", "=", "en"), Pred("n_chars", ">=", 150)),
    )
    df, chosen = route_scan(spark, sf_dir, q)
    assert chosen == "clustered_documents"
    want = (
        table(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & (F.col("n_chars") >= 150))
        .select(*q.columns)
    )
    cols = list(q.columns)
    assert (
        df.orderBy(*cols).toPandas().equals(want.orderBy(*cols).toPandas())
    )


def test_append_clustered_docs_keeps_pruning_and_rows(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    # half the delta lands in a NEW language: new directories appear
    delta = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
        "lang",
        F.when(F.col("doc_id") % 2 == 0, F.col("lang")).otherwise(F.lit("xx")),
    )
    path = str(tmp_path / "clustered")
    write_clustered_docs(base, path, n_files=8)
    dirs_before = {d for d in os.listdir(path) if d.startswith("lang=")}
    append_clustered_docs(delta, path)
    dirs_after = {d for d in os.listdir(path) if d.startswith("lang=")}
    assert dirs_before < dirs_after  # lang=xx appeared as a new dir

    both = base.unionByName(delta)
    got = spark.read.parquet(path)
    assert got.count() == both.count()

    pred = F.col("lang") == "xx"
    pruned = got.filter(pred)
    assert pruned.count() == both.filter(pred).count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan, plan
