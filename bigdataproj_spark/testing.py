"""Differential-test harness: Spark result vs DuckDB oracle.

Mirrors the driver's CORRECTNESS check (row-count + schema + order-
insensitive value compare with columns sorted by name) so local pytest
runs predict the round gate.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any

import numpy as np
import pandas as pd


def _canon_cell(v: Any) -> Any:
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    return v


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, then sort rows via pandas ``sort_values``.

    This deliberately replicates the DRIVER's ``_canon`` (round-1 traceback:
    ``df.sort_values`` over raw columns). In particular it must CRASH with
    ``TypeError: unhashable type`` when a column holds numpy arrays, exactly
    as the driver does — round 1 shipped three queries that passed a more
    tolerant local sort and then failed the gate (VERDICT.md item 2). Do not
    re-add pre-sort cell normalization here; queries must not emit
    array/map/struct columns in their final projection.
    """
    df = df.reindex(sorted(df.columns), axis=1).copy()
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="stable")
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_canon_cell)
    return df.reset_index(drop=True)


def compare_frames(spark_pd: pd.DataFrame, oracle_pd: pd.DataFrame, name: str = "") -> None:
    """Assert two result frames are equal after canonicalization."""
    a, b = canonicalize(spark_pd), canonicalize(oracle_pd)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch spark={list(a.columns)} oracle={list(b.columns)}"
    )
    # The driver's value-hash distinguishes int from float cells (8 vs 8.0)
    # but not integer widths (int32 vs int64 both render "8") — verified
    # empirically in round 2: every int-width diff passed, the two
    # int-vs-float diffs (Spark floor()->bigint vs DuckDB floor()->double;
    # DuckDB SUM(BIGINT)->hugeint->float64) were the only hash failures.
    # Mirror exactly that sensitivity here.
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        norm = lambda k: "i" if k in "iu" else k  # noqa: E731
        assert norm(ka) == norm(kb), (
            f"{name}: col {c} dtype-kind mismatch spark={a[c].dtype} "
            f"oracle={b[c].dtype} — int-vs-float cells hash differently in "
            f"the driver; cast the oracle (or Spark) side so kinds agree"
        )
    assert len(a) == len(b), f"{name}: row count spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if np.isnan(x) and np.isnan(y):
                    continue
                assert x == y, f"{name}: col {c} row {i}: spark={x!r} oracle={y!r}"
            else:
                assert _canon_cell(x) == _canon_cell(y), (
                    f"{name}: col {c} row {i}: spark={x!r} oracle={y!r}"
                )


def assert_query_matches(spark, oracle_con, q, sf_dir: str) -> None:
    """Run one registry Query on both engines and compare."""
    spark_pd = q.build(spark, sf_dir).toPandas()
    oracle_pd = oracle_con.execute(q.oracle).fetchdf()
    compare_frames(spark_pd, oracle_pd, name=q.name)


@contextmanager
def session_conf(spark, **conf: str):
    """Set runtime SQL settings for the block, then restore each one
    (or unset it when it was unset), so a test can run the engine
    under another posture without leaking it into the next test."""
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
