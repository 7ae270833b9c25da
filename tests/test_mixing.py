"""Mixing-operator tests (operators/mixing.py): budget/order
invariants a differential hash can't express, plus the plan-shape
claims the docstrings make (one shuffle each, no joins).

Differential correctness itself is covered by tests/test_oracle.py,
which iterates every registry query including r08/r09.
"""

from __future__ import annotations

from bigdataproj_spark.operators.mixing import (
    _MIX_BASE_BUDGET,
    _N_SHARDS,
    r37_domain_mixing,
    r40_training_order,
)
from bigdataproj_spark.plans import physical_plan as plan_of
from bigdataproj_spark.testing import session_conf

_RULE_OFF = {"spark.sql.files.openCostInBytes": "1"}  # one-split rule off


def test_mixing_budget_semantics(spark, sf_dir):
    """Per domain: every take is within budget except possibly the
    last (the crossing document), the take stops only once the budget
    is crossed OR the domain ran out of tokens, and take ranks are
    contiguous from 1."""
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.operators.text import tokens

    pdf = r37_domain_mixing(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    totals = (
        table(spark, sf_dir, "documents")
        .select("source", F.size(tokens("text")).alias("n"))
        .filter(F.col("n") > 0)
        .groupBy("source")
        .agg(F.sum("n").alias("tot"))
        .toPandas()
        .set_index("source")["tot"]
    )
    for src, g in pdf.groupby("source"):
        g = g.sort_values("take_rank")
        budget = int(g["weight"].iloc[0]) * _MIX_BASE_BUDGET
        # ranks contiguous from 1
        assert list(g["take_rank"]) == list(range(1, len(g) + 1))
        # cum_tokens is the running sum of n_tokens in take order
        assert (g["cum_tokens"] == g["n_tokens"].cumsum()).all()
        # every doc but the last STARTS inside the budget
        starts = g["cum_tokens"] - g["n_tokens"]
        assert (starts < budget).all()
        # the take stops only once the budget is crossed, unless the
        # whole domain has fewer tokens than its budget (took it all)
        took_all = int(g["cum_tokens"].iloc[-1]) == int(totals[src])
        assert g["cum_tokens"].iloc[-1] >= budget or took_all


def test_mixing_weights_shift_take_sizes(spark, sf_dir):
    """Higher-weight domains must take at least as many tokens as the
    lowest-weight domain (budgets scale linearly with weight)."""
    pdf = r37_domain_mixing(spark, sf_dir).toPandas()
    per = pdf.groupby("source").agg(
        weight=("weight", "first"), tok=("cum_tokens", "max")
    )
    lo = per[per.weight == per.weight.min()]["tok"].max()
    hi = per[per.weight == per.weight.max()]["tok"].min()
    assert hi > lo


def test_training_order_is_a_permutation(spark, sf_dir):
    """Every document appears exactly once; positions are contiguous
    per shard; shard ids are in [0, N)."""
    pdf = r40_training_order(spark, sf_dir).toPandas()
    assert pdf["doc_id"].is_unique
    assert pdf["shard"].between(0, _N_SHARDS - 1).all()
    for _, g in pdf.groupby("shard"):
        assert sorted(g["pos"]) == list(range(1, len(g) + 1))


def test_training_order_salt_stability(spark, sf_dir):
    """The assignment is a pure function of doc_id — rerunning yields
    the identical frame (no RNG, no partition dependence)."""
    a = r40_training_order(spark, sf_dir).toPandas()
    b = (
        r40_training_order(spark, sf_dir)
        .repartition(13)
        .orderBy("shard", "pos")
        .toPandas()
    )
    assert a.equals(b)


def test_mixing_plan_has_no_join(spark, sf_dir):
    """r08 is scan -> window -> filter: no join operator anywhere, and
    exactly one exchange (the window's hash partition on source). The
    fixture is below one split, so by default the scan is one
    partition and the window needs no exchange (session.one_split);
    the split form is asserted with the rule off."""
    with session_conf(spark, **_RULE_OFF):
        p = plan_of(r37_domain_mixing(spark, sf_dir))
        assert "Join" not in p
        # one data exchange for the window + the final presentation sort's
        # range exchange; nothing else
        assert p.count("Exchange hashpartitioning") == 1
    p = plan_of(r37_domain_mixing(spark, sf_dir))
    assert "Join" not in p
    assert "Exchange" not in p


def test_training_order_plan_is_one_hash_shuffle(spark, sf_dir):
    """r09 must not contain a single-partition window (the global
    ROW_NUMBER anti-pattern) — the window partitions on the shard
    hash. Below one split (the default at fixture scale) the scan is
    already one partition and the window partitions it without an
    exchange."""
    with session_conf(spark, **_RULE_OFF):
        p = plan_of(r40_training_order(spark, sf_dir))
        assert "Join" not in p
        assert p.count("Exchange hashpartitioning") == 1
        assert "Exchange SinglePartition" not in p
    p = plan_of(r40_training_order(spark, sf_dir))
    assert "Join" not in p
    assert "Exchange" not in p
    assert "Window" in p and "[_w0" in p.split("Window", 1)[1], p


def test_dsir_resample_prefers_target_like_docs(spark, sf_dir):
    """DSIR sanity: the resampled top-k should be enriched in the
    target language relative to the raw corpus (that is the entire
    point of importance resampling), and log_ratio must be finite."""
    from bigdataproj_spark.operators.mixing import r53_dsir_resample

    top = r53_dsir_resample(spark, sf_dir).toPandas()
    assert len(top) == 100
    assert top["rank"].tolist() == list(range(1, 101))
    assert top["log_ratio"].notna().all()
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .toPandas()["lang"]
        .eq("en")
        .mean()
    )
    assert (top["lang"] == "en").mean() > base


def test_dsir_resample_stable_under_repartition(spark, sf_dir):
    """The sample is a pure function of corpus statistics + salts:
    no RNG, no partition dependence."""
    from bigdataproj_spark.operators.mixing import r53_dsir_resample

    a = r53_dsir_resample(spark, sf_dir).toPandas()
    b = r53_dsir_resample(spark, sf_dir).toPandas()
    assert a.equals(b)
