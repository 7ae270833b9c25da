"""The one-split rule end to end (session.one_split, docs/DECISIONS.md):
fixture reads and the live bucketed tables below one split are one
partition, a join whose every side is one partition stays in it, and
answers do not depend on whether the rule applies."""

from __future__ import annotations

import os
import sys

import pytest

from bigdataproj_spark.catalog import table
from bigdataproj_spark.engine import Engine
from bigdataproj_spark.plans import physical_plan as plan_of
from bigdataproj_spark.registry import load_all
from bigdataproj_spark.sources.bucketed import bucketed_fact_tables
from bigdataproj_spark.sources.snapshots import bucketed_scan
from bigdataproj_spark.testing import compare_frames, session_conf

_OFF = {"spark.sql.files.openCostInBytes": "1"}
_COALESCED = "Repartition 1, false"


def _registry() -> dict:
    return {name.split("_")[0]: q for name, q in load_all().items()}


def _jobs(spark, group: str, thunk):
    """Run ``thunk`` under a job group; return its result and the
    number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_fixture_memo_obeys_the_threshold(spark, sf_dir):
    """A memoized fixture read is one partition at the default
    threshold and Spark's file splits again once the threshold is
    lowered, without a new read: the memo keeps both plans."""
    li = table(spark, sf_dir, "lineitem")
    assert _COALESCED in _analyzed(li)
    assert table(spark, sf_dir, "lineitem") is li
    with session_conf(spark, **_OFF):
        split = table(spark, sf_dir, "lineitem")
        assert _COALESCED not in _analyzed(split)
        assert table(spark, sf_dir, "lineitem") is split
    assert table(spark, sf_dir, "lineitem") is li


def test_bucketed_scan_obeys_the_threshold(spark, sf_dir):
    """The live bucketed fact is one partition below one split and its
    32 buckets with the rule off; the size is memoized per table
    version, the threshold read per call."""
    li_name, _ = bucketed_fact_tables(spark, sf_dir)
    assert _COALESCED in _analyzed(bucketed_scan(spark, sf_dir, li_name))
    with session_conf(spark, **_OFF):
        scan = bucketed_scan(spark, sf_dir, li_name)
        assert _COALESCED not in _analyzed(scan)
        assert "Bucketed: true" in plan_of(scan.groupBy("l_orderkey").count())


def test_star_join_of_single_partitions_runs_without_exchange(spark, sf_dir):
    """q26 joins a lineitem rollup to orders and three dimensions, all
    below one split: no hash exchange in the plan, and a warm build
    plus collect runs at most 4 jobs (the three dimension broadcasts
    and the result). Under the old threshold the fact-side join is
    re-shuffled: Spark estimates the orders side as the product of
    its joins."""
    q = _registry()["q26"]
    want = q.build(spark, sf_dir).toPandas()
    df = q.build(spark, sf_dir)
    assert "Exchange hashpartitioning" not in plan_of(df)
    got, jobs = _jobs(spark, "one-split-q26", df.toPandas)
    compare_frames(got, want, "q26")
    assert jobs <= 4, jobs


def test_raw_statement_over_bucketed_spine_runs_at_most_three_jobs(
    spark, sf_dir
):
    """r163 routes raw and reads the CURRENT lineitem and orders, the
    bucketed spine once it is deployed: below one split a warm run is
    at most 3 jobs."""
    li_name, od_name = bucketed_fact_tables(spark, sf_dir)
    eng = Engine(spark, sf_dir)
    text = _registry()["r163"].oracle
    want = eng.sql(text).toPandas()
    df = eng.sql(text)
    plan = plan_of(df)
    assert li_name in plan and od_name in plan, plan
    got, jobs = _jobs(spark, "one-split-r163", df.toPandas)
    compare_frames(got, want, "r163")
    assert jobs <= 3, jobs


@pytest.fixture(scope="module")
def bench_statements():
    """The routed_sql benchmark's statement set: its routed registry
    statements (their oracle SQL text), the statements the front door
    refuses (first literal of each) and its operator queries."""
    here = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
    sys.path.insert(0, here)
    try:
        from workloads import OPERATORS, REFUSED, ROUTED
    finally:
        sys.path.remove(here)
    reg = _registry()
    sql = [(s, reg[s].oracle) for s in ROUTED] + [
        (label, tmpl.format(choices[0])) for label, tmpl, choices in REFUSED
    ]
    return sql, [reg[s] for s in OPERATORS], [reg[s] for s in ROUTED]


def test_bench_statements_answer_alike_under_three_postures(
    spark, sf_dir, oracle, bench_statements
):
    """Every routed_sql statement gives the DuckDB answer with the
    rule on (the default), with the rule off (openCostInBytes=1) and
    with broadcasts off (every join is a shuffled or single-partition
    join)."""
    sql, operators, routed = bench_statements
    for q in routed:  # deploys the layout each statement routes to
        q.build(spark, sf_dir)
    eng = Engine(spark, sf_dir)
    want = {label: oracle.execute(text).fetchdf() for label, text in sql}
    want |= {q.name: oracle.execute(q.oracle).fetchdf() for q in operators}
    for posture in ({}, _OFF, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        with session_conf(spark, **posture):
            got = {label: eng.sql(text).toPandas() for label, text in sql}
            got |= {q.name: q.build(spark, sf_dir).toPandas() for q in operators}
        for label, frame in got.items():
            compare_frames(frame, want[label], f"{label} under {posture}")
