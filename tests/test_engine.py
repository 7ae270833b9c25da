"""Facade tests: the Engine entry points (SURVEY.md §3.2 E1-E3) reach
the same backend and agree with each other."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from bigdataproj_spark.engine import Engine
from bigdataproj_spark.sources.state import session_state


def test_sql_and_dataframe_agree(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    n_sql = eng.sql("SELECT COUNT(*) AS n FROM lineitem").first()["n"]
    n_df = eng.table("lineitem").count()
    assert n_sql == n_df > 0


def test_registry_query_by_name(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    assert "q01_pricing_summary" in eng.query_names()
    df = eng.query("q01_pricing_summary")
    assert df.count() > 0


def test_ingest_enrich_roundtrip(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    records = [
        {
            "tweet_id": 1,
            "created_at": datetime(2013, 9, 10, 12, 0, 0),
            "text": "Happy #New Year",
            "user": {"id": 11, "name": "alice", "followers": 120},
            "geo": {"lat": 40.0, "lon": -105.3},
            "lang": "en",
        }
    ]
    out = eng.to_json_stream(eng.enrich_tweets(eng.ingest_json(records)))
    row = out.first()
    assert row["hashtags"] == ["#new"]
    assert row["geo_info"]["is_geotagged"] is True
    assert '"name":"alice"' in row["json"]


def test_orc_sink_source_roundtrip(spark, sf_dir, tmp_path):
    """S-coverage beyond parquet/JSON/CSV: ORC write → read round-trips
    schema and values exactly (Spark's other native columnar format —
    format choice is a one-line swap on the same plans)."""
    import pandas as pd

    from bigdataproj_spark.catalog import table

    src = table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    src.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.schema == src.schema
    pd.testing.assert_frame_equal(
        back.orderBy("n_nationkey").toPandas(),
        src.orderBy("n_nationkey").toPandas(),
    )


def test_generic_asof_join_two_sources(spark):
    """The generic two-source asof_join: latest right row with
    right.ts <= left.ts per key, NULLs when no earlier row exists,
    ASOF >= at equal timestamps, tiebreak on the given column."""
    from bigdataproj_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "u1", datetime(2024, 1, 1, 10, 0, 0)),
            (2, "u1", datetime(2024, 1, 1, 12, 0, 0)),
            (3, "u2", datetime(2024, 1, 1, 9, 0, 0)),
        ],
        "pid INT, uid STRING, ts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [
            (10, "u1", datetime(2024, 1, 1, 10, 0, 0), 1.0),
            (11, "u1", datetime(2024, 1, 1, 10, 0, 0), 2.0),
            (12, "u1", datetime(2024, 1, 1, 11, 0, 0), 3.0),
            (13, "u2", datetime(2024, 1, 1, 9, 30, 0), 4.0),
        ],
        "rid BIGINT, uid STRING, ts TIMESTAMP, v DOUBLE",
    )
    out = asof_join(
        left,
        right,
        on="uid",
        left_ts="ts",
        right_ts="ts",
        right_cols={"rid": "match_id", "v": "match_v"},
        tiebreak="rid",
    )
    got = {r["pid"]: (r["match_id"], r["match_v"]) for r in out.collect()}
    # pid=1: equal-timestamp rows 10/11 both eligible (>= semantics);
    # larger tiebreak rid=11 wins.  pid=2: latest earlier row is 12.
    # pid=3: u2's only right row is later -> no match.
    assert got == {1: (11, 2.0), 2: (12, 3.0), 3: (None, None)}


def test_compaction_preserves_rows_and_bounds_files(spark, sf_dir, tmp_path):
    """S9: many small files -> one compacted snapshot. Content must be
    row-for-row identical and the output file count must match the
    byte-target formula (here: everything fits one file)."""
    import os

    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.sources.sink import compact_dir

    src = str(tmp_path / "small_files")
    # 40 small files: the streaming-ingest accretion pattern.
    table(spark, sf_dir, "orders").repartition(40).write.parquet(src)
    n_small = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_small >= 30

    dst = str(tmp_path / "compacted")
    n_files = compact_dir(spark, src, dst)
    assert n_files == 1
    written = [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert len(written) == 1

    a = spark.read.parquet(src).orderBy("o_orderkey").toPandas()
    b = spark.read.parquet(dst).orderBy("o_orderkey").toPandas()
    assert a.equals(b)


def test_registry_covers_every_survey_row_tag():
    """Meta-invariant: every SURVEY.md §2 row that is verified through
    the query registry keeps at least one registered query carrying its
    tag — so a refactor cannot silently drop an operator from the
    correctness surface. Rows verified outside the registry (ST4-ST6
    golden replay tests, R11 Kafka twin, S5/S9 and config rows R14/R15)
    are intentionally absent from this list."""
    from bigdataproj_spark.registry import load_all

    required = {
        # relational core (§2.2)
        "S1", "S2", "S3", "S4", "S6", "P1", "P2", "P3", "P4",
        "J1", "J2", "J3", "J4", "J5", "J6", "J7", "J8", "J9",
        "A1", "A2", "A3", "A4", "A5", "A6", "A7", "A8", "A9",
        "W1", "W2", "W3", "W4", "O1", "O2", "O3",
        "T1", "T2", "T3", "Q1", "M1",
        # reference-declared rows with registry queries (§2.1)
        "R1", "R3", "R4", "R5", "R6", "R7", "R8", "R9", "R10", "R13",
        # scalar functions (§2.3)
        "F-S1", "F-S2", "F-S3", "F-S4", "F-D1", "F-M1",
        "F-A1", "F-A2", "F-P1", "F-J1",
        # streaming twins with oracle queries
        "ST1", "ST2", "ST3", "ST7", "ST8",
        # UDx
        "U1", "U2", "U3", "U4", "U5",
        # LLM-pipeline rows
        "L1", "L2", "L3", "L4", "L5", "L6", "L7", "L8", "L9",
        "L10", "L11", "L24",
        # engine extensions
        "S7", "S8", "G1", "E1d",
    }
    have = {t for q in load_all().values() for t in q.tags}
    missing = required - have
    assert not missing, sorted(missing)


def test_engine_explain_surface(spark, sf_dir):
    """Engine.explain returns the physical plan text with the scan
    visible — the user-facing plan-review hook."""
    from bigdataproj_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    p = eng.explain("q01_pricing_summary")
    assert "Scan parquet" in p and "HashAggregate" in p


def test_compare_frames_detects_wrong_results():
    """Meta-test of the correctness harness itself: a single flipped
    value, a dropped row, or a dtype-kind drift must each fail
    compare_frames — otherwise every green row in the suite is
    unfalsifiable."""
    import pandas as pd
    import pytest as _pytest

    from bigdataproj_spark.testing import compare_frames

    base = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]})
    compare_frames(base.copy(), base.copy(), "identical")  # sanity

    flipped = base.copy()
    flipped.loc[1, "v"] = 21
    with _pytest.raises(AssertionError):
        compare_frames(base.copy(), flipped, "value flip")

    with _pytest.raises(AssertionError):
        compare_frames(base.copy(), base.iloc[:2].copy(), "dropped row")

    drifted = base.copy()
    drifted["v"] = drifted["v"].astype(float)
    with _pytest.raises(AssertionError):
        compare_frames(base.copy(), drifted, "dtype drift")


def test_concurrent_queries_on_shared_session(spark, sf_dir):
    """A shared SparkSession must serve concurrent registry queries
    (the multi-user engine mode): six different queries submitted from
    threads all succeed and equal their serial results — pins the
    catalog memo's benign-race behavior and Spark's concurrent job
    scheduling."""
    from concurrent.futures import ThreadPoolExecutor

    from bigdataproj_spark.registry import load_all

    qs = load_all()
    names = [
        "q01_pricing_summary",
        "r138_token_counts",
        "r31_semi_join",
        "r33_rank_functions",
        "r35_union_all",
        "q31_string_functions",
    ]
    serial = {n: qs[n].build(spark, sf_dir).toPandas() for n in names}
    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = {n: pool.submit(lambda n=n: qs[n].build(spark, sf_dir).toPandas())
                for n in names}
        for n, fut in futs.items():
            assert fut.result(timeout=120).equals(serial[n]), n


def test_reliable_checkpoint_mode_matches_local(tmp_path):
    """Cluster-grade durability switch: with a checkpoint dir
    configured, the iterative loops (CC pointer doubling here) must
    cut lineage via RELIABLE df.checkpoint() — files land under the
    configured dir, which survives executor loss on a real cluster —
    and produce exactly the labels the localCheckpoint default
    produces. Runs in a subprocess: setCheckpointDir is sticky on a
    SparkContext, and the shared session must stay in local mode."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {repr(str(__import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__)))))})
        from bigdataproj_spark.session import get_spark
        from pyspark.sql import functions as F
        from bigdataproj_spark.operators.dedup import connected_components

        spark = get_spark(
            "reliable-ckpt-test", master="local[4]",
            checkpoint_dir={repr(str(tmp_path / "ckpt"))},
        )
        spark.sparkContext.setLogLevel("ERROR")
        assert spark.sparkContext.getCheckpointDir() is not None
        # Two components: {{1,2,3,4}} (a chain) and {{10,11}}.
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
        )
        got = {{
            (r.doc_id, r.cluster_id)
            for r in connected_components(edges).collect()
        }}
        assert got == {{(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}}, got
        # Proof the reliable path ran: checkpoint files exist on disk.
        ckpt_files = [
            os.path.join(r, f)
            for r, _, fs in os.walk({repr(str(tmp_path / "ckpt"))})
            for f in fs
        ]
        assert ckpt_files, "no reliable checkpoint files written"
        print("RELIABLE_OK", len(ckpt_files))
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "RELIABLE_OK" in proc.stdout, proc.stdout


def test_connected_components_leaves_no_cached_frame(spark):
    """A call must not leave a persisted frame behind: the returned
    labels are checkpointed off the final round's cache, which is then
    dropped. Local checkpoints also register as persistent RDDs; they
    are the returned plan's lineage cut (released with it), so the
    count below covers the cached frames only."""
    from bigdataproj_spark.operators.dedup import connected_components

    jsc = spark.sparkContext._jsc

    def cached() -> int:
        return sum(
            1 for r in jsc.getPersistentRDDs().values()
            if not r.rdd().isLocallyCheckpointed()
        )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    before = cached()
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    assert cached() == before


def test_run_parallel_with_no_thunks_returns_empty():
    from bigdataproj_spark.session import run_parallel

    assert run_parallel() == []


def test_run_parallel_is_bounded_by_the_pool_cap(spark, monkeypatch):
    """At most the cap's number of legs run at once, results come back
    in order, each leg's jobs carry its label, the caller's description
    is restored once, and a failure note names the leg."""
    import threading
    import time

    from bigdataproj_spark import session as sess

    monkeypatch.setattr(sess, "_pool_cap", lambda _session: 2)
    lock, running, peak = threading.Lock(), [0], [0]
    sc = spark.sparkContext

    def leg(i):
        def run():
            with lock:
                running[0] += 1
                peak[0] = max(peak[0], running[0])
            time.sleep(0.05)
            label = sc.getLocalProperty("spark.job.description")
            with lock:
                running[0] -= 1
            return i, label

        return f"leg-{i}", run

    sc.setJobDescription("caller")
    try:
        got = sess.run_parallel(*map(leg, range(5)))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert got == [(i, f"leg-{i}") for i in range(5)]
    assert peak[0] == 2

    def boom():
        raise KeyError("boom")

    with pytest.raises(KeyError) as info:
        sess.run_parallel(leg(0), leg(1), ("the failing leg", boom), leg(3), leg(4))
    assert "leg 2 of 5 failed: the failing leg" in "\n".join(info.value.__notes__)


def test_run_parallel_legs_run_in_the_callers_job_group(spark):
    """Every leg's jobs carry the caller's job group, so
    cancelJobGroup and per-statement job accounting reach them."""
    from bigdataproj_spark.session import run_parallel

    sc = spark.sparkContext
    group = "run-parallel-legs"
    sc.setJobGroup(group, "legs inherit the caller's group")
    try:
        got = run_parallel(
            ("ten", lambda: spark.range(10).count()),
            ("twenty", lambda: spark.range(20).count()),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert got == [10, 20]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_run_parallel_failure_names_its_leg_and_keeps_siblings():
    """The first failed leg's exception re-raises with its type
    unchanged, noted with its leg index, and a sibling leg's failure
    is reported on it too."""
    from bigdataproj_spark.session import run_parallel

    def fine():
        return 1

    def first():
        raise KeyError("first leg")

    def second():
        raise ValueError("second leg")

    with pytest.raises(KeyError) as info:
        run_parallel(("fine", fine), ("first", first), ("second", second))
    notes = "\n".join(info.value.__notes__)
    assert "leg 1 of 3 failed: first" in notes, notes
    assert "leg 2 also failed (second): ValueError: second leg" in notes, notes


def test_compression_override_picks_the_codec(monkeypatch):
    """SPARK_GRAFT_COMPRESSION forces a codec on a local master and
    "off" forces Spark's defaults on a cluster master; unset, local
    masters keep Spark's defaults and cluster masters get zstd."""
    from bigdataproj_spark.session import _engine_conf

    keys = ("spark.io.compression.codec", "spark.sql.parquet.compression.codec")
    monkeypatch.setenv("SPARK_GRAFT_COMPRESSION", "ZSTD")
    conf = _engine_conf("local[4]")
    assert [conf.get(k) for k in keys] == ["zstd", "zstd"]
    monkeypatch.setenv("SPARK_GRAFT_COMPRESSION", "off")
    conf = _engine_conf("spark://head:7077")
    assert not any(k in conf for k in keys)
    monkeypatch.delenv("SPARK_GRAFT_COMPRESSION")
    assert not any(k in _engine_conf("local[4]") for k in keys)
    conf = _engine_conf("spark://head:7077")
    assert [conf.get(k) for k in keys] == ["zstd", "zstd"]


def test_codec_mismatch_on_a_running_session_warns(spark):
    """getOrCreate on a running session keeps its block codec; asking
    for another one warns instead of silently running the old one."""
    import warnings

    from bigdataproj_spark.session import _warn_codec_mismatch

    running = spark.sparkContext.getConf().get(
        "spark.io.compression.codec", "lz4"
    )
    other = "lz4" if running == "zstd" else "zstd"
    with pytest.warns(UserWarning, match="spark.io.compression.codec"):
        _warn_codec_mismatch(spark, other)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _warn_codec_mismatch(spark, running)
        _warn_codec_mismatch(spark, None)


def test_one_split_sizes_a_projection_by_the_scan_under_it(spark, sf_dir):
    """A key select shrinks Spark's root size estimate by the ratio of
    row widths, but coalesce(1) would collapse the scan under it too.
    With the threshold between the two sizes, the projected fixture
    scan (the DELETE key frame) keeps its partitions; a literal id
    list is one partition regardless."""
    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.session import fits_one_split, one_split
    from bigdataproj_spark.sources.retention import _normalize_ids
    from bigdataproj_spark.testing import session_conf

    def analyzed(df):
        return df._jdf.queryExecution().analyzed()

    docs = table(spark, sf_dir, "documents")
    keys = docs.select("doc_id")
    scan_bytes = analyzed(docs).stats().sizeInBytes()
    assert analyzed(keys).stats().sizeInBytes() <= scan_bytes // 2
    assert fits_one_split(keys)  # the default 4 MB holds the fixture
    coalesced = "Repartition 1, false"
    with session_conf(
        spark, **{"spark.sql.files.openCostInBytes": str(scan_bytes // 2)}
    ):
        assert not fits_one_split(keys)
        assert one_split(keys) is keys
        # the fixture read is split again under this threshold too
        keys = table(spark, sf_dir, "documents").select("doc_id")
        frame = _normalize_ids(spark, keys, "doc_id")
        assert coalesced not in analyzed(frame).toString()
        ids = _normalize_ids(spark, [3, 1, 3], "doc_id")
        assert coalesced in analyzed(ids).toString()
        assert ids.rdd.getNumPartitions() == 1
        assert sorted(r.doc_id for r in ids.collect()) == [1, 3]


def test_pagerank_on_empty_edge_set_returns_empty_frame(
    spark, sf_dir, tmp_path
):
    """No edges means no node to rank: an empty frame with the query's
    columns, not a ZeroDivisionError at plan build."""
    from bigdataproj_spark.catalog import TABLES, table
    from bigdataproj_spark.operators.graph import r43_graph_pagerank

    for t in TABLES:
        table(spark, sf_dir, t).limit(0).write.parquet(
            str(tmp_path / f"{t}.parquet")
        )
    out = r43_graph_pagerank(spark, str(tmp_path))
    assert out.columns == ["rank", "node", "node_type", "degree", "pagerank"]
    assert out.count() == 0


def test_asof_join_null_payload_not_torn(spark):
    """A NULL in one right-payload column must NOT be backfilled from
    an OLDER right row: the as-of match is one row, taken whole. (The
    torn-fill repro from the round-4 review: per-column
    last(ignorenulls) stitched rid=10's value onto rid=11's match.)"""
    from datetime import datetime

    from bigdataproj_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, datetime(2024, 1, 1, 12, 0))], "lid long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (10, 100, datetime(2024, 1, 1, 10, 0), 5.0),
            (11, 100, datetime(2024, 1, 1, 11, 0), None),
        ],
        "rid long, k long, ts timestamp, v double",
    )
    got = asof_join(
        left,
        right,
        on="k",
        left_ts="ts",
        right_ts="ts",
        right_cols={"rid": "match_id", "v": "match_v"},
        tiebreak="rid",
    ).collect()
    assert len(got) == 1
    assert got[0]["match_id"] == 11
    assert got[0]["match_v"] is None  # NOT 5.0 from rid=10


def test_engine_routed_aggregate_and_scan_surface(spark, sf_dir):
    """The facade's routed entry points: Engine.aggregate answers a
    logical spec from a projection (same rows as the registered routed
    query), Engine.scan picks the Z-order layout for a covered range
    scan."""
    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.plans.routing import (
        AggCall,
        AggQuery,
        Pred,
        ScanQuery,
    )

    eng = Engine(spark, sf_dir)
    spec = AggQuery(
        filters=(),
        group_by=("r_name",),
        aggs=(AggCall("sum", "revenue", "revenue"),),
    )
    got = eng.aggregate(spec).toPandas()
    assert list(got.columns) == ["r_name", "revenue"]
    assert len(got) == 5  # five regions
    rows = eng.scan(
        ScanQuery(
            columns=("l_orderkey", "l_partkey"),
            filters=(Pred("l_partkey", "between", (50, 80)),),
        )
    ).count()
    from pyspark.sql import functions as F

    from bigdataproj_spark.catalog import table
    want = table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").between(50, 80)
    ).count()
    assert rows == want


def test_engine_ingest_and_optimize_round_trip(spark, sf_dir, tmp_path):
    """The engine-level write path: Engine.ingest applies a mixed
    batch through refresh_warehouse (routed SQL then describes
    base+delta), and Engine.optimize rewrites the row-level layouts
    with the routers still serving."""
    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.engine import Engine

    docs = table(spark, sf_dir, "documents")
    base_dir = tmp_path / "base"
    for t in ("lineitem", "orders", "customer", "nation", "region",
              "supplier", "part", "embeddings", "documents", "events"):
        df = table(spark, sf_dir, t)
        if t == "documents":
            df = df.filter(F.col("doc_id") % 3 != 0)
        df.write.parquet(str(base_dir / f"{t}.parquet"))
    eng = Engine(spark, str(base_dir))

    done = eng.ingest(documents=docs.filter(F.col("doc_id") % 3 == 0))
    assert {"docs_stats_cube", "sources_dim", "clustered_documents"} <= set(done)
    # routed corpus SQL now describes base + delta = the full fixture
    got = eng.sql(
        "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang"
    ).toPandas()
    want = (
        docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang").toPandas()
    )
    assert got.equals(want)

    opt = eng.optimize()
    assert "clustered_documents" in opt
    got2 = eng.sql(
        "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang"
    ).toPandas()
    assert got2.equals(want)


def test_verbatim_path_sees_ingested_corpus_and_user_views_win(
    spark, sf_dir, tmp_path
):
    """Round-7 review findings: (a) after Engine.ingest, the VERBATIM
    spark.sql path must describe base+delta like the routed path —
    sql()'s 'routing can only change the plan, never the answer'
    invariant extends across ingest; (b) a temp view the USER
    registered under a dim's name is never clobbered by the engine's
    dim auto-registration."""
    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.engine import Engine

    docs = table(spark, sf_dir, "documents")
    base_dir = tmp_path / "base"
    for t in ("lineitem", "orders", "customer", "nation", "region",
              "supplier", "part", "embeddings", "documents", "events"):
        df = table(spark, sf_dir, t)
        if t == "documents":
            df = df.filter(F.col("doc_id") % 3 != 0)
        df.write.parquet(str(base_dir / f"{t}.parquet"))
    eng = Engine(spark, str(base_dir))
    eng.ingest(documents=docs.filter(F.col("doc_id") % 3 == 0))

    sql = "SELECT COUNT(*) AS n FROM documents"
    routed_n = eng.sql(sql).first()["n"]
    verbatim_n = eng.sql(sql, routed=False).first()["n"]
    unroutable_n = eng.sql(
        "SELECT COUNT(*) AS n FROM (SELECT doc_id,"
        " row_number() OVER (ORDER BY doc_id) AS r FROM documents)"
    ).first()["n"]
    assert routed_n == verbatim_n == unroutable_n == docs.count()

    # user-owned view named like a dim: theirs wins, even when a
    # statement mentions the name
    spark.createDataFrame([(1, "mine")], "x int, tag string") \
        .createOrReplaceTempView("sources")
    try:
        got = eng.sql("SELECT tag FROM sources", routed=False).collect()
        assert [r.tag for r in got] == ["mine"]
    finally:
        spark.catalog.dropTempView("sources")
        session_state(spark).dim_views.pop("sources", None)


def test_same_shape_user_view_takeover_is_ceded(spark, sf_dir, tmp_path):
    """Round-8 ADVICE item 3: takeover detection is PLAN identity, not
    column shape. A user temp view registered under a fact-view name
    with the EXACT fixture column set (a filtered copy — the
    column-shape test cannot see it) must win against the engine's
    post-ingest re-point: the verbatim path serves the USER's rows, and
    the engine cedes ownership permanently (a second ingest still does
    not re-assert the name)."""
    from bigdataproj_spark.catalog import table
    from bigdataproj_spark.engine import Engine

    docs = table(spark, sf_dir, "documents")
    base_dir = tmp_path / "base"
    for t in ("lineitem", "orders", "customer", "nation", "region",
              "supplier", "part", "embeddings", "documents", "events"):
        df = table(spark, sf_dir, t)
        if t == "documents":
            df = df.filter(F.col("doc_id") % 3 != 0)
        df.write.parquet(str(base_dir / f"{t}.parquet"))
    eng = Engine(spark, str(base_dir))
    eng.sql("SELECT 1 AS one")  # registers views + identity records
    eng.ingest(documents=docs.filter(F.col("doc_id") % 3 == 0))

    # user takes the name over with a SAME-SHAPE filtered copy
    user_docs = docs.filter(F.col("doc_id") % 5 == 0)
    user_docs.createOrReplaceTempView("documents")
    try:
        n_user = user_docs.count()
        got = eng.sql(
            "SELECT COUNT(*) AS n FROM documents", routed=False
        ).first()["n"]
        assert got == n_user, "engine clobbered a same-shape user view"
        # ownership ceded for good: another ingest must not re-assert
        eng.ingest(documents=docs.limit(0))
        got2 = eng.sql(
            "SELECT COUNT(*) AS n FROM documents", routed=False
        ).first()["n"]
        assert got2 == n_user
        assert "documents" not in session_state(spark).fact_views
    finally:
        spark.catalog.dropTempView("documents")
        sess = session_state(spark)
        sess.fact_views.pop("documents", None)
        sess.fact_view_ids.pop("documents", None)
        sess.views_for = None


class TestExecuteScript:
    def test_split_honors_quotes_and_comments(self):
        from bigdataproj_spark.engine import _split_script

        stmts = _split_script(
            "SELECT 'a;b' AS x; -- trailing; comment\n"
            "SELECT \"odd;name\" FROM t;\n"
            "SELECT 'it''s; fine';\n"
            ";;\n"
            "SELECT 1"
        )
        assert stmts == [
            "SELECT 'a;b' AS x",
            "-- trailing; comment\nSELECT \"odd;name\" FROM t",
            "SELECT 'it''s; fine'",
            "SELECT 1",
        ]

    def test_atomic_script_rolls_back_on_mid_script_failure(
        self, spark, sf_dir, tmp_path
    ):
        """Round 10 (r9-VERDICT item 5): execute(atomic=True) records
        the pre-script version and auto-RESTOREs on failure — the
        committed prefix is undone, the warehouse is BYTE-identical to
        the pre-script state, and history shows the pre-script commits
        plus exactly one restore commit."""
        import hashlib
        import os

        import pytest

        from bigdataproj_spark.catalog import TABLES, table as _table
        from bigdataproj_spark.engine import Engine
        from bigdataproj_spark.sources.bucketed import _layout_paths
        from bigdataproj_spark.sources.txn import _walk_files

        work = tmp_path / "w"
        work.mkdir()
        for t in TABLES:
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000041, 'pre-script', 'en', 'src1', 10)"
        )  # v1: pre-script state includes a real commit

        def wh_bytes() -> dict[str, str]:
            _tag, wh = _layout_paths(str(work))
            out = {}
            for f in sorted(_walk_files(wh)) if os.path.isdir(wh) else []:
                with open(f, "rb") as fh:
                    out[f] = hashlib.md5(fh.read()).hexdigest()
            return out

        profile = (
            "SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS c, "
            "COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang"
        )
        before_bytes = wh_bytes()
        before_rows = e.sql(profile, routed=False).collect()
        before_hist = [tuple(r) for r in e.history().collect()]
        with pytest.raises(Exception, match="syntax|PARSE|nope"):
            e.execute(
                """
                INSERT INTO documents VALUES
                  (900000042, 'doomed one', 'en', 'src1', 10);
                DELETE FROM documents WHERE doc_id < 5;
                SELECT nonsense syntax error from;
                """,
                atomic=True,
            )
        assert wh_bytes() == before_bytes
        assert e.sql(profile, routed=False).collect() == before_rows
        hist = [tuple(r) for r in e.history().collect()]
        assert hist[:-1] == before_hist
        assert hist[-1][1] == "restore to 1"
        # a failure BEFORE any commit restores nothing: history is
        # untouched (no spurious restore commit)
        with pytest.raises(Exception):
            e.execute("SELECT nonsense syntax error from;", atomic=True)
        assert [tuple(r) for r in e.history().collect()] == hist

    def test_split_honors_block_comments(self):
        from bigdataproj_spark.engine import _split_script

        stmts = _split_script(
            "SELECT 1 /* mid; block */ AS x;\n"
            "/* leading; block\n   over lines; */ SELECT 2;\n"
            "SELECT '/*' AS not_a_comment"
        )
        assert stmts == [
            "SELECT 1 /* mid; block */ AS x",
            "/* leading; block\n   over lines; */ SELECT 2",
            "SELECT '/*' AS not_a_comment",
        ]

    def test_asof_clause_in_literal_or_comment_is_data(self, spark, sf_dir):
        """The AS OF scan is quote/comment-aware (round-9 ADVICE item
        2): the clause inside a string literal or a comment is data —
        the statement must run verbatim, not pin to a (nonexistent)
        version 3."""
        from bigdataproj_spark.engine import Engine

        e = Engine(spark, sf_dir)
        got = e.sql(
            "SELECT 'FOR SYSTEM_VERSION AS OF 3' AS x"
        ).collect()[0]["x"]
        assert got == "FOR SYSTEM_VERSION AS OF 3"
        got = e.sql(
            "SELECT 1 AS one /* FOR SYSTEM_VERSION AS OF 3 */"
        ).collect()[0]["one"]
        assert got == 1
        got = e.sql(
            "SELECT 2 AS two -- FOR SYSTEM_VERSION AS OF 3"
        ).collect()[0]["two"]
        assert got == 2

    def test_cdc_script_runs_in_order(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.catalog import TABLES, table as _table
        from bigdataproj_spark.engine import Engine

        work = tmp_path / "w"
        work.mkdir()
        for t in TABLES:
            _table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
        e = Engine(spark, str(work))
        out = e.execute(
            """
            INSERT INTO orders VALUES (900000031, 1, 'O', 10.0,
              TIMESTAMP '1996-01-01 00:00:00', '1-URGENT');
            MERGE INTO orders USING (
              VALUES (CAST(900000031 AS BIGINT), '5-LOW')
            ) AS s(k, prio) ON o_orderkey = s.k
            WHEN MATCHED THEN UPDATE SET o_orderpriority = s.prio;
            DELETE FROM orders WHERE o_orderkey = 900000031;
            SELECT COUNT(*) AS n FROM orders WHERE o_orderkey = 900000031;
            """
        )
        assert out.collect()[0].n == 0
        # every DML statement committed its own version, in order
        notes = [r.note for r in e.sql("DESCRIBE HISTORY").collect()]
        assert notes == [
            "base", "ingest orders", "merge orders", "delete orders",
        ]  # round 11: MERGE commits under its own note (one outer txn)
        import pytest as _pt

        with _pt.raises(ValueError, match="empty script"):
            e.execute("  ;;  ")
