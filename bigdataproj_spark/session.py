"""SparkSession factory tuned for the engine.

100 TB posture (SURVEY.md §4): rely on Catalyst + AQE, configure rather
than hand-schedule.

- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast-join conversion.
- UTC session timezone: determinism contract (SURVEY.md §2.4 rule 3).
- Arrow enabled: the only JVM<->Python data boundary is vectorized.
- ``spark.sql.shuffle.partitions`` is a *starting* width; AQE coalesces
  down after each exchange. On a real cluster this would be set to
  2-3x total cores and AQE handles the rest.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def _default_shuffle_partitions(master: str) -> str:
    """Initial shuffle width is a data-volume knob, not a core-count
    knob: AQE coalesces small exchanges down after the fact, but sorts
    and windows launch the INITIAL width in tasks, so an oversized
    default just buys task-launch latency. Local benches shuffle
    megabytes — cores/2 measured fastest at both sf0.1 and the tiled
    sf1 (24%/16% off total bench wall vs width 32 on local[32]); a
    cluster deployment sets 2-3x total cores via SPARK_SHUFFLE_PARTITIONS
    or spark-defaults, per the §4 posture.

    Measured round 6 (docs/BENCHMARKS.md "NOT a shuffle-width
    problem"): there is no width-VS-SCALE rule worth encoding — at sf5
    and sf10 the shuffle-heavy queries spill ZERO bytes at widths
    16-64 and move only ±15% (width = task-overlap, not memory), while
    the scan-bound ratios are unaffected. Scale problems are answered
    by layout + routing (sources/bucketed.py, plans/routing.py), not
    by this knob."""
    if master.startswith("local"):
        cpus = os.cpu_count() or 8
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        if inner.isdigit():
            cpus = int(inner)
        return str(max(8, cpus // 2))
    return "200"  # Spark's own cluster default; deployments override


def run_parallel(*thunks) -> list:
    """Run independent Spark actions from a small thread pool (guide
    §2.6: a later job's tasks back-fill executors freed by an earlier
    job's tail; locally the fixed per-job latencies overlap). THE
    engine-wide discipline for maintenance-side parallelism (round 13,
    factored out of the round-12 refresh pool):

    - callers only submit thunks whose reads are SETTLED state and
      whose writes are disjoint outputs/memo keys;
    - every thunk is AWAITED before any exception re-raises, so a
      surrounding WarehouseTxn rollback can never race a still-running
      writer's files;
    - each leg starts with the caller's job group, description and
      tags (``inheritable_thread_target``), so ``cancelJobGroup`` and
      per-statement job accounting see the legs' jobs; a leg may
      relabel its own jobs, since each leg gets its own copy of the
      caller's local properties (a lone thunk runs inline on the
      caller's thread, so callers that label legs reset the label
      afterwards);
    - a failure re-raises the FIRST failed leg's exception, type
      unchanged, with notes naming that leg and every sibling leg
      that failed too.

    Returns the thunks' results in order.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.errors import PySparkRuntimeError
    from pyspark.util import inheritable_thread_target

    if len(thunks) <= 1:
        return [t() for t in thunks]
    try:
        # the default session when this thread has no active one: a
        # leg's own thread (a nested run_parallel) has none
        session = SparkSession.active()
    except PySparkRuntimeError:  # no session at all: nothing to inherit
        session = None
    if session is not None:
        # one wrap per leg: a wrap clones the caller's properties once,
        # and legs sharing a clone would see each other's relabels
        thunks = tuple(inheritable_thread_target(session)(t) for t in thunks)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        # .exception() BLOCKS until the thunk finishes — all of them
        # settle before any raise below
        errs = [f.exception() for f in futures]
    failed = [(i, e) for i, e in enumerate(errs) if e is not None]
    if failed:
        i, first = failed[0]
        first.add_note(f"run_parallel: leg {i} of {len(thunks)} failed")
        for j, e in failed[1:]:
            first.add_note(
                f"run_parallel: leg {j} also failed: {type(e).__name__}: {e}"
            )
        raise first
    return [f.result() for f in futures]


def relation_bytes(df: DataFrame) -> int:
    """Spark's own estimate of what ``df`` reads and returns, for the
    one-split rule: the analyzed plan's ``sizeInBytes`` (the listed
    file bytes for a scan, the figure broadcast decisions use), taken
    at the root AND summed over the leaves, whichever is larger. A
    projection scales the root estimate down by the ratio of row
    widths, but ``coalesce(1)`` also collapses the scan under it into
    one task, so a narrow select over a large file must not fit. A
    plan Spark cannot size (an RDD, a Python data source) reports
    Long.MaxValue."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    read = sum(leaves.apply(i).stats().sizeInBytes() for i in range(leaves.size()))
    return max(plan.stats().sizeInBytes(), read)


def split_bytes(spark: SparkSession) -> int:
    """The one-split threshold: ``spark.sql.files.openCostInBytes``
    (4 MB by default), below which Spark never cuts a file split.
    Read per call, so a session that lowers it (to 1 byte, turning
    the rule off) is obeyed by memoized reads too."""
    return spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()


def fits_one_split(df: DataFrame) -> bool:
    """True when ``df`` and everything it reads are no bigger than
    Spark's minimum file split (:func:`relation_bytes` at most
    :func:`split_bytes`)."""
    return relation_bytes(df) <= split_bytes(df.sparkSession)


def one_split(df: DataFrame) -> DataFrame:
    """The engine-wide small-relation rule: a warehouse relation that
    :func:`fits_one_split` is planned as ONE partition
    (``coalesce(1)``: no shuffle, no sampling job). Aggregates, sorts
    and windows above it need no exchange, since a single partition
    satisfies every distribution, and a join whose every side is one
    partition stays in it (the session sets
    ``spark.sql.maxSinglePartitionBytes`` to Long.MaxValue, see
    :func:`_engine_conf`), so a routed read of a small cube runs one
    job of one task instead of a scan stage, a shuffle and a result
    stage over a handful of tiny files. Larger relations come back
    unchanged and keep their plans. Fixture reads
    (``catalog.table``) and the live bucketed tables
    (``snapshots.bucketed_scan``) apply it through memos that keep
    the size and compare it with the threshold per call.
    docs/DECISIONS.md records the threshold and why."""
    return df.coalesce(1) if fits_one_split(df) else df


def range_files(df: DataFrame, n_files: int, *cols: str) -> DataFrame:
    """The layout writers' clustering: range-partition ``df`` into
    ``n_files`` partitions on ``cols`` and sort each by ``cols``. Below
    one split (:func:`fits_one_split`) the whole input is one sorted
    partition instead, written as one file per partition directory:
    no range-sampling job, no shuffle, and no reader task per tiny
    file later."""
    if fits_one_split(df):
        return df.coalesce(1).sortWithinPartitions(*cols)
    return df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Durability-aware lineage cut for iterative loops (CC pointer
    doubling, PageRank, k-means Lloyd iterations).

    ``localCheckpoint`` blocks live on executors: fastest locally, but
    on a real cluster an executor loss kills the blocks and — with the
    lineage already truncated — the JOB, not just a task retry. When
    the session has a reliable checkpoint directory configured
    (``checkpoint_dir=`` in :func:`get_spark`, or
    ``SPARK_GRAFT_CHECKPOINT_DIR``, pointing at HDFS/S3 on a cluster),
    iterative operators cut lineage with ``df.checkpoint()`` instead:
    the materialized rows survive executor loss and recovery is a
    re-read, not a recompute-from-nothing. Local default stays
    ``localCheckpoint`` — same plans, no write amplification.

    The reliable branch persists before checkpointing: eager
    ``checkpoint()`` runs one job to materialize and a SECOND job to
    write the checkpoint files, which would recompute the whole
    lineage (2× every iteration) without the cache. The cache is
    dropped once the checkpoint is durable. Old checkpoint
    directories are GC'd by the context cleaner
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` is set by
    :func:`get_spark`) when the checkpointed RDD is collected —
    without it every iteration's directory would accumulate in the
    durable store for the session's lifetime.

    Use this for ITERATIVE loops. One-shot multi-consumer
    materializations (a table read twice in one query) should use
    plain ``localCheckpoint`` — durability buys nothing there (losing
    the blocks just re-runs that query) and the reliable path would
    pay a durable write per run.
    """
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:  # pragma: no cover - very old APIs
        has_dir = False
    if not has_dir:
        return df.localCheckpoint(eager=True)
    # Always eager: a lazy variant would have to either leak the
    # persist (cache held for the session) or drop it before the
    # checkpoint materializes (2x recompute) — there is no correct
    # lazy ordering, so the knob is not offered.
    df = df.persist()
    out = df.checkpoint(eager=True)
    df.unpersist()
    return out


def get_spark(
    app_name: str = "bigdataproj-spark",
    master: str | None = None,
    checkpoint_dir: str | None = None,
    **extra: str,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    ``checkpoint_dir`` (or ``$SPARK_GRAFT_CHECKPOINT_DIR``) enables
    RELIABLE checkpointing for the iterative operators — set it to a
    fault-tolerant store (HDFS/S3) on cluster deployments; see
    :func:`iter_checkpoint`.
    """
    resolved_master = master or default_master()
    conf = _engine_conf(resolved_master)
    conf.update(extra)
    builder = SparkSession.builder.appName(app_name).master(resolved_master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warn_codec_mismatch(spark, conf.get("spark.io.compression.codec"))
    ckpt = checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


def _engine_conf(resolved_master: str) -> dict[str, str]:
    """The engine's session settings for ``resolved_master``, with the
    SPARK_GRAFT_* / SPARK_* environment overrides applied."""
    _codec = os.environ.get(
        "SPARK_GRAFT_COMPRESSION",
        "off" if resolved_master.startswith("local") else "zstd",
    ).lower()
    # Scan-split sizing: the 128m default is right at every scale. The
    # fixture files are single parquet row groups, and a row group is
    # the unsplittable read unit — smaller split sizes only add empty
    # tasks (measured: q01 0.70s @128m vs 0.84s @1m at sf0.1). Narrow
    # scans that feed CPU-heavy work are rebalanced explicitly instead
    # (operators.skew.fan_out).
    conf: dict[str, str] = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": os.environ.get(
            "SPARK_SHUFFLE_PARTITIONS", _default_shuffle_partitions(resolved_master)
        ),
        "spark.sql.adaptive.enabled": "true",
        # No data locality exists in a single-JVM local master; the
        # default 3s locality wait only delays task launch there. On a
        # cluster the Spark default stands (deployments override).
        **({"spark.locality.wait": "0"} if resolved_master.startswith("local") else {}),
        # Partition discovery: Spark's default threshold (32 dirs)
        # launches a DISTRIBUTED listing job for any hive layout
        # bigger than ~3 years of months — on a local master that job
        # costs ~180 ms of pure scheduling to list 83 local
        # directories (measured round 12: dated-lineitem open 204 ms →
        # 25 ms). Driver-side listing is the right call into the tens
        # of thousands of dirs even on clusters (the job only pays off
        # against slow object-store listings at large dir counts);
        # deployments can lower it via SPARK_GRAFT_PARALLEL_DISCOVERY.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": os.environ.get(
            "SPARK_GRAFT_PARALLEL_DISCOVERY", "10000"
        ),
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Data-volume-adaptive shuffle width, the Spark-idiomatic way:
        # a HIGH pre-coalesce width that AQE merges down to the
        # advisory partition size. Measured round 6 (docs/BENCHMARKS.md
        # "spill-aware width, revisited"): q27 at sf20 is genuinely
        # spill-bound at the cores/2 default (107 s) and recovers to
        # ~83 s with initialPartitionNum=128 — adaptively, no
        # per-query tuning — while q26 stays width-flat (zero spill).
        # At the driver's sf0.1 bench scale the same setting costs
        # ~10% task-launch overhead, so the LOCAL default leaves it
        # unset; cluster deployments should set it to ~4x total cores
        # (the posture behind e.g. a 2000-partition initial width on
        # a 500-core cluster).
        **(
            {
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
                    os.environ["SPARK_GRAFT_INITIAL_PARTITIONS"]
            }
            if os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
            else {}
        ),
        # Reliable-checkpoint GC: when iter_checkpoint's checkpointed
        # RDDs are garbage-collected, their directories are removed —
        # otherwise iterative loops leak one durable dir per iteration.
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Compression posture (guide §2.3/§6, round 13): zstd for
        # shuffle/checkpoint blocks and parquet output — materially
        # smaller bytes-on-the-wire and on-disk than lz4/snappy at
        # comparable CPU on modern cores, which pays at cluster scale
        # (shuffle-heavy joins, multi-TB layout writes). Default ONLY
        # on non-local masters: the sf0.1 local bench is wall-bound on
        # write jobs inside timed regions, and two interleaved A/B
        # pairs measured zstd 3-7% slower there (5.35/5.73 s vs
        # 5.20/5.31 s, canaries clean at 0.106-0.108) — a pure tax at
        # local scale, so local masters keep Spark's own defaults
        # (lz4 shuffle / snappy parquet). SPARK_GRAFT_COMPRESSION
        # overrides either way: a codec name forces it on (e.g. a
        # local run validating cluster posture), "off" forces it off.
        **(
            {
                "spark.io.compression.codec": _codec,
                "spark.sql.parquet.compression.codec": _codec,
            }
            if _codec != "off"
            else {}
        ),
        # Dimension tables (region/nation/customer/supplier/part at test
        # scale; anything < threshold at cluster scale) broadcast.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        # A join whose every input is ONE partition (one_split) stays in
        # it. Spark re-shuffles every side once a side's estimate
        # exceeds this bound (128 MB by default), and without column
        # statistics it estimates a join as the PRODUCT of its sides:
        # a star join of KB-sized relations is "estimated" at
        # terabytes, so every join above the first shuffled. Inputs
        # are one partition because they are below one split, so no
        # size bound is kept; docs/DECISIONS.md names the case that
        # would reopen this (a large single-partition input).
        "spark.sql.maxSinglePartitionBytes": str(2**63 - 1),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # Structured Streaming micro-batch state stores are small in
        # tests; RocksDB would be the cluster choice.
        "spark.sql.streaming.stateStore.stateSchemaCheck": "false",
        # Fixture parquet stores TIMESTAMP(NANOS), which Spark's reader
        # rejects; read as INT64 nanos and convert in the catalog
        # (DuckDB truncates ns→µs the same way).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    return conf


def _warn_codec_mismatch(spark: SparkSession, want: str | None) -> None:
    """Warn when the session runs another block codec than the one
    requested. ``spark.io.compression.codec`` is fixed when the
    SparkContext starts, so ``getOrCreate`` on a running session keeps
    the old codec and a SPARK_GRAFT_COMPRESSION override would
    otherwise be a silent no-op. ``want`` None (compression "off")
    requests nothing."""
    if want is None:
        return
    got = spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4")
    if got.lower() != want.lower():
        warnings.warn(
            f"the running SparkContext uses spark.io.compression.codec="
            f"{got!r}, not the requested {want!r}: the codec is fixed at "
            "context start, so stop the session to change it",
            stacklevel=3,
        )
