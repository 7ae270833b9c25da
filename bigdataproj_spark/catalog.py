"""Table catalog: loading the driver fixtures (TESTDATA.md).

At cluster scale these would be external catalog tables (partitioned
parquet / Iceberg); here they are plain parquet directories. Reads go
through ``spark.read.parquet`` so Catalyst gets predicate pushdown and
column pruning for free (SURVEY.md §4).
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from .schemas import FIXTURE_SCHEMAS
from .session import relation_bytes, split_bytes

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scratch_tag(sf_dir: str) -> str:
    """Collision-proof scratch tag for a fixture dir: basename plus a
    hash of the FULL path. Two fixture dirs sharing a basename (e.g.
    testdata/sf0.1 vs a regenerated .benchdata/sf0.1) must never share
    scratch paths or derived table names — with basename-only tags the
    second dir's artifacts silently serve the first dir's queries.
    Used by the export/sink scratch dirs and the bucketed layout."""
    base = (
        re.sub(r"[^A-Za-z0-9_.-]", "_", os.path.basename(os.path.normpath(sf_dir)))
        or "sf"
    )
    return base + "_" + hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]


_PID_SCRATCH_REGISTERED: set[str] = set()
_PID_SCRATCH_LOCK = __import__("threading").Lock()


def pid_scratch(root: str) -> str:
    """Per-process scratch subtree under ``root``, removed at
    interpreter exit. Two processes (pytest + the round driver)
    sharing a stable path would overwrite each other's files between
    one query's eager build-time write and its lazy read; without the
    atexit cleanup every process run would leak a pid tree under
    /tmp. Registration is keyed on a process-local set (NOT directory
    existence): a recycled pid can find a stale dir left by a killed
    process — that dir is wiped and cleanup still registers. The
    check-wipe-register sequence is locked (round 12): the parallel
    refresh legs call this from worker THREADS, and two first-touch
    callers racing past the membership check would let one wipe a
    tree the other just started writing (unreachable today — staging
    registers the root before any pool runs — but the invariant
    should not rest on call order)."""
    import atexit
    import shutil

    d = os.path.join(root, f"pid{os.getpid()}")
    with _PID_SCRATCH_LOCK:
        if d not in _PID_SCRATCH_REGISTERED:
            _PID_SCRATCH_REGISTERED.add(d)
            shutil.rmtree(d, ignore_errors=True)  # stale tree from a recycled pid
            atexit.register(shutil.rmtree, d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _ensure_session_conf(spark: SparkSession) -> None:
    """Make an externally-created SparkSession safe for the engine.

    The driver calls ``entry(spark)``/``queries()`` with its own session,
    which may lack the engine's build-time configs; both of these are
    runtime-settable SQLConfs. Applied once per session (each conf.set
    is a Py4J round trip; table() runs on every query build).
    """
    from .sources.state import session_state

    sess = session_state(spark)
    if sess.conf_done:
        return
    sess.conf_done = True
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # See session.py: past 32 partition dirs Spark launches a
    # distributed LISTING JOB per open — ~180 ms of scheduling to list
    # 83 local month dirs (round 12). Driver-side listing wins far
    # beyond this container's layouts.
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
        os.environ.get("SPARK_GRAFT_PARALLEL_DISCOVERY", "10000"),
    )
    # An untuned session shuffles tiny test tables into 200 partitions;
    # only lower it if the caller left the stock default.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from a scale-factor directory.

    Loaded DataFrames are memoized per session (they are immutable
    plan handles, so reuse is safe): re-building the read + the
    nanos-conversion projection costs dozens of Py4J round trips per
    table, which dominates sub-second queries' wall clock. The memo
    lives on the session object and dies with it.

    A table no bigger than one split is read as one partition
    (``session.one_split``). The memo keeps the read's size and both
    plans, and compares the size with the threshold on every call, so
    a session that lowers ``spark.sql.files.openCostInBytes`` gets the
    split read back from the memo.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_conf(spark)
    from .sources.state import session_state

    cache = session_state(spark).tables
    hit = cache.get((sf_dir, name))
    if hit is None:
        out = _read_fixture(spark, sf_dir, name)
        hit = cache[(sf_dir, name)] = (out, relation_bytes(out), out.coalesce(1))
    out, size, single = hit
    return single if size <= split_bytes(spark) else out


def _read_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # TIMESTAMP(NANOS) parquet columns arrive as INT64 nanos (see
    # session.py nanosAsLong); truncate to µs timestamps, matching
    # DuckDB's ns→µs read behavior. Integer `div` — nanos exceed the
    # 2^53 double range, so a float path would corrupt values.
    expected = FIXTURE_SCHEMAS[name]
    cols = []
    for f_read in df.schema.fields:
        want = expected[f_read.name].dataType if f_read.name in expected.fieldNames() else None
        if isinstance(want, TimestampType) and isinstance(f_read.dataType, LongType):
            cols.append(
                F.timestamp_micros(F.expr(f"{f_read.name} div 1000")).alias(f_read.name)
            )
        elif isinstance(want, TimestampType) and isinstance(
            f_read.dataType, TimestampNTZType
        ):
            # Parquet written without timezone annotation (e.g. by DuckDB)
            # reads back as TIMESTAMP_NTZ; normalize to the engine's UTC
            # session timestamps (same wall clock — the session zone is
            # pinned to UTC by _ensure_session_conf).
            cols.append(F.col(f_read.name).cast("timestamp").alias(f_read.name))
        else:
            cols.append(F.col(f_read.name))
    return df.select(*cols)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def bump_mutation_epoch(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    """Advance the per-(corpus, table) mutation epoch. Every write
    path that changes what a fact table's CURRENT relation returns —
    ingest (refresh_warehouse), delete, TTL expiry — bumps it; the
    engine's verbatim-path view maintenance re-registers a fact view
    only when its epoch moved, so the steady state pays zero catalog
    traffic per statement (round-9 review finding). Rolled back with
    the rest of the serving state by WarehouseTxn."""
    from .sources.state import warehouse

    ep = warehouse(spark, sf_dir).mutation_epoch
    for t in tables:
        ep[t] = ep.get(t, 0) + 1
