"""S16 v3 (engine extension): USER-DECLARED projections over the
CORPUS fact tables — ``documents`` and ``events`` join the
materialized-view surface.

Round 7's S16 let a warehouse team declare aggregate views over the
lineitem star; the corpus tables had only the two built-in cubes
(sources/corpus_cubes.py). This module closes the asymmetry (round-7
VERDICT, "What's missing" item 4): :func:`deploy_corpus_projection`
materializes a user-declared cube over one corpus table — group keys
from the fact's columns, the S17 dimension attributes (the build runs
the declared registry join once, at deploy), and optionally ONE
hour-grain time key over the fact's timestamp — storing the SAME
partial-state contract as the built-ins (exact BIGINT sums for
integer measures, int64 fixed-point for money measures, per-measure
non-null counts, min/max zone partials, COUNT(*) partials), so routed
answers are bit-identical by construction.

The deployed view is a plain :class:`~..plans.corpus_routing.CorpusProjection`
in a session catalog that :func:`~..plans.corpus_routing.route_corpus`
consults after the built-ins — from that moment every matching
:class:`TableAggQuery` AND every matching SQL statement through the
front door (or a ``CREATE MATERIALIZED VIEW`` through plans/ddl.py)
is answered from it. :func:`refresh_corpus_projection` delta-merges
ingest batches (commutative-monoid merge, rebuild-equal), and
``refresh_warehouse`` refreshes every deployed corpus view alongside
the built-ins — AFTER the dim refreshes, so a batch introducing a new
source lands in the registry before the view's delta joins through it
(the same dimension-first ordering the lineitem side encodes).

At 100 TB: the deploy is one pass over the maintained corpus relation
plus broadcast registry joins; the stored cube is
|key-combination|-bounded (hour keys add |hours|, independent of
corpus size); the refresh is O(|delta| + |cube|). Cardinality is the
deployer's responsibility, exactly as in S16.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.corpus_routing import (
    CORPUS_DIMS,
    CORPUS_TABLES,
    CorpusProjection,
    CorpusTable,
    _StoredM,
    current_corpus_table,
)
from .bucketed import _layout_paths
from .corpus_cubes import merge_partial_frames
from .state import warehouse


@dataclass
class _CorpusUserProjection:
    """Catalog entry: the router-facing CorpusProjection plus refresh
    metadata (the declaration, the dims the build joins, and the
    current stored path, swung atomically on refresh).

    ``maintained_by`` (round 12): ``"refresh"`` entries are kept
    current SYNCHRONOUSLY by the mutation paths (refresh_warehouse
    delta-merges ingests, the S19 delete/expiry paths rebuild
    affected groups) and are therefore always servable; ``"cdc"``
    entries are maintained ASYNCHRONOUSLY by a change-feed consumer
    (streaming/cdc.py CdcProjectionConsumer) — the mutation hooks
    must SKIP them (the next poll applies the same commits; a hook
    rebuild would make the poll double-apply), and the router serves
    them only while FRESH (no unconsumed commit touches their
    table)."""

    name: str
    table: str
    keys: tuple[str, ...]  # plain stored keys (fact cols + dim attrs)
    measures: tuple[str, ...]
    time_key: tuple[str, str] | None  # (stored alias, ts source col)
    dims: tuple[str, ...]  # registry dims the build joins
    path: str
    base_path: str
    projection: CorpusProjection
    maintained_by: str = "refresh"


def _catalog(spark: SparkSession, sf_dir: str) -> dict[str, _CorpusUserProjection]:
    return warehouse(spark, sf_dir).corpus_user_projections


def corpus_user_projections(
    spark: SparkSession, sf_dir: str
) -> list[CorpusProjection]:
    """The session's deployed corpus user projections, in deployment
    order — consulted by route_corpus after the built-in cubes.

    CDC-maintained entries are offered only while FRESH: a commit
    their consumer has not yet polled past that touches their table
    makes the stored cube stale, and routing must never change an
    answer — the router falls to the built-ins/raw until the next
    poll catches up (streaming/cdc.py). Refresh-maintained entries
    are synchronously current by construction and always offered."""
    out = []
    for u in _catalog(spark, sf_dir).values():
        if u.maintained_by == "cdc":
            from ..streaming.cdc import cdc_view_fresh

            if not cdc_view_fresh(spark, sf_dir, u.table, u.path):
                continue
        out.append(u.projection)
    return out


def _partial_aggs(t: CorpusTable, measures: tuple[str, ...]) -> list:
    aggs = []
    for m in measures:
        cm = t.measures[m]
        v = cm.raw_int()
        aggs.append(F.sum(v).alias(f"{m}_i"))
        aggs.append(F.count(cm.source_col).alias(f"cnt_{m}"))
        aggs.append(F.min(v).alias(f"min_{m}_i"))
        aggs.append(F.max(v).alias(f"max_{m}_i"))
    aggs.append(F.count(F.lit(1)).alias("cnt"))
    return aggs


def _merge_cols(measures: tuple[str, ...]):
    add = tuple(f"{m}_i" for m in measures) + tuple(
        f"cnt_{m}" for m in measures
    ) + ("cnt",)
    mins = tuple(f"min_{m}_i" for m in measures)
    maxs = tuple(f"max_{m}_i" for m in measures)
    return add, mins, maxs


def _build_cube(
    spark: SparkSession,
    sf_dir: str,
    fact: DataFrame,
    t: CorpusTable,
    keys: tuple[str, ...],
    measures: tuple[str, ...],
    time_key: tuple[str, str] | None,
    dims: tuple[str, ...],
    group_filter: DataFrame | None = None,
) -> DataFrame:
    """Deploy/refresh cube build: fact ⋈ declared registry dims
    (broadcast — registry-sized at any corpus scale), hour-grain time
    key materialized, one grouped partial aggregation.

    ``group_filter`` (a DataFrame of group-key tuples) semi-filters the
    ROWS — after the key columns exist, BEFORE the groupBy — so an
    affected-group recompute (sources/retention.py) aggregates only the
    surviving rows of the touched groups, never the corpus. The filter
    set is delete-sized, so the semi broadcasts."""
    df = fact
    for name in dims:
        d = CORPUS_DIMS[name]
        dim = d.open(spark, sf_dir)
        df = df.join(F.broadcast(dim), F.col(d.fact_key) == dim[d.dim_key])
    group_cols = list(keys)
    if time_key is not None:
        alias, src = time_key
        df = df.withColumn(alias, F.date_trunc("hour", F.col(src)))
        group_cols.append(alias)
    if group_filter is not None:
        df = df.join(F.broadcast(group_filter), group_cols, "semi")
    return df.groupBy(*group_cols).agg(*_partial_aggs(t, measures))


def deploy_corpus_projection(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    table_name: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] | None = None,
    time_key: tuple[str, str] | None = None,
) -> CorpusProjection:
    """Materialize a user-declared aggregate projection over one
    corpus table and register it with the corpus router. ``keys`` may
    mix the fact's own columns and S17 dimension attributes (each dim
    attribute pulls its registry join into the BUILD; the stored cube
    then answers statements declaring that dim and grouping by the
    attribute). ``time_key=(alias, ts_col)`` stores an hour-grain time
    key — hour is the finest scale-invariant grain, and every coarser
    grain and hour-boundary range predicate folds onto it exactly
    (plans/corpus_routing.py's grain-boundary rules apply verbatim).
    Re-deploying a name replaces it. Returns the router-facing
    CorpusProjection."""
    t = CORPUS_TABLES.get(table_name)
    if t is None:
        raise ValueError(f"unknown corpus table {table_name!r}")
    dims_needed: list[str] = []
    for k in keys:
        if k in t.columns:
            continue
        home = next(
            (
                dn
                for dn, d in CORPUS_DIMS.items()
                if k in d.attrs and table_name in d.fact_tables
            ),
            None,
        )
        if home is None:
            raise ValueError(
                f"unknown projection key {k!r} on table {table_name!r}"
            )
        if home not in dims_needed:
            dims_needed.append(home)
    measures = tuple(measures) if measures is not None else tuple(t.measures)
    for m in measures:
        if m not in t.measures:
            raise ValueError(
                f"unknown measure {m!r} on {table_name!r} "
                f"(deployable: {sorted(t.measures)})"
            )
    if time_key is not None:
        alias, src = time_key
        if src not in t.ts_cols:
            raise ValueError(
                f"time key source {src!r} is not a timestamp column of "
                f"{table_name!r}"
            )
        if alias in keys:
            raise ValueError(f"time key alias {alias!r} collides with a key")
    if not keys and time_key is None:
        raise ValueError("a projection needs at least one group key")

    tag, wh = _layout_paths(sf_dir)
    fact = current_corpus_table(spark, sf_dir, table_name)
    cube = _build_cube(
        spark, sf_dir, fact, t, tuple(keys), measures, time_key,
        tuple(dims_needed),
    )
    path = os.path.join(wh, f"user_cproj_{name}_{tag}")
    cube.write.mode("overwrite").parquet(path)
    from .snapshots import evict_versioned_scan

    evict_versioned_scan(spark, path)  # redeploy overwrites the base path

    def _open(s: SparkSession, d: str) -> DataFrame:
        from .snapshots import versioned_parquet

        # the installed state's current version (an immutable path)
        return versioned_parquet(s, _catalog(s, d)[name].path)

    proj = CorpusProjection(
        name=f"user:{name}",
        table=table_name,
        attrs=frozenset(keys),
        measures={
            m: _StoredM(f"{m}_i", f"cnt_{m}", f"min_{m}_i", f"max_{m}_i")
            for m in measures
        },
        count_star_col="cnt",
        open=_open,
        time_key=time_key,
    )
    _catalog(spark, sf_dir)[name] = _CorpusUserProjection(
        name, table_name, tuple(keys), measures, time_key,
        tuple(dims_needed), path, path, proj,
    )
    return proj


def drop_corpus_projection(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """Deregister a corpus user projection (files await scheduled GC,
    same posture as S16 drop). Returns False when not deployed."""
    return _catalog(spark, sf_dir).pop(name, None) is not None


def list_corpus_projections(spark: SparkSession, sf_dir: str) -> list[dict]:
    return [
        {
            "name": u.name,
            "table": u.table,
            "keys": u.keys,
            "measures": u.measures,
            "time_key": u.time_key,
            "dims": u.dims,
            "path": u.path,
        }
        for u in _catalog(spark, sf_dir).values()
    ]


def refresh_corpus_projection(
    spark: SparkSession, sf_dir: str, name: str, delta: DataFrame
) -> str:
    """Delta-merge one ingested batch into a deployed corpus view.
    Dim attributes resolve through the CURRENT registry (the caller —
    refresh_warehouse — refreshes dims first, so a batch introducing a
    new source joins through a complete registry). Additive monoid
    merge == rebuild; publishes a new VERSION the catalog swings to
    atomically."""
    cat = _catalog(spark, sf_dir)
    if name not in cat:
        raise KeyError(f"no deployed corpus projection {name!r}")
    u = cat[name]
    t = CORPUS_TABLES[u.table]
    delta_cube = _build_cube(
        spark, sf_dir, delta, t, u.keys, u.measures, u.time_key, u.dims
    )
    group_cols = list(u.keys) + ([u.time_key[0]] if u.time_key else [])
    add, mins, maxs = _merge_cols(u.measures)
    merged = merge_partial_frames(
        spark.read.parquet(u.path), delta_cube, tuple(group_cols),
        add, mins, maxs,
    )
    new_path = warehouse(spark, sf_dir).publish(u.base_path)
    merged.write.mode("overwrite").parquet(new_path)
    u.path = new_path
    return new_path


def refresh_corpus_projections_for(
    spark: SparkSession, sf_dir: str, table_name: str, delta: DataFrame
) -> dict[str, str]:
    """Refresh every deployed corpus view over ``table_name`` — the
    hook refresh_warehouse calls after the built-in corpus cubes."""
    return {
        name: refresh_corpus_projection(spark, sf_dir, name, delta)
        for name, u in list(_catalog(spark, sf_dir).items())
        # CDC-maintained views are fed by their consumer's poll, which
        # will read this very commit from the feed — a hook refresh
        # here would make that poll double-apply the delta
        if u.table == table_name and u.maintained_by != "cdc"
    }
