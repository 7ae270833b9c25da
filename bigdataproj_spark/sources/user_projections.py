"""S16 (engine extension): USER-DECLARED projections — the router's
catalog becomes data.

Every projection the router serves so far (pricing cube, rollup pair,
star-date cube, the corpus cubes) is a built-in: its group keys and
stored partials were chosen by the engine's authors and registered in
code. A warehouse team's actual workflow is the other way around —
they look at THEIR query mix, declare the aggregate view it needs, and
expect the optimizer to start using it (CREATE MATERIALIZED VIEW +
automatic rewrite; same Goldstein-Larson matching the built-ins use,
see plans/routing.py). :func:`deploy_projection` is that surface:

    deploy_projection(spark, sf_dir, "prio_flag",
                      keys=("o_orderpriority", "l_returnflag"))
    deploy_projection(spark, sf_dir, "user_hour", ("user_id",),
                      table="events", time_key=("u_hour", "ts"))

materializes the cube (int64 fixed-point sums, non-null counts,
min/max partials — the SAME stored-state contract as every built-in,
so answers are bit-identical by construction), registers it in the
warehouse's one user-view catalog, which the table's router
(:func:`plans.routing.route` for the lineitem star,
:func:`plans.corpus_routing.route_corpus` for documents/events)
consults after its built-ins, and from that moment every matching
spec AND every matching SQL statement through the front door is
answered from it — the caller of those queries never learns a
projection exists. View names are unique across both families:
deploying a name replaces whatever view held it.

Two things are per family — key/measure validation and the cube
build; the lifecycle is shared: deploy / ensure (idempotent) /
refresh (delta-merge, commutative-monoid, rebuild-equal) / drop
(deregister; files await scheduled GC) / list, and
:func:`sources.maintenance.refresh_warehouse` refreshes every
refresh-maintained view alongside the built-ins of its table.

- **Lineitem star** (v2): group keys from the lineitem fact, the
  order dimension chain, and the part/supplier arms; measures from
  the five lineitem money measures plus the four arm-home money
  measures (o_totalprice, c_acctbal, p_retailprice, s_acctbal —
  computed post-join with the statement's lineitem-multiplicity
  weighting). The view records WHICH joins its build ran (chain
  depth + arm set) and answers exactly the specs declaring the same
  set — inner-join orphan-drop semantics are part of a query's
  meaning, and the router never assumes FK integrity.
- **Corpus tables** (v3): group keys from the fact's columns and the
  S17 dimension attributes (the build runs the declared registry join
  once, at deploy), and optionally ONE hour-grain time key over the
  fact's timestamp — hour is the finest scale-invariant grain, and
  every coarser grain and hour-boundary range predicate folds onto it
  (plans/corpus_routing.py's grain-boundary rules apply verbatim).

Cardinality is the deployer's responsibility exactly as in every
warehouse (a cube keyed by a near-unique column is a bad view, not a
wrong one — the stored row count is one
``spark.read.parquet(path).count()`` away).

At 100 TB: the deploy is one pass over the maintained fact (derived
fixed-point columns already materialized at rest on the star) plus
broadcast dimension arms; the stored cube is |key-combination|-bounded
(hour keys add |hours|, independent of corpus size) and the refresh is
O(|delta| + |cube|).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.corpus_routing import (
    CORPUS_DIMS,
    CORPUS_TABLES,
    CorpusTable,
    current_corpus_table,
)
from ..plans.routing import (
    DIM_ATTRS,
    LINEITEM_COLS,
    MEASURES,
    PART_ATTRS,
    SUPP_ATTRS,
    Measure,
    Projection,
    _StoredMeasure,
)
from ..catalog import table
from .bucketed import (
    _layout_paths,
    _lineitem_with_derived,
    bucketed_fact_tables,
    merge_partial_frames,
)
from .state import warehouse

# The default lineitem measures: the five the bucketed fact stores at
# rest (Measure.derived). Round-7 (v2): the arm-home measures are
# declarable too. Each computes post-join from its MEASURES entry (the
# same cents() arithmetic the row-level plans run); declaring one
# pulls in the measure's home join exactly like declaring one of that
# side's group keys.
_ALL_MEASURES = tuple(n for n, m in MEASURES.items() if m.derived)
_USER_MEASURES = tuple(MEASURES)


@dataclass
class _UserProjection:
    """Catalog entry: the declaration, the router-facing projection
    and the current stored path (swung atomically on refresh).
    ``table`` names the family. A ``"lineitem"`` view's build joins
    the order chain to depth ``chain`` and the part/supplier arms; a
    corpus view's build joins the registry ``dims`` and derives the
    optional hour-grain ``time_key`` (stored alias, ts source col).
    The other family's build fields stay None.

    ``maintained_by`` (round 12): ``"refresh"`` entries are kept
    current SYNCHRONOUSLY by the mutation hooks (:func:`_maintained`)
    and are therefore always servable; ``"cdc"`` entries are
    maintained ASYNCHRONOUSLY by a change-feed consumer
    (streaming/cdc.py CdcProjectionConsumer), and the router serves
    them only while FRESH (no unconsumed commit touches their
    table)."""

    name: str
    table: str
    keys: tuple[str, ...]
    measures: tuple[str, ...]
    projection: Projection
    path: str = ""  # current stored version (swung atomically on refresh)
    base_path: str = ""  # immutable deploy path; refresh versions derive from it
    maintained_by: str = "refresh"
    chain: int | None = None
    part: bool | None = None
    supp: bool | None = None
    dims: tuple[str, ...] | None = None
    time_key: tuple[str, str] | None = None

    @property
    def group_cols(self) -> tuple[str, ...]:
        """The stored cube's group columns: the keys, then the time key."""
        return self.keys + ((self.time_key[0],) if self.time_key else ())

    def cube(
        self,
        spark: SparkSession,
        sf_dir: str,
        rows: DataFrame,
        measures: tuple[str, ...] | None = None,
        group_filter: DataFrame | None = None,
    ) -> DataFrame:
        """This view's partial-aggregate cube over ``rows`` of its fact
        table, through its family's build: the declared measures, or
        ``measures`` (``()`` leaves just the groups and COUNT(*))."""
        measures = self.measures if measures is None else measures
        if self.table == "lineitem":
            return _build_cube(
                spark, sf_dir, rows, self.keys, measures, self.chain,
                self.part, self.supp, group_filter,
            )
        return _build_corpus_cube(
            spark, sf_dir, rows, CORPUS_TABLES[self.table], self.keys,
            measures, self.time_key, self.dims, group_filter,
        )

    def publish(self, spark: SparkSession, sf_dir: str, cube: DataFrame) -> str:
        """Write ``cube`` as this view's next version and swing the
        entry to it — the one publish discipline for refreshes and the
        S19 rebuilds."""
        new_path = warehouse(spark, sf_dir).publish(self.base_path)
        cube.write.mode("overwrite").parquet(new_path)
        self.path = new_path
        return new_path


def _catalog(spark: SparkSession, sf_dir: str) -> dict[str, _UserProjection]:
    return warehouse(spark, sf_dir).user_projections


def user_projections(
    spark: SparkSession, sf_dir: str, table: str
) -> Iterator[Projection]:
    """The router-facing projections of the views deployed over
    ``table``, in deployment order — consulted by the router's
    candidate loop after its built-ins. A generator: nothing here runs
    until every built-in has refused.

    CDC-maintained entries are offered only while FRESH: a commit
    their consumer has not yet polled past that touches their table
    makes the stored cube stale, and routing must never change an
    answer — the router falls to the built-ins/raw until the next
    poll catches up (streaming/cdc.py). The freshness check (a sidecar
    read plus a ledger scan) runs when the loop reaches the entry.
    Refresh-maintained entries are synchronously current by
    construction and always offered."""
    for u in _catalog(spark, sf_dir).values():
        if u.table != table:
            continue
        if u.maintained_by == "cdc":
            from ..streaming.cdc import cdc_view_fresh

            if not cdc_view_fresh(spark, sf_dir, u.table, u.path):
                continue
        yield u.projection


def _maintained(
    spark: SparkSession, sf_dir: str, table: str
) -> list[tuple[str, _UserProjection]]:
    """The refresh-maintained views over ``table`` — the ones the
    synchronous mutation hooks (refresh_warehouse, the S19 delete and
    expiry paths) keep current. A CDC-maintained view is fed by its
    consumer's poll, which reads the same commit from the feed; a hook
    refresh or rebuild would make that poll double-apply it."""
    return [
        (name, u)
        for name, u in _catalog(spark, sf_dir).items()
        if u.table == table and u.maintained_by != "cdc"
    ]


def _merge_cols(u: _UserProjection):
    """(additive, min, max) stored columns of ``u``'s cube, read off
    its router-facing measures — the refresh merge's column contract."""
    sm = u.projection.measures.values()
    add = tuple(s.int_col for s in sm) + tuple(
        s.cnt_col for s in sm if s.cnt_col
    ) + (u.projection.count_star_col,)
    return add, tuple(s.min_col for s in sm), tuple(s.max_col for s in sm)


def _view_projection(
    name: str, table: str, keys: tuple[str, ...], measures: Iterable[Measure],
    **family,
) -> Projection:
    """The router-facing projection of user view ``name``: its keys,
    the standard partial columns of its measures
    (:meth:`_StoredMeasure.of` — the columns :func:`_partial_aggs`
    writes), COUNT(*) in ``cnt``, the installed state's current version
    as its scan, and the family's descriptor fields."""

    def _open(s: SparkSession, d: str) -> DataFrame:
        from .snapshots import versioned_parquet

        return versioned_parquet(s, _catalog(s, d)[name].path)

    return Projection(
        name=f"user:{name}",
        table=table,
        attrs=frozenset(keys),
        measures={m.name: _StoredMeasure.of(m) for m in measures},
        count_star_col="cnt",
        open=_open,
        **family,
    )


def _int_src(m: Measure) -> str:
    """The int64 column a measure's partials aggregate FROM in the
    cube build: the bucketed fact's at-rest derived column, else a
    column :func:`_partials` materializes from the measure's
    expression (post-join for the lineitem arm measures)."""
    return m.derived or f"__{m.name}_raw_i"


def _partial_aggs(measures: Iterable[Measure]) -> list[Column]:
    """A user view's stored partials of ``measures``, named by
    :meth:`_StoredMeasure.of` (the router reads the same descriptor),
    in the order :func:`merge_partial_frames` writes them: sums,
    counts, COUNT(*), mins, maxes."""
    stored = [_StoredMeasure.of(m) for m in measures]
    return (
        [F.sum(_int_src(s.measure)).alias(s.int_col) for s in stored]
        + [
            F.count(s.measure.source_col).alias(s.cnt_col)
            for s in stored
            if s.cnt_col
        ]
        + [F.count(F.lit(1)).alias("cnt")]
        + [F.min(_int_src(s.measure)).alias(s.min_col) for s in stored]
        + [F.max(_int_src(s.measure)).alias(s.max_col) for s in stored]
    )


def _partials(
    df: DataFrame,
    group_cols: list[str],
    measures: Iterable[Measure],
    group_filter: DataFrame | None,
) -> DataFrame:
    """The tail both families' cube builds share: each measure's int64
    input materialized (unless stored at rest), the optional
    affected-group semi-filter, one grouped partial aggregation."""
    measures = list(measures)
    for m in measures:
        if m.derived is None:
            df = df.withColumn(_int_src(m), m.raw_int())
    if group_filter is not None:
        df = df.join(F.broadcast(group_filter), group_cols, "semi")
    return df.groupBy(*group_cols).agg(*_partial_aggs(measures))


# ---------------------------------------------------------------------------
# Lineitem star: declaration and cube build.
# ---------------------------------------------------------------------------


def _dim_side(
    spark: SparkSession,
    sf_dir: str,
    chain: int,
    attrs: list[str],
    orders_df: DataFrame | None = None,
) -> DataFrame:
    """The dimension side of a user projection's build/refresh: the
    MAINTAINED bucketed orders table (refresh_warehouse appends ingest
    batches to it — the raw fixture parquet is immutable, so reading
    it here would silently drop newly ingested orders' lineitems from
    every chain>=1 user projection on refresh), joined to the
    broadcast customer/nation/region base dims exactly like the denorm
    refresh does.

    Deliberately NOT tombstone-filtered (S19): the lineitem side of
    every build/refresh/delete computation is, and order deletes
    cascade, so a surviving lineitem's order is always alive — while
    the DELETE path needs this side to still resolve the DELETED
    rows' dimension attributes when computing which groups to
    rebuild (sources/retention.py delete_orders).

    ``orders_df`` overrides the orders side: the order-UPDATE
    reattribution (sources/retention.py reattribute_order_updates)
    passes the PRE-update rows of the conflicting orders so the OLD
    group attribution can still be computed after the upsert."""
    if orders_df is not None:
        dims = orders_df
    else:
        _, od_name = bucketed_fact_tables(spark, sf_dir)
        dims = spark.table(od_name)
    if chain >= 2:
        c = table(spark, sf_dir, "customer")
        dims = dims.join(F.broadcast(c), dims.o_custkey == c.c_custkey)
    if chain >= 3:
        n = table(spark, sf_dir, "nation")
        dims = dims.join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
    if chain >= 4:
        r = table(spark, sf_dir, "region")
        dims = dims.join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    return dims.select("o_orderkey", *attrs)


def _build_cube(
    spark: SparkSession,
    sf_dir: str,
    li: DataFrame,
    keys: tuple[str, ...],
    measures: tuple[str, ...],
    chain: int,
    part: bool = False,
    supp: bool = False,
    group_filter: DataFrame | None = None,
    orders_override: DataFrame | None = None,
) -> DataFrame:
    """The lineitem deploy/refresh cube build: fact ⋈ declared arms,
    arm-home measure ints materialized post-join, one grouped partial
    aggregation. Each arm carries only its group keys plus the source
    columns of its home measures.

    ``group_filter`` (a DataFrame of group-key tuples) semi-filters the
    ROWS — after the arm joins make every key column available, BEFORE
    the groupBy — so an affected-group recompute aggregates only the
    surviving rows of the touched groups (delete-sized set, broadcast
    semi), never the corpus (sources/retention.py)."""

    def _srcs(home: str) -> set[str]:
        return {
            MEASURES[m].source_col
            for m in measures
            if MEASURES[m].home == home and MEASURES[m].source_col
        }

    dim_attrs = sorted({k for k in keys if k in DIM_ATTRS} | _srcs("order"))
    part_attrs = sorted({k for k in keys if k in PART_ATTRS} | _srcs("part"))
    supp_attrs = sorted({k for k in keys if k in SUPP_ATTRS} | _srcs("supp"))
    if chain:
        # no shuffle_hash hint on the DEPLOY/refresh join: a per-task
        # hash relation cannot spill and OOMs at scale (measured on
        # the segment cube at sf20 — sources/bucketed.py); sort-merge
        # over the bucket-aligned orders side spills gracefully
        dims = _dim_side(spark, sf_dir, chain, dim_attrs, orders_override)
        li = li.join(dims, li.l_orderkey == dims.o_orderkey)
    if part:
        pa = table(spark, sf_dir, "part").select("p_partkey", *part_attrs)
        li = li.join(pa, F.col("l_partkey") == pa.p_partkey)
    if supp:
        su = table(spark, sf_dir, "supplier").select("s_suppkey", *supp_attrs)
        li = li.join(su, F.col("l_suppkey") == su.s_suppkey)
    return _partials(
        li, list(keys), (MEASURES[m] for m in measures), group_filter
    )


def _star_joins(
    keys: tuple[str, ...], measures: tuple[str, ...]
) -> tuple[int, bool, bool]:
    """(chain depth, part arm, supplier arm): the minimal join set
    reaching every declared key and measure."""
    chain = max(
        (
            *(DIM_ATTRS.get(k, 0) for k in keys),
            *(DIM_ATTRS.get(MEASURES[m].source_col, 0) for m in measures),
        ),
        default=0,
    )
    part = any(k in PART_ATTRS for k in keys) or any(
        MEASURES[m].home == "part" for m in measures
    )
    supp = any(k in SUPP_ATTRS for k in keys) or any(
        MEASURES[m].home == "supp" for m in measures
    )
    return chain, part, supp


def _star_view(
    name: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] | None,
    time_key: tuple[str, str] | None,
) -> _UserProjection:
    """Validate a lineitem-star declaration; its build runs the
    minimal join set (:func:`_star_joins`)."""
    if time_key is not None:
        raise ValueError(
            "time_key applies to corpus-table projections only "
            "(the lineitem star folds date grains from the cubes)"
        )
    if not keys:
        raise ValueError("a projection needs at least one group key")
    for k in keys:
        if (
            k not in LINEITEM_COLS
            and k not in DIM_ATTRS
            and k not in PART_ATTRS
            and k not in SUPP_ATTRS
        ):
            raise ValueError(f"unknown projection key {k!r}")
    measures = tuple(measures) if measures is not None else _ALL_MEASURES
    for m in measures:
        if m not in _USER_MEASURES:
            raise ValueError(
                f"unknown measure {m!r} (deployable: {sorted(_USER_MEASURES)})"
            )
    chain, part, supp = _star_joins(keys, measures)
    proj = _view_projection(
        name, "lineitem", keys, (MEASURES[m] for m in measures),
        chain=chain, part=part, supp=supp,
    )
    return _UserProjection(
        name, "lineitem", keys, measures, proj,
        chain=chain, part=part, supp=supp,
    )


# ---------------------------------------------------------------------------
# Corpus tables: declaration and cube build.
# ---------------------------------------------------------------------------


def _build_corpus_cube(
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
    """The corpus deploy/refresh cube build: fact ⋈ declared registry
    dims (broadcast — registry-sized at any corpus scale), hour-grain
    time key materialized, one grouped partial aggregation.

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
    return _partials(
        df, group_cols, (t.measures[m] for m in measures), group_filter
    )


def _corpus_view(
    name: str,
    table_name: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] | None,
    time_key: tuple[str, str] | None,
) -> _UserProjection:
    """Validate a corpus-table declaration (the shared constructor of
    deployed and CDC-maintained corpus views). Each dim-attribute key
    pulls its registry join into the build; the stored cube then
    answers statements declaring that dim and grouping by the
    attribute."""
    t = CORPUS_TABLES[table_name]
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
    proj = _view_projection(
        name, table_name, keys, (t.measures[m] for m in measures),
        time_key=time_key,
    )
    return _UserProjection(
        name, table_name, keys, measures, proj,
        dims=tuple(dims_needed), time_key=time_key,
    )


# ---------------------------------------------------------------------------
# The lifecycle, shared by both families.
# ---------------------------------------------------------------------------


def deploy_projection(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] | None = None,
    table: str = "lineitem",
    time_key: tuple[str, str] | None = None,
) -> Projection:
    """Materialize a user-declared aggregate projection over ``table``
    and register it with that table's router. Lineitem-star keys may
    mix lineitem attributes, order-chain dimension attributes, and
    (v2) part/supplier arm attributes — the view answers exactly the
    specs declaring its join set — and measures default to the five
    lineitem money measures. Corpus keys (``table`` = documents or
    events) mix fact columns and S17 dim attributes, ``time_key=(alias,
    ts_col)`` stores an hour-grain time key, and measures default to
    all of the table's. Deploying a name replaces the view that held
    it, whichever table that view was over. Returns the router-facing
    projection."""
    keys = tuple(keys)
    if table in CORPUS_TABLES:
        u = _corpus_view(name, table, keys, measures, time_key)
        rows = current_corpus_table(spark, sf_dir, table)
        stem = "user_cproj"
    elif table == "lineitem":
        from .retention import apply_tombstones

        u = _star_view(name, keys, measures, time_key)
        li_name, _ = bucketed_fact_tables(spark, sf_dir)
        rows = apply_tombstones(
            spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
        )
        stem = "user_proj"
    else:
        raise ValueError(
            f"unknown projection table {table!r} "
            f"(declarable over lineitem or {sorted(CORPUS_TABLES)})"
        )
    tag, wh = _layout_paths(sf_dir)
    path = os.path.join(wh, f"{stem}_{name}_{tag}")
    u.cube(spark, sf_dir, rows).write.mode("overwrite").parquet(path)
    from .snapshots import evict_versioned_scan

    evict_versioned_scan(spark, path)  # redeploy overwrites the base path
    u.path = u.base_path = path
    _catalog(spark, sf_dir)[name] = u
    return u.projection


def drop_projection(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """Deregister a user projection: the router stops consulting it
    immediately; matching SQL falls back to the next candidate (spine,
    built-in or raw) on the very next statement. Returns False when
    no such projection is deployed. Stored files are left for the
    warehouse's scheduled GC (a reader planned before the drop may
    still be scanning them — the same reason every refresh writes new
    versions instead of deleting)."""
    return _catalog(spark, sf_dir).pop(name, None) is not None


def list_projections(spark: SparkSession, sf_dir: str) -> list[dict]:
    """The warehouse's user-view catalog, as plain dicts (the
    introspection surface: SHOW MATERIALIZED VIEWS); the other
    family's build fields are None."""
    return [
        {
            "name": u.name,
            "table": u.table,
            "keys": u.keys,
            "measures": u.measures,
            "chain": u.chain,
            "part": u.part,
            "supp": u.supp,
            "dims": u.dims,
            "time_key": u.time_key,
            "path": u.path,
        }
        for u in _catalog(spark, sf_dir).values()
    ]


def ensure_projection(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] = _ALL_MEASURES,
) -> Projection:
    """Idempotent lineitem-star deploy: reuse the registered
    projection when its declaration matches, else (re)deploy."""
    u = _catalog(spark, sf_dir).get(name)
    if u and (u.table, u.keys, u.measures) == (
        "lineitem", tuple(keys), tuple(measures)
    ):
        return u.projection
    return deploy_projection(spark, sf_dir, name, tuple(keys), tuple(measures))


def refresh_projection(
    spark: SparkSession, sf_dir: str, name: str, delta: DataFrame
) -> str:
    """Delta-merge one ingested batch of the view's fact table into a
    deployed user projection. Dimension keys resolve through the
    MAINTAINED state: the bucketed orders table (plus the broadcast
    base dims) for the star, the CURRENT registry for a corpus table.
    So a batch shipping new orders WITH their lineitems, or new
    sources with their documents, is handled as long as the dimension
    side lands first — exactly the ordering refresh_warehouse
    encodes. Additive monoid merge == rebuild, same argument as every
    built-in cube; publishes a new VERSION the catalog swings to
    atomically."""
    cat = _catalog(spark, sf_dir)
    if name not in cat:
        raise KeyError(f"no deployed projection {name!r}")
    u = cat[name]
    if u.table == "lineitem":
        delta = _lineitem_with_derived(delta)  # the star build's int columns
    add, mins, maxs = _merge_cols(u)
    from .snapshots import versioned_parquet

    merged = merge_partial_frames(
        versioned_parquet(spark, u.path), u.cube(spark, sf_dir, delta),
        u.group_cols, add, mins, maxs,
    )
    return u.publish(spark, sf_dir, merged)


def refresh_projections_for(
    spark: SparkSession, sf_dir: str, table: str, delta: DataFrame
) -> dict[str, str]:
    """Refresh every refresh-maintained view over ``table`` — the hook
    refresh_warehouse calls after that table's built-ins."""
    return {
        name: refresh_projection(spark, sf_dir, name, delta)
        for name, _u in _maintained(spark, sf_dir, table)
    }
