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
warehouse's one user-view catalog, which the router
(:func:`plans.routing.route`, for every fact table) consults after
its built-ins, and from that moment every matching
spec AND every matching SQL statement through the front door is
answered from it — the caller of those queries never learns a
projection exists. View names are unique across both families:
deploying a name replaces whatever view held it.

One declaration (:func:`_declare`) and one cube build
(:func:`_build`) serve both families, reading the table model
(plans/routing.py FACT_TABLES): a key is a fact column or an
attribute of one of the table's arms, and the build joins the minimal
arm set reaching every key and measure source column through the one
arm-join builder (routing.join_arms). The lifecycle is shared too:
deploy / ensure (idempotent) / refresh (delta-merge, commutative-monoid,
rebuild-equal) / drop (deregister; files await scheduled GC) / list,
and :func:`sources.maintenance.refresh_warehouse` refreshes every
refresh-maintained view alongside the built-ins of its table.

- **Lineitem star**: keys from the fact, the order chain and the
  part/supplier arms; measures from the five lineitem money measures
  plus the four arm measures (o_totalprice, c_acctbal, p_retailprice,
  s_acctbal — computed post-join with the statement's
  lineitem-multiplicity weighting). The view records WHICH arms its
  build joined and answers exactly the specs declaring the same set —
  inner-join orphan-drop semantics are part of a query's meaning, and
  the router never assumes FK integrity.
- **Corpus tables**: keys from the fact's columns and its registry
  arms' attributes (the build runs the registry join once, at deploy),
  and optionally ONE hour-grain time key over the fact's timestamp —
  hour is the finest scale-invariant grain, and every coarser grain
  and hour-boundary range predicate folds onto it
  (the grain-boundary rules of plans/routing.py apply verbatim).

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

from ..plans.routing import CORPUS_TABLES, current_corpus_table
from ..plans.routing import (
    FACT_TABLES,
    LINEITEM,
    MEASURES,
    FactTable,
    Measure,
    Projection,
    _StoredMeasure,
    join_arms,
    star_arms,
)
from .bucketed import (
    _layout_paths,
    _lineitem_with_derived,
    bucketed_fact_tables,
    merge_partial_frames,
)
from .state import warehouse

# A view's default measures are its table's fact-local ones (for the
# star: the five the bucketed fact stores at rest). The arm measures
# are declarable too; each computes post-join from its MEASURES entry
# (the same cents() arithmetic the row-level plans run), and declaring
# one pulls in its arm exactly like declaring one of its keys.
_ALL_MEASURES = tuple(n for n, m in MEASURES.items() if LINEITEM.local(m))
_USER_MEASURES = tuple(MEASURES)


@dataclass
class _UserProjection:
    """Catalog entry: the declaration, the router-facing projection
    and the current stored path (swung atomically on refresh). The
    build joins ``arms`` of ``table``'s model and derives the optional
    hour-grain ``time_key`` (stored alias, ts source col).

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
    arms: tuple[str, ...] = ()
    time_key: tuple[str, str] | None = None

    @property
    def group_cols(self) -> tuple[str, ...]:
        """The stored cube's group columns: the keys, then the time key."""
        return self.keys + ((self.time_key[0],) if self.time_key else ())

    @property
    def chain(self) -> int:
        """The order-chain depth a lineitem view's build joined."""
        return LINEITEM.agg_spec.arm_fields(self.arms)["chain"]

    def cube(
        self,
        spark: SparkSession,
        sf_dir: str,
        rows: DataFrame,
        measures: tuple[str, ...] | None = None,
        group_filter: DataFrame | None = None,
        opened: dict[str, DataFrame] | None = None,
    ) -> DataFrame:
        """This view's partial-aggregate cube over ``rows`` of its fact
        table: the declared measures, or ``measures`` (``()`` leaves
        just the groups and COUNT(*)); ``opened`` overrides arm frames
        (:func:`_build`)."""
        return _build(
            spark, sf_dir, rows, FACT_TABLES[self.table], self.keys,
            self.measures if measures is None else measures, self.arms,
            self.time_key, group_filter, opened,
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
    arms: tuple[str, ...], time_key: tuple[str, str] | None,
) -> Projection:
    """The router-facing projection of user view ``name``: its keys,
    the standard partial columns of its measures
    (:meth:`_StoredMeasure.of` — the columns :func:`_partial_aggs`
    writes), COUNT(*) in ``cnt``, the installed state's current version
    as its scan, its build's arms and its time key."""

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
        arms=arms,
        time_key=time_key,
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
# The one declaration and the one cube build.
# ---------------------------------------------------------------------------

# Arms whose deploy-side frame is not the query-time one: the build
# and refresh read the MAINTAINED bucketed orders table (refresh_
# warehouse appends ingest batches to it — the raw fixture parquet is
# immutable, so reading it would silently drop newly ingested orders'
# lineitems on refresh), deliberately NOT tombstone-filtered (S19): the
# fact side of every build/refresh/delete computation is, and order
# deletes cascade, so a surviving lineitem's order is always alive —
# while the DELETE path needs this side to still resolve the DELETED
# rows' attributes when computing which groups to rebuild
# (sources/retention.py delete_orders).
_DEPLOY_OPEN = {
    "orders": lambda spark, sf_dir: spark.table(bucketed_fact_tables(spark, sf_dir)[1]),
}


def _build(
    spark: SparkSession,
    sf_dir: str,
    rows: DataFrame,
    t: FactTable,
    keys: tuple[str, ...],
    measures: tuple[str, ...],
    arms: tuple[str, ...],
    time_key: tuple[str, str] | None = None,
    group_filter: DataFrame | None = None,
    opened: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """The deploy/refresh cube build of both families: fact ⋈ the
    view's arms (each carrying only the keys and measure source
    columns it holds; ``opened`` overrides an arm's frame — the order-
    UPDATE reattribution passes the PRE-update orders so the OLD group
    attribution can still be computed after the upsert), arm measure
    ints materialized post-join, the hour-grain time key derived, one
    grouped partial aggregation.

    ``group_filter`` (a DataFrame of group-key tuples) semi-filters the
    ROWS — after the arm joins make every key column available, BEFORE
    the groupBy — so an affected-group recompute aggregates only the
    surviving rows of the touched groups (delete-sized set, broadcast
    semi), never the corpus (sources/retention.py)."""
    ms = [t.measures[m] for m in measures]
    opened = {
        **{n: f(spark, sf_dir) for n, f in _DEPLOY_OPEN.items() if n in arms},
        **(opened or {}),
    }
    cols = sorted(set(keys) | {m.source_col for m in ms if m.source_col})
    df = join_arms(spark, sf_dir, rows, t, arms, cols, opened, hash_hints=False)
    group_cols = list(keys)
    if time_key is not None:
        alias, src = time_key
        df = df.withColumn(alias, F.date_trunc("hour", F.col(src)))
        group_cols.append(alias)
    return _partials(df, group_cols, ms, group_filter)


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
    """The lineitem cube build (:func:`_build`) of the arms a chain
    depth and the part/supplier flags declare; ``orders_override``
    stands in for the orders arm's frame."""
    opened = None if orders_override is None else {"orders": orders_override}
    return _build(
        spark, sf_dir, li, LINEITEM, keys, measures, star_arms(chain, part, supp),
        None, group_filter, opened,
    )


def view_arms(t: FactTable, keys: Iterable[str], measures: Iterable[str]) -> tuple[str, ...]:
    """The arms a view's build joins: the minimal set reaching every
    key and measure source column."""
    return t.reach([*keys, *(t.measures[m].source_col for m in measures)])


def _declare(
    name: str,
    table_name: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] | None,
    time_key: tuple[str, str] | None,
) -> _UserProjection:
    """Validate a view declaration over any fact table (the shared
    constructor of deployed and CDC-maintained views). Each arm
    attribute key or arm measure pulls its arm (and the arm's parents)
    into the build; the stored cube then answers the statements
    declaring those arms."""
    t = FACT_TABLES.get(table_name)
    if t is None:
        raise ValueError(
            f"unknown projection table {table_name!r} "
            f"(declarable over {sorted(FACT_TABLES)})"
        )
    if time_key is not None and table_name not in CORPUS_TABLES:
        raise ValueError(
            "time_key applies to corpus-table projections only "
            "(the lineitem star folds date grains from the cubes)"
        )
    for k in keys:
        if k not in t.columns and t.owner(k) is None:
            raise ValueError(
                f"unknown projection key {k!r} on table {table_name!r}"
            )
    if measures is None:
        measures = tuple(n for n, m in t.measures.items() if t.local(m))
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
    measures = tuple(measures)
    arms = view_arms(t, keys, measures)
    proj = _view_projection(
        name, table_name, keys, (t.measures[m] for m in measures), arms, time_key
    )
    return _UserProjection(
        name, table_name, keys, measures, proj, arms=arms, time_key=time_key
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
    u = _declare(name, table, keys, measures, time_key)
    if table in CORPUS_TABLES:
        rows = current_corpus_table(spark, sf_dir, table)
        stem = "user_cproj"
    else:
        from .retention import apply_tombstones

        li_name, _ = bucketed_fact_tables(spark, sf_dir)
        rows = apply_tombstones(
            spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
        )
        stem = "user_proj"
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
    introspection surface: SHOW MATERIALIZED VIEWS): the build's arms
    in the fields the table's spec declares them with (``chain``/
    ``part``/``supp`` for the star, ``dims`` for a corpus table); the
    other fields are None."""
    return [
        {
            "name": u.name,
            "table": u.table,
            "keys": u.keys,
            "measures": u.measures,
            "chain": None,
            "part": None,
            "supp": None,
            "dims": None,
            **FACT_TABLES[u.table].agg_spec.arm_fields(u.arms),
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
