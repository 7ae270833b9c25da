"""S16 (engine extension): DECLARED views — the router's catalog is
data, and every cube, built-in or user-declared, runs one lifecycle.

A view is one :class:`plans.routing.View` declaration: its keys, its
stored measure partials, its COUNT(*) column, its sketches, its time
key and its arms. The five built-in cubes are entries of
``routing.BUILTIN_VIEWS`` (their paths live in the warehouse state's
``projections`` under their names); a user view is declared at run
time — a warehouse team looks at its query mix, declares the
aggregate view it needs, and expects the optimizer to start using it
(CREATE MATERIALIZED VIEW + automatic rewrite; the same
Goldstein-Larson matching the built-ins use, see plans/routing.py).
:func:`deploy_projection` is that surface:

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
projection exists. View names are unique across both families and
the built-ins: deploying a name replaces whatever view held it, and a
built-in's name is refused.

One build (:func:`_build`) reads only the declaration and the table
model (plans/routing.py FACT_TABLES): a key is a fact column or an
attribute of one of the table's arms, and the build joins the view's
arms through the one arm-join builder (routing.join_arms) — or the
stored denorm, where it stands in for the order chain
(:func:`_denorm_covers`). One lifecycle serves every view: deploy
(:func:`deploy_builtin` memoized for the built-ins,
:func:`deploy_projection` for user views), the one refresh
(:func:`refresh_projection`: delta cube, :func:`merge_partial_frames`,
publish, swing), the affected-group recompute and the expiry filter
(sources/retention.py), drop and list.
:func:`sources.maintenance.refresh_warehouse` refreshes the built-ins
from its pool and every refresh-maintained user view after it.

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

from ..plans.routing import (
    BUILTIN_VIEWS,
    CORPUS_TABLES,
    FACT_TABLES,
    LINEITEM,
    MEASURES,
    FactTable,
    Projection,
    View,
    _StoredMeasure,
    current_corpus_table,
    join_arms,
    star_arms,
)
from .bucketed import (
    DENORM_ATTRS,
    _layout_paths,
    _lineitem_with_derived,
    bucketed_fact_tables,
    order_revenue_projection,
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
class _Deployed:
    """A deployed view: its declaration, its current stored version
    (swung atomically on every publish) and the deploy path its
    versions derive from. ``projection`` is a user view's router-facing
    projection; a built-in's is in routing.PROJECTIONS, and its entry
    here is transient — its path lives in the warehouse state's
    ``projections`` under its name.

    ``maintained_by`` (round 12): ``"refresh"`` views are kept current
    SYNCHRONOUSLY by the mutation hooks (:func:`deployed_views`) and
    are therefore always servable; ``"cdc"`` user views are maintained
    ASYNCHRONOUSLY by a change-feed consumer (streaming/cdc.py
    CdcProjectionConsumer), and the router serves them only while
    FRESH (no unconsumed commit touches their table)."""

    view: View
    path: str = ""
    base_path: str = ""
    projection: Projection | None = None
    maintained_by: str = "refresh"

    @property
    def label(self) -> str:
        """The view's name as the router and the mutation hooks report it."""
        return self.projection.name if self.projection else self.view.name

    @property
    def keys(self) -> tuple[str, ...]:
        return self.view.keys

    @property
    def measures(self) -> tuple[str, ...]:
        return tuple(s.measure.name for s in self.view.measures)

    @property
    def chain(self) -> int:
        """The order-chain depth a lineitem view's build joined."""
        return LINEITEM.agg_spec.arm_fields(self.view.arms)["chain"]


def _catalog(spark: SparkSession, sf_dir: str) -> dict[str, _Deployed]:
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
        if u.view.table != table:
            continue
        if u.maintained_by == "cdc":
            from ..streaming.cdc import cdc_view_fresh

            if not cdc_view_fresh(spark, sf_dir, u.view.table, u.path):
                continue
        yield u.projection


def _base_path(sf_dir: str, stem: str) -> str:
    tag, wh = _layout_paths(sf_dir)
    return os.path.join(wh, f"{stem}_{tag}")


def _builtin(spark: SparkSession, sf_dir: str, name: str) -> _Deployed:
    """The entry of built-in ``name``, deployed first if it is not."""
    return _Deployed(
        BUILTIN_VIEWS[name], deploy_builtin(spark, sf_dir, name),
        _base_path(sf_dir, name),
    )


def deployed_views(spark: SparkSession, sf_dir: str, table: str) -> list[_Deployed]:
    """The views over ``table`` the synchronous mutation hooks
    (refresh_warehouse, the S19 delete and expiry paths) keep current:
    its deployed built-ins, then its refresh-maintained user views. A
    CDC-maintained view is fed by its consumer's poll, which reads the
    same commit from the feed; a hook refresh or rebuild would make
    that poll double-apply it."""
    ws = warehouse(spark, sf_dir)
    return [
        _builtin(spark, sf_dir, n)
        for n, v in BUILTIN_VIEWS.items()
        if v.table == table and n in ws.projections
    ] + [
        u for u in ws.user_projections.values()
        if u.view.table == table and u.maintained_by != "cdc"
    ]


# ---------------------------------------------------------------------------
# The one build and the one merge.
# ---------------------------------------------------------------------------


def _partial_aggs(v: View) -> list[Column]:
    """``v``'s stored partials, in stored column order (:class:`View`):
    each measure aggregates its at-rest derived column when the
    bucketed fact stores one, else its int64 expression (post-join for
    the lineitem arm measures)."""

    sm = v.measures
    src = [F.col(s.measure.derived) if s.measure.derived else s.measure.raw_int() for s in sm]
    counts = {s.cnt_col: s.measure.source_col for s in sm if s.cnt_col}
    return (
        [F.sum(c).alias(s.int_col) for s, c in zip(sm, src)]
        + [F.count(c).alias(n) for n, c in counts.items()]
        + [F.count(F.lit(1)).alias(v.count_star_col)]
        + [F.min(c).alias(s.min_col) for s, c in zip(sm, src)]
        + [F.max(c).alias(s.max_col) for s, c in zip(sm, src)]
        + [F.hll_sketch_agg(c).alias(n) for c, n in v.sketches.items()]
    )


def merge_partial_frames(v: View, stored: DataFrame, delta: DataFrame) -> DataFrame:
    """THE merge identity of every view refresh: full-outer on the
    (null-safe) group key, + for sums and counts, least/greatest for
    min/max partials, register-max ``hll_union`` for sketch partials
    (all skip/propagate NULLs — exactly the identity a group present
    on only one side needs). Every stored column is a commutative
    monoid, so delta-merge == rebuild (:class:`View`)."""
    sm = v.measures
    add = (
        *[s.int_col for s in sm],
        *dict.fromkeys(s.cnt_col for s in sm if s.cnt_col),
        v.count_star_col,
    )
    s, d = stored.alias("s"), delta.alias("d")
    cond = [F.col(f"s.{k}").eqNullSafe(F.col(f"d.{k}")) for k in v.group_cols]
    return s.join(d, cond, "full_outer").select(
        *[F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}")).alias(k) for k in v.group_cols],
        *[
            (
                F.coalesce(F.col(f"s.{m}"), F.lit(0))
                + F.coalesce(F.col(f"d.{m}"), F.lit(0))
            ).alias(m)
            for m in add
        ],
        *[F.least(F.col(f"s.{x.min_col}"), F.col(f"d.{x.min_col}")).alias(x.min_col) for x in sm],
        *[F.greatest(F.col(f"s.{x.max_col}"), F.col(f"d.{x.max_col}")).alias(x.max_col) for x in sm],
        *[
            F.when(F.col(f"s.{m}").isNull(), F.col(f"d.{m}"))
            .when(F.col(f"d.{m}").isNull(), F.col(f"s.{m}"))
            .otherwise(F.hll_union(F.col(f"s.{m}"), F.col(f"d.{m}")))
            .alias(m)
            for m in v.sketches.values()
        ],
    )


def merge_delta(
    spark: SparkSession,
    sf_dir: str,
    v: View,
    stored: DataFrame,
    rows: DataFrame,
    joined: bool = False,
) -> DataFrame:
    """``stored`` with the cube of ``rows`` merged in — the delta step
    of the one refresh and of the CDC consumer's poll."""
    return merge_partial_frames(v, stored, _build(spark, sf_dir, rows, v, joined=joined))


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


def _read_cols(v: View) -> list[str]:
    """The fact and arm columns ``v``'s build reads: keys (in stored
    order), measure source columns, sketch targets."""
    src = [s.measure.source_col for s in v.measures if s.measure.source_col]
    return list(dict.fromkeys((*v.keys, *src, *v.sketches)))


def _denorm_covers(v: View) -> bool:
    """Whether the stored denorm stands in for ``v``'s order chain: the
    view joins exactly orders→customer→nation→region and reads only
    fact columns and DENORM_ATTRS. The denorm IS that inner join per
    order (sources/bucketed.py denorm_join, kept current by the orders
    refresh), so joining it equals joining the four arms — and it is
    bucketed on the order key, so the deploy join is exchange-free on
    the fact spine. ORDERING: a batch that also introduces new ORDERS
    must refresh the denorm first (refresh_warehouse does) — a
    lineitem whose order is missing from the denorm drops out of the
    build, on the refresh and the rebuild path alike."""
    return (
        v.table == "lineitem"
        and v.arms == star_arms(4)
        and all(c in LINEITEM.columns or c in DENORM_ATTRS for c in _read_cols(v))
    )


def _keyed(
    spark: SparkSession,
    sf_dir: str,
    rows: DataFrame,
    v: View,
    opened: dict[str, DataFrame] | None = None,
    joined: bool = False,
) -> DataFrame:
    """``rows`` of ``v``'s fact table with every group column
    attached: ``v``'s arms joined (each carrying only the columns the
    build reads; ``opened`` overrides an arm's frame — the order-UPDATE
    reattribution passes the PRE-update orders so the OLD group
    attribution can still be computed after the upsert), or the stored
    denorm where it covers the arms; then the hour-grain time key.
    ``joined``: the rows already carry the denorm's columns (the
    refresh's shared delta frame, sources/bucketed.py
    build_delta_frame). No shuffle_hash hints: a per-task hash
    relation cannot spill, and sort-merge over the bucket-aligned
    tables does (a hash build died with "can't acquire memory" on the
    segment cube deploy at sf20 — 120M lineitems, 30M denorm rows); a
    one-shot deploy pays the sort once."""
    t = FACT_TABLES[v.table]
    cols = _read_cols(v)
    if joined:
        df = rows
    elif opened is None and _denorm_covers(v):
        _roll, den_name = order_revenue_projection(spark, sf_dir)
        den = spark.table(den_name).select(
            "o_orderkey", *[c for c in cols if c in DENORM_ATTRS]
        )
        df = rows.join(den, rows.l_orderkey == den.o_orderkey)
    else:
        opened = {
            **{n: f(spark, sf_dir) for n, f in _DEPLOY_OPEN.items() if n in v.arms},
            **(opened or {}),
        }
        df = join_arms(spark, sf_dir, rows, t, v.arms, cols, opened, hash_hints=False)
    if v.time_key is not None:
        alias, src = v.time_key
        df = df.withColumn(alias, F.date_trunc("hour", F.col(src)))
    return df


def _build(
    spark: SparkSession,
    sf_dir: str,
    rows: DataFrame,
    v: View,
    group_filter: DataFrame | None = None,
    joined: bool = False,
) -> DataFrame:
    """THE cube build of every view: ``v``'s partials of ``rows``
    (:func:`_keyed`). ``group_filter`` (a DataFrame of group-key
    tuples) semi-filters the ROWS — after the arm joins make every key
    column available, BEFORE the groupBy — so an affected-group
    recompute aggregates only the surviving rows of the touched groups
    (delete-sized set, broadcast semi), never the corpus
    (sources/retention.py)."""
    df = _keyed(spark, sf_dir, rows, v, joined=joined)
    if group_filter is not None:
        df = df.join(F.broadcast(group_filter), list(v.group_cols), "semi")
    return df.groupBy(*v.group_cols).agg(*_partial_aggs(v))


def _build_cube(
    spark: SparkSession,
    sf_dir: str,
    li: DataFrame,
    keys: tuple[str, ...],
    measures: tuple[str, ...],
    chain: int,
    part: bool = False,
    supp: bool = False,
) -> DataFrame:
    """The lineitem cube of a view declaring ``keys`` and ``measures``
    over the arms a chain depth and the part/supplier flags declare."""
    ms = tuple(_StoredMeasure.of(MEASURES[m]) for m in measures)
    v = View("", "lineitem", tuple(keys), ms, arms=star_arms(chain, part, supp))
    return _build(spark, sf_dir, li, v)


def _deploy(spark: SparkSession, sf_dir: str, v: View, path: str) -> None:
    """Write ``v``'s cube over its table's current rows at ``path``."""
    if v.table in CORPUS_TABLES:
        rows = current_corpus_table(spark, sf_dir, v.table)
    else:
        from .retention import apply_tombstones

        li_name, _ = bucketed_fact_tables(spark, sf_dir)
        rows = apply_tombstones(
            spark, sf_dir, "orders", spark.table(li_name), "l_orderkey"
        )
    _build(spark, sf_dir, rows, v).write.mode("overwrite").parquet(path)
    from .snapshots import evict_versioned_scan

    evict_versioned_scan(spark, path)  # a redeploy overwrites the base path


def _publish_cube(
    spark: SparkSession, sf_dir: str, e: _Deployed, cube: DataFrame
) -> str:
    """Write ``cube`` as ``e``'s next version and swing ``e`` to it — the
    one publish of the refresh, the affected-group recompute and the
    expiry filter."""
    ws = warehouse(spark, sf_dir)
    new_path = ws.publish(e.base_path)
    cube.write.mode("overwrite").parquet(new_path)
    e.path = new_path
    if e.projection is None:
        ws.projections[e.view.name] = new_path
    return new_path


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
) -> _Deployed:
    """Validate a user view declaration over any fact table (the shared
    constructor of deployed and CDC-maintained views). Each arm
    attribute key or arm measure pulls its arm (and the arm's parents)
    into the build; the stored cube then answers the statements
    declaring those arms. The view stores ``_StoredMeasure.of`` each
    measure and COUNT(*) in ``cnt``."""
    if name in BUILTIN_VIEWS:
        raise ValueError(f"{name!r} names a built-in cube")
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
    view = View(
        name, table_name, keys,
        tuple(_StoredMeasure.of(t.measures[m]) for m in measures),
        time_key=time_key, arms=view_arms(t, keys, measures),
    )

    def _open(s: SparkSession, d: str) -> DataFrame:
        from .snapshots import versioned_parquet

        return versioned_parquet(s, _catalog(s, d)[name].path)

    return _Deployed(view, projection=view.projection(f"user:{name}", _open))


# ---------------------------------------------------------------------------
# The lifecycle, shared by the built-ins and the user views.
# ---------------------------------------------------------------------------


def deploy_builtin(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Deploy built-in cube ``name`` (memoized per warehouse) and
    return its current path."""
    ws = warehouse(spark, sf_dir)
    if name not in ws.projections:
        path = _base_path(sf_dir, name)
        _deploy(spark, sf_dir, BUILTIN_VIEWS[name], path)
        ws.projections[name] = path
    return ws.projections[name]


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
    u = _declare(name, table, tuple(keys), measures, time_key)
    u.path = u.base_path = _base_path(sf_dir, f"user_proj_{name}")
    _deploy(spark, sf_dir, u.view, u.path)
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
            "name": u.view.name,
            "table": u.view.table,
            "keys": u.keys,
            "measures": u.measures,
            "chain": None,
            "part": None,
            "supp": None,
            "dims": None,
            **FACT_TABLES[u.view.table].agg_spec.arm_fields(u.view.arms),
            "time_key": u.view.time_key,
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
    if u and (u.view.table, u.keys, u.measures) == (
        "lineitem", tuple(keys), tuple(measures)
    ):
        return u.projection
    return deploy_projection(spark, sf_dir, name, tuple(keys), tuple(measures))


def refresh_projection(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    delta: DataFrame,
    prejoined: DataFrame | None = None,
) -> str:
    """THE refresh of every view — built-in ``name`` (deployed over the
    base corpus first if it is not) or deployed user view ``name``:
    cube one ingested batch of the view's fact table, merge it into
    the stored cube (:func:`merge_partial_frames`; additive monoid
    merge == rebuild) and publish a new VERSION the view swings to
    atomically. Cost is O(|delta| + |cube|).

    Arm keys resolve through the MAINTAINED state: the bucketed orders
    table or the stored denorm (plus the broadcast base dims) for the
    star, the CURRENT registry for a corpus table. So a batch shipping
    new orders WITH their lineitems, or new sources with their
    documents, is handled as long as the dimension side lands first —
    exactly the ordering refresh_warehouse encodes. ``prejoined`` is
    refresh_warehouse's shared lineitem delta frame
    (sources/bucketed.py build_delta_frame): a view with no arms reads
    all of its rows, a view the denorm covers its denorm-matched rows
    (which equal the INNER join, the denorm being unique per order),
    and any other view joins its arms from the delta."""
    if name in BUILTIN_VIEWS:
        e = _builtin(spark, sf_dir, name)
    elif name in _catalog(spark, sf_dir):
        e = _catalog(spark, sf_dir)[name]
    else:
        raise KeyError(f"no deployed projection {name!r}")
    v = e.view
    rows, joined = delta, False
    if v.table == "lineitem":
        if prejoined is not None and not v.arms:
            rows = prejoined
        elif prejoined is not None and _denorm_covers(v):
            rows, joined = prejoined.filter(F.col("o_orderkey").isNotNull()), True
        else:
            rows = _lineitem_with_derived(delta)
    from .snapshots import versioned_parquet

    # versioned_parquet, not read.parquet (round 13): the stored path is
    # immutable once published and the routed read path already
    # memoizes it
    merged = merge_delta(
        spark, sf_dir, v, versioned_parquet(spark, e.path), rows, joined
    )
    return _publish_cube(spark, sf_dir, e, merged)


def refresh_projections_for(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    delta: DataFrame,
    prejoined: DataFrame | None = None,
) -> dict[str, str]:
    """Refresh every refresh-maintained user view over ``table`` — the
    hook refresh_warehouse calls after that table's built-ins."""
    return {
        name: refresh_projection(spark, sf_dir, name, delta, prejoined)
        for name, u in _catalog(spark, sf_dir).items()
        if u.view.table == table and u.maintained_by != "cdc"
    }
