"""S13 (engine extension): projection auto-routing — materialized-view
matching for aggregate queries over every fact table.

Round 5 closed the q01/q26 performance gap AT REST: the pricing cube
(sources/bucketed.py pricing_cube_table) answers shipdate-cutoff
pricing summaries from ~15k stored rows, and the order-revenue
rollup + denormalized-orders pair answers the star revenue query with
zero fact exchanges. What remained (round-5 VERDICT, item 1) was the
ROUTING: the user had to know the projection twin existed and call it
by name. This module closes that: queries are declared as a small
logical spec (table, filters, grouping attributes, aggregates) and
:func:`route` picks the cheapest deployed projection that SUBSUMES the
spec — falling back to the raw-table plan when none does — so a
raw-shaped request is answered from the projection automatically and
bit-identically. This is the reference's own posture (queries hit the
pre-indexed store, reference README.md:102-104) and the standard
warehouse answer (aggregate rewriting over materialized views,
Goldstein & Larson, "Optimizing queries using materialized views",
SIGMOD 2001 — see PAPERS.md).

THE TABLE MODEL. Every routable fact table — the lineitem star and
the corpus tables documents/events — is one :class:`FactTable`: its
columns, measures, timestamp columns, current relation and
:class:`Arm` s. An arm is a dimension table joined INNER on its
parent's key (the fact, or another arm: orders → customer → nation →
region), with the attributes it exposes, how it opens, its join
strategy as data, and whether it is ROW-PRESERVING (the engine's
complete 1:1 registries, which fold onto any cube storing their fact
key). A spec declares its arm set through one method (``arms()``);
everything else reads the model: one :func:`validate` at the entry of
both routers, one raw plan (:func:`_raw_plan`), one arm-join builder
(:func:`join_arms`) for the raw plan, the spine and the user-view
build, and the SQL front door's FROM recognizer (plans/sqlfront.py).

Subsumption rules (each checked structurally, never by name):
- every grouping attribute is stored by the projection (cube group
  keys, or attributes a bucketed companion table provides);
- every filter predicate references only projection group keys — a
  predicate on a group key folds EXACTLY, because it keeps or drops
  whole groups (the shipdate cutoff on the day-grained cube), never
  part of one;
- every aggregate is derivable from the stored partial states:
  SUM(m) from the stored int64 partial sums (associative), COUNT(m)
  and COUNT(*) from the stored non-null/row counts, AVG(m) as the
  re-aggregated sum over the re-aggregated count — the same
  fixed-point arithmetic the raw plan runs (functions.cents), just
  executed at deploy time, so the answer is bit-identical by
  construction and proven by the same DuckDB oracles the raw queries
  carry;
- the arms a query declares that are not row-preserving equal the
  arms the projection's build joined: an inner join may drop orphan
  fact rows, and the router never assumes FK integrity.

One :func:`route` answers every fact table's aggregate spec. It tries
candidates in a measured cost order: the built-in :data:`PROJECTIONS`
(pricing, segment and star-date cubes, the per-order rollup star pair,
the documents and events cubes — a cube claims only its own table's
specs), then user views, then the bucketed spine (lineitem only), then
the raw scan. The router is a rule-based cost order, not a cost model
— the right trade at this catalog size (6 built-in layouts), revisit
if the catalog grows. One :func:`route_scan` answers every scan spec
from the clustered layouts declared as data (:data:`SCAN_LAYOUTS`).

GRAIN-BOUNDARY TIME FOLDING. The events cube stores ``ts`` at HOUR
grain (``event_hour = date_trunc('hour', ts)`` — the finest grain
whose row bound stays independent of corpus size), not full
resolution, so a raw ``ts`` predicate folds only when it is equivalent
as a ROW SET to a predicate on the stored key:

- ``ts >= T`` with T on an hour boundary  ⇔  ``event_hour >= T``
  (every row of an hour ≥ T has ts ≥ the boundary; every ts ≥ T lies
  in an hour ≥ T);
- ``ts <  T`` with T on an hour boundary  ⇔  ``event_hour <  T``
  (symmetric).

Both are exact row-set equivalences, so they stay exact under
arbitrary AND/OR/NOT composition and the rewrite is just ``ts →
event_hour`` leaf by leaf. The other operators do NOT fold (``ts <=
T`` at a boundary includes ONLY the boundary instant of T's hour — the
stored key cannot express that; ``=``/``between`` are sub-grain for
the same reason) and neither does any off-boundary literal: those
specs route to the raw plan. The tempting half-open rewrite
(``BETWEEN a AND b`` → ``ts >= a AND ts < b + 1h``) would be exact
only over integer-HOUR data; the events corpus carries microsecond
timestamps, so the rewrite admits every row strictly inside b's hour
— the counterexample is computed on the fixture in
tests/test_corpus_routing.py (r6-VERDICT item 8, decided REFUSE). A
wrong-looking-but-fast rewrite is never on the table — the router
refuses, it does not approximate.

Time-GRAIN grouping folds like the trunc rule, one step coarser: the
cube's hour key is itself a trunc, and ``date_trunc(u, ts) =
date_trunc(u, date_trunc('hour', ts))`` for every u ≥ hour, so
day/month/quarter/year groupings re-aggregate stored hour groups
exactly (hour grouping is the stored key verbatim).

At 100 TB the win is the round-5 A/B tables (docs/BENCHMARKS.md): raw
q01 3.1x DuckDB at sf5 vs cube 1.05x/0.55x (sf5/sf10); raw q26
5.5x/7.4x vs projections 1.2x/1.05x — and the projection answer's
cost is INDEPENDENT of corpus scale for the cube. The router makes
those numbers the default path for any query in its shape family.

Plan-asserted in tests/test_routing.py: the routed q01/q26 shapes
read ONLY projection storage (no raw lineitem scan in the physical
plan); the fallback shape reads the raw table.
"""

from __future__ import annotations

import dataclasses
import itertools
import re
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass
from typing import ClassVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import cents
from ..registry import query
from ..sources.bucketed import (
    _N_BUCKETS,
    order_revenue_projection,
    pricing_cube_table,
    segment_cube_table,
    star_date_cube_table,
)
# Per-row text expressions are defined ONCE, next to the cube deploy
# (sources/corpus_cubes.py) — the raw plan and the stored partials can
# never drift because they are literally the same expression.
from ..sources.corpus_cubes import (
    doc_stopword_count,
    doc_token_count,
    docs_stats_cube_table,
    event_types_dim_frame,
    event_types_dim_table,
    events_hourly_cube_table,
    sources_dim_frame,
    sources_dim_table,
)
from ..sources.dated import (
    dated_events,
    dated_lineitem,
    day_bounds_filter,
    month_bounds_filter,
)
from ..sources.docstore import clustered_documents
from ..sources.zorder import ZORDER_COLS, ZORDER_KEYS, zordered_lineitem


def current_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURRENT lineitem relation: the maintained bucketed fact
    table once it is deployed in this session — refresh_warehouse
    appends ingest deltas THERE, never to the immutable fixture
    parquet — else the fixture. Without this (round-6 ADVICE, medium)
    the same session answered routed queries over base+delta but
    raw-fallback queries over base only: adding a non-key filter to a
    cube-routed query silently changed which corpus was described.
    Never triggers a layout deploy: a session that hasn't built the
    warehouse keeps reading the fixture directly. Bonus at rest: the
    table is bucketed+sorted on l_orderkey, so the raw plan's
    per-order partial aggregation and spine-key joins become
    exchange-free when it is picked up.

    Order TOMBSTONES (S19, sources/retention.py) subtract here too —
    a deleted order's lineitems disappear from every raw plan the
    moment the delete commits; the anti-join is against a
    delete-sized broadcast set and costs nothing when no delete has
    happened."""
    from ..sources.retention import apply_tombstones
    from ..sources.snapshots import bucketed_scan
    from ..sources.state import warehouse

    names = warehouse(spark, sf_dir).bucketed.get(_N_BUCKETS)
    if names:
        # inside a snapshot read, scan only the pinned commit's files
        # (the bucketed fact APPENDS batches into one directory)
        df = bucketed_scan(spark, sf_dir, names[0])
    else:
        df = table(spark, sf_dir, "lineitem")
    return apply_tombstones(spark, sf_dir, "orders", df, "l_orderkey")


def current_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURRENT orders relation — maintained bucketed orders table
    if deployed this session, else the fixture (same contract and
    rationale as :func:`current_lineitem`, tombstones included)."""
    from ..sources.retention import apply_tombstones
    from ..sources.snapshots import bucketed_scan
    from ..sources.state import warehouse

    names = warehouse(spark, sf_dir).bucketed.get(_N_BUCKETS)
    if names:
        df = bucketed_scan(spark, sf_dir, names[1])
    else:
        df = table(spark, sf_dir, "orders")
    return apply_tombstones(spark, sf_dir, "orders", df)


# Canonical column orders of the corpus facts (the maintained row-
# level layouts reorder columns — hive partition columns read back
# last — so CURRENT-relation reads re-project to the fixture order).
_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")
_EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def current_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURRENT documents relation: the maintained clustered layout
    once deployed this session (refresh_warehouse appends document
    batches THERE; the fixture parquet is immutable), else the
    fixture — the corpus twin of :func:`current_lineitem` (round-7
    review finding: without this, a cube- or clustered-routed answer
    described base+delta while the raw fallback described base only).
    Never triggers a layout deploy. Document TOMBSTONES (S19,
    sources/retention.py) subtract here — deleted docs disappear from
    every raw plan the moment the delete commits."""
    from ..sources.retention import apply_tombstones
    from ..sources.snapshots import layout_parquet
    from ..sources.state import warehouse

    path = warehouse(spark, sf_dir).docstore
    if path:
        # S22: inside a snapshot read, scan only the pinned commit's
        # files (document batches APPEND into this directory)
        df = layout_parquet(spark, path).select(*_DOC_COLS)
    else:
        df = table(spark, sf_dir, "documents")
    return apply_tombstones(spark, sf_dir, "documents", df)


def current_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURRENT events relation — maintained day-partitioned layout
    if deployed this session, else the fixture (same contract as
    :func:`current_documents`). The S19b retention WATERMARK
    subtracts expired rows (sources/retention.py expire_events) — on
    the day-partitioned layout the row predicate also prunes whole
    expired-day directories."""
    from ..sources.retention import apply_event_watermark, event_watermark
    from ..sources.snapshots import layout_parquet
    from ..sources.state import warehouse

    path = warehouse(spark, sf_dir).dated_events
    if path:
        df = layout_parquet(spark, path)
        wm = event_watermark(spark, sf_dir)
        if wm is not None:
            # the derived day-partition conjunct must apply BEFORE the
            # projection drops event_day_p — Spark prunes hive
            # directories from partition-column predicates only
            df = df.filter(F.col("event_day_p") >= wm[:10])
        df = df.select(*_EVENT_COLS)
    else:
        df = table(spark, sf_dir, "events")
    return apply_event_watermark(spark, sf_dir, df)

# ---------------------------------------------------------------------------
# The logical query specs.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Pred:
    """One filter predicate ``col <op> value``; ``cast`` optionally
    casts the literal (e.g. "timestamp") before comparison. For
    ``op="in"`` the value is a tuple of literals (SQL IN-list)."""

    col: str
    op: str  # one of <=, <, >=, >, =, !=, between, in
    value: object
    cast: str | None = None

    def cols(self) -> frozenset[str]:
        return frozenset({self.col})

    def leaves(self) -> Iterable[Pred]:
        yield self

    def rename(self, old: str | None, new: str | None) -> Pred:
        """This predicate with column ``old`` read as ``new``."""
        return dataclasses.replace(self, col=new) if self.col == old else self

    def column(self) -> Column:
        c = F.col(self.col)
        if self.op == "between":
            lo, hi = self.value  # type: ignore[misc]
            lo_c, hi_c = F.lit(lo), F.lit(hi)
            if self.cast:
                lo_c, hi_c = lo_c.cast(self.cast), hi_c.cast(self.cast)
            return c.between(lo_c, hi_c)
        if self.op == "in":
            lits = [F.lit(v) for v in self.value]  # type: ignore[union-attr]
            if self.cast:
                lits = [l.cast(self.cast) for l in lits]
            return c.isin(*lits)
        lit = F.lit(self.value)
        if self.cast:
            lit = lit.cast(self.cast)
        return {
            "<=": c <= lit,
            "<": c < lit,
            ">=": c >= lit,
            ">": c > lit,
            "=": c == lit,
            "!=": c != lit,
        }[self.op]


@dataclass(frozen=True)
class BoolPred:
    """A boolean combination of predicates: ``op`` ∈ {"and", "or",
    "not"} over child Pred/BoolPred nodes. Folding stays exact on any
    projection whose group keys cover EVERY referenced column — an
    arbitrary boolean function of group-key columns is constant within
    a group, so it keeps or drops whole groups, never part of one
    (same argument as a single group-key comparison). SQL three-valued
    logic is preserved because Spark's and DuckDB's Column algebra
    both implement it (NULL ⇒ row filtered, under NOT too)."""

    op: str
    children: tuple  # of Pred | BoolPred

    def cols(self) -> frozenset[str]:
        return frozenset(leaf.col for leaf in self.leaves())

    def leaves(self) -> Iterable[Pred]:
        for ch in self.children:
            yield from ch.leaves()

    def rename(self, old: str | None, new: str | None) -> BoolPred:
        return BoolPred(self.op, tuple(ch.rename(old, new) for ch in self.children))

    def column(self) -> Column:
        cols = [ch.column() for ch in self.children]
        if self.op == "not":
            (only,) = cols
            return ~only
        if self.op == "and":
            out = cols[0]
            for c in cols[1:]:
                out = out & c
            return out
        if self.op == "or":
            out = cols[0]
            for c in cols[1:]:
                out = out | c
            return out
        raise ValueError(f"unsupported boolean op {self.op!r}")


@dataclass(frozen=True)
class AggCall:
    """One output aggregate: ``fn`` over measure ``measure`` AS
    ``alias``. fn ∈ {sum, avg, count, count_star, min, max,
    count_distinct, approx_distinct} — the last two take an ATTRIBUTE
    column as ``measure`` (approx_distinct is the engine-level
    sketch-backed distinct count; no SQL spelling, rows-only checks)."""

    fn: str
    measure: str | None
    alias: str


@dataclass(frozen=True)
class AggQuery:
    """A grouped-aggregate query over the lineitem star, in logical
    form. ``group_by``/filter columns may be lineitem-local attributes
    or attributes of the arms the spec declares; the router (or the
    raw fallback) supplies whatever joins they need. Results are
    ordered by the grouping key (the engine's §2.4 total-order
    contract).

    ``truncs`` declares derived time-grain grouping keys: each
    ``(alias, unit, source_col)`` computes ``date_trunc(unit,
    source_col) AS alias`` and ``alias`` may then appear in
    ``group_by``. A trunc key is a pure function of its source column,
    so a projection storing the source at finer grain subsumes it —
    monthly revenue re-aggregates the day-grained cube exactly (coarser
    groups are unions of whole stored groups; all measures are
    monoids).

    ``aggs`` may be EMPTY: that is the DISTINCT shape — the distinct
    grouping-key combinations of the (filtered) input, no measures.
    It folds onto any projection whose keys cover the query's, because
    every raw row maps to exactly one stored group (DISTINCT over raw
    rows ≡ DISTINCT over the projection of stored group keys).

    ``chain``, ``part`` and ``supp`` declare the arm set
    (:meth:`arms`): ``chain`` counts how far down the order chain
    (orders → customer → nation → region) the query JOINS, ``None``
    meaning "the minimal chain that reaches every referenced
    attribute" — the common case; ``part``/``supp`` declare the part
    and supplier arms. A declared join is semantically meaningful
    whether or not its attributes are used: each inner join may drop
    fact rows with no matching dimension row, and the router never
    assumes foreign-key integrity, so ``SUM(revenue)`` over the
    declared 5-table join is a different query than over bare
    lineitem. The SQL front door sets the fields from the statement's
    actual join list (:meth:`of`; a minimal chain stays None, so
    specs compare structurally)."""

    table: ClassVar[str] = "lineitem"

    filters: tuple  # of Pred | BoolPred, implicitly conjoined
    group_by: tuple[str, ...]
    aggs: tuple[AggCall, ...]
    truncs: tuple[tuple[str, str, str], ...] = ()
    chain: int | None = None
    part: bool = False
    supp: bool = False

    def group_sources(self) -> dict[str, str]:
        """group name -> underlying attribute (itself, unless a trunc
        alias, in which case the trunc's source column)."""
        tm = {alias: col for alias, _unit, col in self.truncs}
        return {g: tm.get(g, g) for g in self.group_by}

    def arms(self) -> tuple[str, ...]:
        """The declared arm set, in model order."""
        chain = minimal_chain(self) if self.chain is None else self.chain
        return star_arms(chain, self.part, self.supp)

    @staticmethod
    def arm_fields(arms: Iterable[str]) -> dict:
        """The spec fields that declare ``arms``."""
        arms = set(arms)
        return {
            "chain": len(arms & set(_CHAIN)),
            "part": "part" in arms,
            "supp": "supplier" in arms,
        }

    @classmethod
    def of(cls, table: str, arms, filters, group_by, aggs, truncs) -> AggQuery:
        """The spec joining ``arms``, its chain normalized to None when
        minimal."""
        fields = cls.arm_fields(arms)
        chain = fields.pop("chain")
        spec = cls(filters, group_by, aggs, truncs, **fields)
        return spec if minimal_chain(spec) == chain else dataclasses.replace(spec, chain=chain)


@dataclass(frozen=True)
class TableAggQuery:
    """A grouped/global aggregate (or DISTINCT shape when ``aggs`` is
    empty) over ONE corpus fact table. ``truncs`` declares derived
    time-grain keys exactly like AggQuery. ``dims`` declares the arm
    set: each a row-preserving registry arm of ``table``, so the
    declared inner join attaches per-group constants of the fact's
    join key."""

    table: str
    filters: tuple  # of Pred | BoolPred, implicitly conjoined
    group_by: tuple[str, ...]
    aggs: tuple[AggCall, ...]
    truncs: tuple[tuple[str, str, str], ...] = ()
    dims: tuple[str, ...] = ()

    group_sources = AggQuery.group_sources

    def arms(self) -> tuple[str, ...]:
        return self.dims

    @staticmethod
    def arm_fields(arms: Iterable[str]) -> dict:
        return {"dims": tuple(arms)}

    @classmethod
    def of(cls, table: str, arms, filters, group_by, aggs, truncs) -> TableAggQuery:
        return cls(table, filters, group_by, aggs, truncs, **cls.arm_fields(arms))


@dataclass(frozen=True)
class ScanQuery:
    """A projection+filter query over lineitem rows (no aggregation).
    The router picks the physical LAYOUT to scan; content is identical
    whichever layout answers (clustering is sort order, not content).
    Like every scan spec it validates as a spec whose projected
    columns are its keys, with no arms, truncs or aggregates."""

    table: ClassVar[str] = "lineitem"
    truncs: ClassVar[tuple] = ()
    aggs: ClassVar[tuple] = ()

    columns: tuple[str, ...]
    filters: tuple[Pred, ...]

    def group_sources(self) -> dict[str, str]:
        return {c: c for c in self.columns}

    def arms(self) -> tuple[str, ...]:
        return ()

    @classmethod
    def of(cls, table: str, columns, filters) -> ScanQuery:
        return cls(columns, filters)


@dataclass(frozen=True)
class TableScanQuery:
    """A projection+filter query over corpus-table rows (no
    aggregation). The router picks the physical LAYOUT; content is
    identical whichever layout answers. Filters may be Pred or
    BoolPred trees (applied row-level either way); only TOP-LEVEL
    plain Preds participate in layout selection and bound derivation."""

    truncs: ClassVar[tuple] = ()
    aggs: ClassVar[tuple] = ()

    table: str
    columns: tuple[str, ...]
    filters: tuple  # of Pred | BoolPred, implicitly conjoined

    group_sources = ScanQuery.group_sources
    arms = ScanQuery.arms

    @classmethod
    def of(cls, table: str, columns, filters) -> TableScanQuery:
        return cls(table, columns, filters)


def apply_truncs(
    df: DataFrame, q, sources: frozenset[str] | None = None
) -> DataFrame:
    """Materialize the query's derived time-grain keys — all of them,
    or (on the raw path, where fact-sourced keys must exist BELOW the
    partial aggregation and arm-sourced keys only exist after the arm
    join) just those whose source is in ``sources``."""
    for alias, unit, col in q.truncs:
        if sources is None or col in sources:
            df = df.withColumn(alias, F.date_trunc(unit, F.col(col)))
    return df


def _used_cols(q) -> set[str]:
    """Every column the query touches: grouping sources (through
    trunc aliases), all filter columns, COUNT(DISTINCT)/approx targets
    (the aggregates whose input is an attribute, so they take part in
    reach and coverage reasoning like a group key), and each
    aggregated measure's source column."""
    t = FACT_TABLES.get(q.table)
    used = set(q.group_sources().values())
    for f in q.filters:
        used |= f.cols()
    for a in q.aggs:
        if a.fn in ("count_distinct", "approx_distinct"):
            if a.measure:
                used.add(a.measure)
        elif t and a.measure in t.measures and t.measures[a.measure].source_col:
            used.add(t.measures[a.measure].source_col)
    return used


def minimal_chain(q: AggQuery) -> int:
    """The shallowest order chain that reaches every referenced
    attribute (0 when the query needs no order-chain arm)."""
    return max((DIM_ATTRS.get(c, 0) for c in _used_cols(q)), default=0)


# ---------------------------------------------------------------------------
# The table model: measures, fact tables and their arms.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Measure:
    """A measure of a fact table: its raw int64 expression (the SAME
    arithmetic everywhere — query time in the raw plan, deploy time in
    the projections), the divisor back to the measure's unit (10^k for
    fixed-point money, read back as DOUBLE; 1 for an integer measure,
    whose sums stay exact BIGINT), and the source column whose non-null
    count backs COUNT/AVG (None for derived products, which have no
    single source column). A measure whose source column lives on an
    arm only exists after that arm's join, so it forces the row-level
    plan and computes post-join; SQL semantics are the JOIN's (an
    order-level SUM(o_totalprice) is weighted by lineitem
    multiplicity, exactly what the statement says)."""

    name: str
    raw_int: Callable[[], Column]
    divisor: int
    source_col: str | None
    # the column of the bucketed lineitem layout that stores raw_int()
    # at rest (sources/bucketed.py _lineitem_with_derived); the spine
    # plan and the user-view build read it instead of recomputing
    derived: str | None = None


@dataclass(frozen=True)
class Arm:
    """A dimension table of a fact table's model, joined INNER on
    ``parent``'s ``parent_key`` == its ``dim_key``; ``parent`` is the
    fact or another arm. ``attrs`` are the columns it exposes (its
    join keys are not among them) and ``open`` reads it.

    ``strategy`` is the query-time join strategy as data: "broadcast"
    (registry- or KB-sized sides), "shuffle_hash" (the orders arm:
    bucket-aligned with the fact, its per-task hash side is one
    bucket), or None (Catalyst/AQE decide: the part and supplier arms
    flip between broadcast and shuffle with scale).

    ``row_preserving`` marks the engine's complete 1:1 registries
    (sources/corpus_cubes.py keeps them complete over the fact's key
    values, one row per key): their inner join neither drops nor
    duplicates fact rows, so a cube storing the fact key answers their
    attributes by joining its groups. Every other arm must match the
    cube's build exactly. ``view_cols`` is a registry's column order,
    which the engine's dim-view bookkeeping compares
    (Engine._ensure_dim_views), and ``derive`` derives a registry's rows
    from a frame of its parent fact (sources/corpus_cubes.py deploys
    and refreshes every registry through it)."""

    name: str
    parent: str
    parent_key: str
    dim_key: str
    attrs: frozenset[str]
    open: Callable[[SparkSession, str], DataFrame]
    strategy: str | None = None
    row_preserving: bool = False
    view_cols: tuple[str, ...] = ()
    derive: Callable[[DataFrame], DataFrame] | None = None

    @property
    def fact_key(self) -> str:
        """The fact column a registry arm joins on (its parent is the
        fact)."""
        return self.parent_key


@dataclass(frozen=True)
class FactTable:
    """One routable fact table, declared as data: its actual column set
    (unknown references refuse in :func:`validate`, never an
    AnalysisException at plan time), its measures, the timestamp
    columns (its own or its arms') that may source date_trunc keys, its
    arms in model order (parents before children), its CURRENT
    relation, and the spec types the SQL front door builds for it."""

    name: str
    columns: frozenset[str]
    measures: dict[str, Measure]
    ts_cols: frozenset[str]
    arms: dict[str, Arm]
    current: Callable[[SparkSession, str], DataFrame]
    agg_spec: type
    scan_spec: type

    def owner(self, col: str) -> Arm | None:
        """The arm exposing ``col`` (None for a fact column)."""
        return next((a for a in self.arms.values() if col in a.attrs), None)

    def lineage(self, name: str) -> tuple[str, ...]:
        """The arms from the fact down to arm ``name``, in join order."""
        out = [name]
        while self.arms[out[0]].parent != self.name:
            out.insert(0, self.arms[out[0]].parent)
        return tuple(out)

    def home(self, col: str) -> str | None:
        """The top-level arm whose join carries ``col`` (None for a
        fact column)."""
        a = self.owner(col)
        return self.lineage(a.name)[0] if a else None

    def reach(self, cols: Iterable[str]) -> tuple[str, ...]:
        """The arms, in model order, a plan joins to reach every column
        of ``cols``: each column's arm and that arm's ancestors."""
        need = {n for c in cols if (a := self.owner(c)) for n in self.lineage(a.name)}
        return tuple(n for n in self.arms if n in need)

    def local(self, m: Measure) -> bool:
        """Whether ``m`` computes from fact columns alone."""
        return m.source_col is None or m.source_col in self.columns


def _rev() -> Column:
    return cents("l_extendedprice") * (100 - cents("l_discount"))


MEASURES: dict[str, Measure] = {
    m.name: m
    for m in (
        Measure("quantity", lambda: cents("l_quantity"), 100, "l_quantity",
                derived="l_qty_i"),
        Measure("base_price", lambda: cents("l_extendedprice"), 100,
                "l_extendedprice", derived="l_price_i"),
        Measure("discount", lambda: cents("l_discount"), 100, "l_discount",
                derived="l_disc_i"),
        Measure("revenue", _rev, 10_000, None, derived="l_rev_i"),
        Measure("charge", lambda: _rev() * (100 + cents("l_tax")), 1_000_000,
                None, derived="l_charge_i"),
        Measure("order_total", lambda: cents("o_totalprice"), 100, "o_totalprice"),
        Measure("cust_acctbal", lambda: cents("c_acctbal"), 100, "c_acctbal"),
        Measure("part_retail", lambda: cents("p_retailprice"), 100, "p_retailprice"),
        Measure("supp_acctbal", lambda: cents("s_acctbal"), 100, "s_acctbal"),
    )
}


def _opener(name: str) -> Callable[[SparkSession, str], DataFrame]:
    return lambda spark, sf_dir: table(spark, sf_dir, name)


def _open_versioned(deploy: Callable[[SparkSession, str], str]):
    """The opener of a versioned engine table (a registry or a cube):
    its current deployed version."""

    def _open(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.snapshots import versioned_parquet

        return versioned_parquet(spark, deploy(spark, sf_dir))

    return _open


LINEITEM = FactTable(
    name="lineitem",
    # the fixture's ACTUAL schema — listing columns the table doesn't
    # have would let a spec validate and then die with an
    # AnalysisException at plan time
    columns=frozenset(
        {
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate",
        }
    ),
    measures=MEASURES,
    ts_cols=frozenset({"l_shipdate", "o_orderdate"}),
    arms={
        a.name: a
        for a in (
            # orders come from the MAINTAINED relation so post-ingest
            # raw plans see the corpus the projections describe
            Arm("orders", "lineitem", "l_orderkey", "o_orderkey",
                frozenset({"o_orderstatus", "o_orderpriority", "o_orderdate",
                           "o_totalprice"}),
                current_orders, "shuffle_hash"),
            # customer/nation/region broadcast: each orders of magnitude
            # smaller than the fact side
            Arm("customer", "orders", "o_custkey", "c_custkey",
                frozenset({"c_mktsegment", "c_acctbal"}), _opener("customer"),
                "broadcast"),
            Arm("nation", "customer", "c_nationkey", "n_nationkey",
                frozenset({"n_name"}), _opener("nation"), "broadcast"),
            Arm("region", "nation", "n_regionkey", "r_regionkey",
                frozenset({"r_name"}), _opener("region"), "broadcast"),
            # no hint on part/supplier: AQE picks broadcast while the
            # (filtered) side fits and shuffles past that — measured at
            # sf5 on the part arm: broadcast 0.96 s / shuffle 1.44 s for
            # the row-level form, and the right choice flips with scale
            Arm("part", "lineitem", "l_partkey", "p_partkey",
                frozenset({"p_name", "p_brand", "p_type", "p_size",
                           "p_retailprice"}),
                _opener("part")),
            # s_nationkey is deliberately NOT exposed: a supplier→nation
            # arm would make n_name reachable by two join paths
            # (customer-nation vs supplier-nation) with different
            # semantics — an ambiguity the matcher must not paper over
            Arm("supplier", "lineitem", "l_suppkey", "s_suppkey",
                frozenset({"s_name", "s_acctbal"}), _opener("supplier")),
        )
    },
    current=current_lineitem,
    agg_spec=AggQuery,
    scan_spec=ScanQuery,
)

FACT_TABLES: dict[str, FactTable] = {
    t.name: t
    for t in (
        LINEITEM,
        FactTable(
            name="documents",
            columns=frozenset(_DOC_COLS),
            measures={
                m.name: m
                for m in (
                    Measure("chars", lambda: F.col("n_chars"), 1, "n_chars"),
                    Measure("tokens", doc_token_count, 1, "text"),
                    Measure("stopwords", doc_stopword_count, 1, "text"),
                )
            },
            ts_cols=frozenset(),
            arms={
                "sources": Arm(
                    "sources", "documents", "source", "src_id",
                    frozenset({"s_kind", "s_tier"}),
                    _open_versioned(sources_dim_table),
                    "broadcast", row_preserving=True,
                    view_cols=("src_id", "s_kind", "s_tier"),
                    derive=sources_dim_frame,
                ),
            },
            current=current_documents,
            agg_spec=TableAggQuery,
            scan_spec=TableScanQuery,
        ),
        FactTable(
            name="events",
            columns=frozenset(_EVENT_COLS),
            measures={"value": Measure("value", lambda: cents("value"), 100, "value")},
            ts_cols=frozenset({"ts"}),
            # the events star's registry arm: the hourly cube stores
            # event_type, so taxonomy groupings fold onto it the same
            # way sources attrs fold onto the docs cube
            arms={
                "event_types": Arm(
                    "event_types", "events", "event_type", "et_id",
                    frozenset({"e_category"}),
                    _open_versioned(event_types_dim_table),
                    "broadcast", row_preserving=True,
                    view_cols=("et_id", "e_category"),
                    derive=event_types_dim_frame,
                ),
            },
            current=current_events,
            agg_spec=TableAggQuery,
            scan_spec=TableScanQuery,
        ),
    )
}

# The corpus fact tables (documents and events), and their registry
# arms.
CORPUS_TABLES = {n: t for n, t in FACT_TABLES.items() if t.agg_spec is TableAggQuery}
CORPUS_DIMS = {a.name: a for t in CORPUS_TABLES.values() for a in t.arms.values()}


def current_corpus_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    t = CORPUS_TABLES.get(name)
    return t.current(spark, sf_dir) if t else table(spark, sf_dir, name)


# The order chain, as AggQuery.chain counts it.
_CHAIN = LINEITEM.lineage("region")


def star_arms(chain: int, part: bool = False, supp: bool = False) -> tuple[str, ...]:
    """The lineitem arm set of a chain depth and the part/supplier
    flags, in model order."""
    return _CHAIN[:chain] + ("part",) * part + ("supplier",) * supp


# Names derived from the model, for callers that read the lineitem
# star's column sets: each order-chain attribute keyed by the chain
# depth that reaches it, the part and supplier attributes.
DIM_ATTRS: dict[str, int] = {
    c: len(LINEITEM.lineage(n)) for n in _CHAIN for c in LINEITEM.arms[n].attrs
}
PART_ATTRS = LINEITEM.arms["part"].attrs
SUPP_ATTRS = LINEITEM.arms["supplier"].attrs

# Units whose truncation Spark and DuckDB agree on ('week' differs:
# ISO vs locale conventions), all hour or coarser — so a stored hour
# key re-aggregates every one exactly:
# date_trunc(u, date_trunc('hour', ts)) == date_trunc(u, ts).
TRUNC_UNITS = frozenset({"hour", "day", "month", "quarter", "year"})
# plain range predicates: the conjuncts the scan router chooses
# clustered layouts from
_RANGE_OPS = frozenset({"<=", "<", ">=", ">", "=", "between", "in"})


@dataclass(frozen=True)
class ScanLayout:
    """A clustered row-level layout of a fact table, declared as data:
    the table's rows in another physical order and partitioning, so the
    rows are identical whichever layout answers a scan. A scan spec
    selects it when every column it uses is stored (``columns``; None:
    every column of the table) and one of its TOP-LEVEL conjuncts is a
    plain range predicate on a ``keys`` column — a disjunction
    containing one is not guaranteed selective.

    ``deploy`` deploys the layout (memoized) and returns its path.
    ``bounds`` derives a superset constraint on the partition column
    from the spec's predicates: it prunes directories, and a derivation
    bug can only over-read, because the exact row filters run after.
    ``subtract`` removes the rows the layout still stores but the table
    no longer holds (tombstoned keys until the scheduled OPTIMIZE
    rewrite, expired events); it applies after the bounds conjunct."""

    name: str
    table: str
    columns: frozenset[str] | None
    keys: frozenset[str]
    deploy: Callable[[SparkSession, str], str]
    subtract: Callable[[SparkSession, str, DataFrame], DataFrame]
    bounds: Callable[[tuple], Column | None] | None = None

    def serves(self, q) -> bool:
        return (
            q.table == self.table
            and (self.columns is None or _used_cols(q) <= self.columns)
            and any(
                isinstance(p, Pred) and p.col in self.keys and p.op in _RANGE_OPS
                for p in q.filters
            )
        )

    def open(self, spark: SparkSession, sf_dir: str, q) -> DataFrame:
        from ..sources.snapshots import layout_parquet

        df = layout_parquet(spark, self.deploy(spark, sf_dir))
        prune = self.bounds(q.filters) if self.bounds else None
        if prune is not None:
            df = df.filter(prune)
        return self.subtract(spark, sf_dir, df)


def _tombstoned(table_name: str, key_col: str | None = None):
    """A layout's subtraction of ``table_name``'s tombstoned keys (S19)."""

    def _subtract(spark: SparkSession, sf_dir: str, df: DataFrame) -> DataFrame:
        from ..sources.retention import apply_tombstones

        return apply_tombstones(spark, sf_dir, table_name, df, key_col)

    return _subtract


def _unexpired(spark: SparkSession, sf_dir: str, df: DataFrame) -> DataFrame:
    """The S19b watermark on the day-partitioned events: expired rows
    subtract, and the derived day-partition conjunct prunes whole
    expired directories."""
    from ..sources.retention import event_watermark

    wm = event_watermark(spark, sf_dir)
    if wm is None:
        return df
    return df.filter(
        (F.col("event_day_p") >= wm[:10]) & (F.col("ts") >= F.lit(wm).cast("timestamp"))
    )


# The scan router's catalog, in precedence order.
SCAN_LAYOUTS: tuple[ScanLayout, ...] = (
    # S12: row-group skipping on BOTH curve keys — 250x fewer rows
    # materialized at sf5 (tests/test_zorder.py)
    ScanLayout(
        "zorder_lineitem", "lineitem", frozenset(ZORDER_COLS), frozenset(ZORDER_KEYS),
        zordered_lineitem, _tombstoned("orders", "l_orderkey"),
    ),
    # S14: time-slice scans prune ship-month directories, then skip
    # shipdate row groups inside kept months (tests/test_dated.py)
    ScanLayout(
        "dated_lineitem", "lineitem", None, frozenset({"l_shipdate"}),
        dated_lineitem, _tombstoned("orders", "l_orderkey"), month_bounds_filter,
    ),
    # the S14 treatment at DAY grain: an event log is written
    # continuously and queried in short windows, so "yesterday's
    # errors" opens one directory out of the corpus's thousands
    ScanLayout(
        "dated_events", "events", None, frozenset({"ts"}),
        dated_events, _unexpired, day_bounds_filter,
    ),
    # S18: lang is a REAL hive partition column, so the plain row
    # filter prunes directories by itself (no derived bounds);
    # source/n_chars predicates skip via the in-partition range sort's
    # min-max stats
    ScanLayout(
        "clustered_documents", "documents", None, frozenset({"lang", "source"}),
        clustered_documents, _tombstoned("documents"),
    ),
)


def validate(q) -> FactTable:
    """Structural validation of any spec against its table's model;
    raises ValueError (the router's refusal currency) on anything
    outside it: an unknown table, arm or measure, a trunc over a
    non-timestamp column or an unsupported unit, a column the table
    and its declared arms do not have. Called once, at each router's
    entry."""
    t = FACT_TABLES.get(q.table)
    if t is None:
        raise ValueError(f"unknown corpus table {q.table!r}")
    arms = q.arms()
    for name in arms:
        if name not in t.arms:
            raise ValueError(f"dim {name!r} does not join table {q.table!r}")
    for _alias, unit, col in q.truncs:
        if col not in t.ts_cols:
            raise ValueError(f"date_trunc over non-timestamp column {col!r}")
        if unit not in TRUNC_UNITS:
            raise ValueError(f"unsupported trunc unit {unit!r}")
    reachable = t.columns.union(*(t.arms[n].attrs for n in arms))
    for c in sorted(_used_cols(q) - reachable):
        a = t.owner(c)
        if a is None:
            raise ValueError(f"unknown column {c!r} on table {q.table!r}")
        raise ValueError(
            f"column {c!r} is unknown without the {a.name} join, which "
            "the declared joins cannot reach"
        )
    for a in q.aggs:
        if a.fn not in ("count_star", "count_distinct", "approx_distinct") and (
            a.measure not in t.measures
        ):
            raise ValueError(f"unknown measure {a.measure!r} on {q.table!r}")
    return t


def _hinted(df: DataFrame, strategy: str | None, hash_hints: bool) -> DataFrame:
    if strategy == "broadcast":
        return F.broadcast(df)
    if strategy == "shuffle_hash" and hash_hints:
        return df.hint("shuffle_hash")
    return df


def join_arms(
    spark: SparkSession,
    sf_dir: str,
    df: DataFrame,
    t: FactTable,
    arms: Iterable[str],
    cols: Iterable[str],
    opened: Mapping[str, DataFrame] | None = None,
    hash_hints: bool = True,
) -> DataFrame:
    """``df`` (rows carrying the fact's join keys) INNER-joined to each
    declared top-level arm of ``t``, in model order. Each arm's side
    is the arm (``opened`` overrides its frame) with its declared
    descendants joined onto it in model order, projected to its key
    and the columns of ``cols`` its subtree carries; every join uses
    the joined arm's strategy. ``hash_hints=False`` drops the
    shuffle_hash hint: a per-task hash relation cannot spill, so the
    deploy and refresh builds join sort-merge (measured on the segment
    cube at sf20 — sources/user_projections.py _keyed)."""
    arms = set(arms)
    cols = list(cols)
    opened = opened or {}
    for a in t.arms.values():
        if a.parent != t.name or a.name not in arms:
            continue
        side = opened[a.name] if a.name in opened else a.open(spark, sf_dir)
        for d in t.arms.values():
            if d is not a and d.name in arms and t.lineage(d.name)[0] == a.name:
                dim = d.open(spark, sf_dir)
                side = side.join(
                    _hinted(dim, d.strategy, hash_hints),
                    F.col(d.parent_key) == dim[d.dim_key],
                )
        side = side.select(a.dim_key, *[c for c in cols if t.home(c) == a.name])
        df = df.join(
            _hinted(side, a.strategy, hash_hints), F.col(a.parent_key) == side[a.dim_key]
        )
    return df


# ---------------------------------------------------------------------------
# The projection engine, shared by every fact table: one stored-measure
# descriptor, one aggregate-expression builder, one projection type
# with one subsumption test and one build, one candidate loop
# (:func:`route`). The tables differ only in descriptor and measure
# fields (docs/DECISIONS.md).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _StoredMeasure:
    """Where the partial states of one measure live: the int64 partial
    sum, the non-null count (COUNT/AVG support), the int64 partial
    min/max (MIN/MAX support). A cube stores them per group; a raw plan
    names the row-level or per-key partial columns it computed."""

    measure: Measure
    int_col: str
    cnt_col: str | None
    min_col: str | None = None
    max_col: str | None = None

    @classmethod
    def of(
        cls, m: Measure, stem: str | None = None, cnt_col: str | None = None
    ) -> _StoredMeasure:
        """The standard partial columns of ``m``: ``{stem}_i``,
        ``min_{stem}_i`` and ``max_{stem}_i`` (stem: the measure's name
        unless given) and, when ``m`` has a source column, the count
        ``cnt_col`` (default ``cnt_{name}``). Every user view stores
        ``of(m)`` (sources/user_projections.py)."""
        stem = stem or m.name
        cnt = (cnt_col or f"cnt_{m.name}") if m.source_col else None
        return cls(m, f"{stem}_i", cnt, f"min_{stem}_i", f"max_{stem}_i")


def _row_level(
    model: Mapping[str, Measure],
    int_cols: dict[str, str],
    cnt_cols: dict[str, str | None],
) -> dict[str, _StoredMeasure]:
    """A raw plan's row-level aggregate inputs: each measure's sum, min
    and max read its int column, its count counts its source column."""
    return {
        m: _StoredMeasure(model[m], c, cnt_cols.get(m), c, c)
        for m, c in int_cols.items()
    }


def _unscaled(v: Column, divisor: int) -> Column:
    """An aggregated int64 partial in its measure's unit: DOUBLE over
    the divisor, or the exact BIGINT of an integer measure. Scaling to
    fixed point is monotone, so it commutes with MIN/MAX: the min over
    stored partial mins equals the min over the raw rows."""
    return v if divisor == 1 else v.cast("double") / divisor


def agg_exprs(
    q,
    stored: Mapping[str, _StoredMeasure],
    cnt_star: str | None,
    sketches: Mapping[str, str] | None = None,
) -> list[Column]:
    """The output aggregate expressions of ``q`` (an :class:`AggQuery`
    or a corpus ``TableAggQuery``), computed from int64 inputs — the
    one builder every cube build and raw plan shares. ``stored`` says
    where each measure's sum/count/min/max inputs live.

    ``cnt_star`` names a partial-count column when the input rows are
    themselves partial aggregates (a cube, the per-order star partial);
    counts then re-derive as SUMs of partial counts, coalesced to 0 —
    SQL COUNT over an empty input is 0 but SUM of no partials is NULL
    (grouped queries can't hit it; a filtered global aggregate can).
    Without it, counts are row-level. ``sketches`` maps approx_distinct
    targets to stored HLL sketch partials, union-merged then estimated;
    without one the rows are sketched directly — the two agree exactly
    because HLL union is register-max. COUNT(DISTINCT) computes
    directly wherever its target survives to the aggregation input (a
    stored group key, or a partial-aggregation key)."""

    def count(col) -> Column:
        if cnt_star:
            return F.coalesce(F.sum(col), F.lit(0).cast("long"))
        return F.count(col)

    exprs = []
    for a in q.aggs:
        if a.fn == "count_distinct":
            e = F.countDistinct(F.col(a.measure))
        elif a.fn == "approx_distinct":
            if sketches and a.measure in sketches:
                sk = F.hll_union_agg(sketches[a.measure])
            else:
                sk = F.hll_sketch_agg(F.col(a.measure))
            e = F.hll_sketch_estimate(sk)
        elif a.fn == "count_star":
            e = count(cnt_star or F.lit(1))
        elif a.fn in ("sum", "min", "max", "count", "avg"):
            sm = stored[a.measure]  # type: ignore[index]
            d = sm.measure.divisor
            if a.fn == "sum":
                e = _unscaled(F.sum(sm.int_col), d)
            elif a.fn == "min":
                e = _unscaled(F.min(sm.min_col), d)
            elif a.fn == "max":
                e = _unscaled(F.max(sm.max_col), d)
            elif a.fn == "count":
                e = count(sm.cnt_col)
            else:
                s = F.sum(sm.int_col).cast("double")
                n = F.sum(sm.cnt_col) if cnt_star else F.count(sm.cnt_col)
                e = (s if d == 1 else s / d) / n
        else:
            raise ValueError(f"unsupported aggregate fn {a.fn!r}")
        exprs.append(e.alias(a.alias))
    return exprs


def _grouped(df: DataFrame, q, exprs: list[Column]) -> DataFrame:
    """``df`` aggregated by the query's keys, in key order (an empty
    group_by is a global aggregate: one row, nothing to order)."""
    out = df.groupBy(*q.group_by).agg(*exprs)
    return out.orderBy(*q.group_by) if q.group_by else out


def _distinct(df: DataFrame, q) -> DataFrame:
    """The DISTINCT shape (no aggregates): the key combinations."""
    return df.select(*q.group_by).distinct().orderBy(*q.group_by)


# GRAIN-BOUNDARY TIME FOLDING (module docstring): a
# ts leaf folds onto a stored hour key when it is a row-set
# equivalence on it — ``>=``/``<`` an hour-boundary literal; <=, =
# and between are sub-grain and never fold.
_HOUR_BOUNDARY = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:00:00$")
_TS_FOLD_OPS = frozenset({">=", "<"})


def _ts_pred_folds(p: Pred) -> bool:
    return (
        p.op in _TS_FOLD_OPS
        and p.cast == "timestamp"
        and isinstance(p.value, str)
        and bool(_HOUR_BOUNDARY.match(p.value))
    )


def _joined(t: FactTable, arms: Iterable[str]) -> frozenset[str]:
    """The arms of ``arms`` that may change the row population (every
    arm but the row-preserving registries)."""
    return frozenset(n for n in arms if not t.arms[n].row_preserving)


@dataclass(frozen=True)
class Projection:
    """One deployed cube the router may answer from, over ``table``:
    the group keys it stores (grouping/filter domain), its stored
    measure partials, its COUNT(*) column, and how to open it. Catalog
    ORDER steers among cubes that all subsume a query: earlier claims
    first. Every difference between fact tables is a field here, a
    field of the query spec, a measure field or the table model
    (docs/DECISIONS.md)."""

    name: str
    table: str
    attrs: frozenset[str]
    measures: dict[str, _StoredMeasure]
    count_star_col: str
    open: Callable[[SparkSession, str], DataFrame]
    # approx_count_distinct support: target column -> stored HLL
    # sketch partial (register-max-mergeable, so the cube answers
    # distinct-count questions with no distinct shuffle)
    sketches: dict[str, str] | None = None
    # (stored hour-grain col, ts source col): the grain-boundary time
    # fold. The stored grain is hour everywhere — finer storage folds
    # strictly more queries while the row bound stays scale-invariant.
    time_key: tuple[str, str] | None = None
    # the arms the deploy-time build JOINED: the cube answers exactly
    # the queries declaring (or minimally implying) the same arms
    # outside the row-preserving registries — an inner join may drop
    # orphan fact rows, and the router never assumes FK integrity, so
    # chain-2 and chain-4 specs are different queries even over
    # identical attributes
    arms: tuple[str, ...] = ()

    def _foldable(self, t: FactTable, arms: tuple[str, ...]) -> frozenset[str]:
        """The attributes this cube answers for a query declaring
        ``arms``: its stored keys, plus the attributes of every
        declared row-preserving arm whose FACT KEY it stores — the join
        attaches per-key-constant attributes onto stored groups
        (joining groups == joining rows then grouping); one whose
        attributes the query doesn't reference folds vacuously."""
        out = set(self.attrs)
        for name in arms:
            a = t.arms[name]
            if a.row_preserving and a.parent_key in self.attrs:
                out |= a.attrs
        return frozenset(out)

    def subsumes(self, q) -> bool:
        if q.table != self.table:
            return False
        t = FACT_TABLES[q.table]
        arms = q.arms()
        if _joined(t, arms) != _joined(t, self.arms):
            return False
        foldable = self._foldable(t, arms)
        _time_col, ts_src = self.time_key or (None, None)
        units = {alias: unit for alias, unit, _c in q.truncs}
        # Trunc aliases resolve to their SOURCE attribute: storing the
        # finer grain is what makes the coarser grouping derivable. A
        # grain over the ts stored at hour grain folds when it is hour
        # or coarser; a sub-hour grouping must not (the raw plan
        # computes it exactly).
        for g, src in q.group_sources().items():
            if src not in foldable and not (
                src == ts_src and units.get(g) in TRUNC_UNITS
            ):
                return False
        # ANY boolean predicate tree folds exactly when every leaf is a
        # stored group key (constant within each stored group) or an
        # hour-boundary ts leaf (a row-set equivalence on the stored
        # hour key) — each leaf rewrite is exact, so it composes.
        for f in q.filters:
            for leaf in f.leaves():
                if leaf.col not in foldable and not (
                    leaf.col == ts_src and _ts_pred_folds(leaf)
                ):
                    return False
        for a in q.aggs:
            if a.fn == "count_star":
                continue
            if a.fn == "count_distinct":
                # folds iff the target is a stored group key: the
                # distinct value set within any output group over
                # stored rows equals the set over raw rows
                if (a.measure or "") not in foldable:
                    return False
                continue
            if a.fn == "approx_distinct":
                # folds iff a mergeable sketch partial is stored for
                # the target (union is register-max, so re-aggregating
                # sketches equals the single-pass sketch exactly)
                if (a.measure or "") not in (self.sketches or {}):
                    return False
                continue
            sm = self.measures.get(a.measure or "")
            if sm is None:
                return False
            if a.fn in ("count", "avg") and sm.cnt_col is None:
                return False
            if a.fn == "min" and sm.min_col is None:
                return False
            if a.fn == "max" and sm.max_col is None:
                return False
        return True

    def build(self, spark: SparkSession, sf_dir: str, q) -> DataFrame:
        df = self.open(spark, sf_dir)
        # Declared row-preserving arms attach onto the cube's groups
        # (registry-sized at any corpus scale), exact because their
        # attrs are constants of the stored fact key; one whose
        # referenced attributes the cube already STORES (a user view
        # built through it) needs no join at all.
        t = FACT_TABLES[q.table]
        referenced = sorted(
            set(q.group_sources().values())
            | {a.measure for a in q.aggs if a.fn == "count_distinct"}
            | {c for f in q.filters for c in f.cols()}
        )
        attach = [
            n for n in q.arms()
            if t.arms[n].row_preserving
            and (set(referenced) & t.arms[n].attrs) - self.attrs
        ]
        df = join_arms(spark, sf_dir, df, t, attach, referenced)
        time_col, ts_src = self.time_key or (None, None)
        # Filters BEFORE truncs: WHERE is pre-projection in SQL, so a
        # trunc alias that shadows a filtered column must not be
        # visible to the filter (the raw plans order the same way). ts
        # leaves read the stored hour key.
        for p in q.filters:
            if ts_src is not None:
                p = p.rename(ts_src, time_col)
            df = df.filter(p.column())
        for alias, unit, col in q.truncs:
            # date_trunc(u, hour) == date_trunc(u, ts) for u >= hour;
            # the hour grain itself is the stored key verbatim
            src = time_col if col == ts_src else col
            df = df.withColumn(alias, F.date_trunc(unit, F.col(src)))
        if not q.aggs:
            # DISTINCT shape: the query's key combinations are a
            # projection of the stored group keys (every raw row maps
            # to exactly one stored group), so distinct-over-stored ≡
            # distinct-over-raw.
            return _distinct(df, q)
        return _grouped(
            df, q, agg_exprs(q, self.measures, self.count_star_col, self.sketches)
        )


def _open_order_revenue_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.retention import apply_tombstones
    from ..sources.snapshots import bucketed_scan

    roll_name, den_name = order_revenue_projection(spark, sf_dir)
    # S22: pure-append refreshes make rollup/denorm APPEND layouts
    # (round 9) — inside a snapshot read, scan only the pinned files
    r = bucketed_scan(spark, sf_dir, roll_name)
    d = bucketed_scan(spark, sf_dir, den_name)
    # S19 tombstones subtract on the denorm side (the inner join then
    # drops the dead orders' rollup rows too); the rollup/denorm keep
    # deleted orders' bytes until the scheduled OPTIMIZE rewrite.
    d = apply_tombstones(spark, sf_dir, "orders", d)
    # Bucket-aligned join on the order key — zero exchanges on the
    # fact spine (same shape q39 plan-asserts in tests/test_plans.py).
    return r.join(d.hint("shuffle_hash"), r.l_orderkey == d.o_orderkey)


@dataclass(frozen=True)
class View:
    """One declared aggregate view over a fact table — a built-in cube
    (:data:`BUILTIN_VIEWS`) or a user view (sources/user_projections.py)
    — and everything its one build, refresh, affected-group recompute
    and expiry read (sources/user_projections.py): the group keys in
    stored column order, the stored measure partials, the COUNT(*)
    column, the HLL sketch partials (target column -> stored column),
    the optional hour-grain time key (stored column, ts source) and the
    arms the build joins.

    The stored columns are the keys, the time key, each measure's
    int64 sum, its non-null counts (de-duplicated by name: measures
    over one source column share one), COUNT(*), the mins, the maxes
    and the sketches, in that order. Every one is a commutative monoid
    under the refresh merge (+ for sums and counts, least/greatest for
    min/max, register-max union for sketches), so a delta merge equals
    a rebuild: bit for bit for the numeric partials, and at the
    estimate level for sketches, whose merged register state equals
    the single-pass state while the serialized sparse form may differ
    (the rebuild-equal tests compare sketch columns by estimate)."""

    name: str
    table: str
    keys: tuple[str, ...]
    measures: tuple[_StoredMeasure, ...]
    count_star_col: str = "cnt"
    sketches: dict[str, str] = dataclasses.field(default_factory=dict)
    time_key: tuple[str, str] | None = None
    arms: tuple[str, ...] = ()

    @property
    def group_cols(self) -> tuple[str, ...]:
        """The stored cube's group columns: the keys, then the time key."""
        return self.keys + ((self.time_key[0],) if self.time_key else ())

    def projection(
        self, name: str, open: Callable[[SparkSession, str], DataFrame]
    ) -> Projection:
        """The router-facing projection of this view, read through
        ``open``."""
        return Projection(
            name=name,
            table=self.table,
            attrs=frozenset(self.keys),
            measures={s.measure.name: s for s in self.measures},
            count_star_col=self.count_star_col,
            open=open,
            sketches=dict(self.sketches) or None,
            time_key=self.time_key,
            arms=self.arms,
        )


# The built-in cubes. Their stored stems predate the user views'
# ``_StoredMeasure.of`` defaults (``qty_i``/``cnt_qty`` where a user
# view stores ``quantity_i``/``cnt_quantity``; the docs cube's tokens
# and stopwords share ``cnt_text``): q46_bucketed_pricing and the
# tests read these names, so the declarations spell them out.
_PRICING_PARTIALS = (
    _StoredMeasure.of(MEASURES["quantity"], "qty", "cnt_qty"),
    _StoredMeasure.of(MEASURES["base_price"], "price", "cnt_price"),
    _StoredMeasure.of(MEASURES["discount"], "disc", "cnt_disc"),
    _StoredMeasure.of(MEASURES["revenue"], "rev"),
    _StoredMeasure.of(MEASURES["charge"], "charge"),
)
_DOC_MEASURES = CORPUS_TABLES["documents"].measures
BUILTIN_VIEWS: dict[str, View] = {
    v.name: v
    for v in (
        # The pricing cube: the lineitem money partials by (returnflag,
        # linestatus, shipdate) — ~15k rows at EVERY corpus scale, and
        # any shipdate-cutoff pricing query folds it exactly (the
        # cutoff is on a key). Per-column non-null counts keep AVG
        # denominators COUNT(col)-exact on NULL money fields. The raw
        # q01 reads 30M rows at sf5 to produce 6; the cube reads 15k.
        View(
            "pricing_cube", "lineitem",
            ("l_returnflag", "l_linestatus", "l_shipdate"), _PRICING_PARTIALS,
        ),
        # The segment cube (round 7, the q10 answer): the per-order
        # attributes with fixed domains (|segments|=5, |priorities|=5,
        # |statuses|=3) by the lineitem flags — 5x5x3x3x2 = 450 rows at
        # EVERY corpus scale. o_orderdate, the one per-order attribute
        # that grows toward the order count, stays out; dated segment
        # shapes keep the spine.
        View(
            "segment_cube", "lineitem",
            ("c_mktsegment", "o_orderpriority", "o_orderstatus",
             "l_returnflag", "l_linestatus"),
            _PRICING_PARTIALS, arms=_CHAIN,
        ),
        # The star cube: region/nation by the pricing key set — bounded
        # at |nations| x |flags| x |statuses| x |days| ≈ 375k rows
        # (nation determines region). Per-order keys would multiply
        # that toward the order count, so those shapes stay on the
        # rollup⋈denorm pair or the spine. Its HLL partials answer
        # "distinct suppliers/parts per region/period" with no
        # distinct shuffle.
        View(
            "star_date_cube", "lineitem",
            ("r_name", "n_name", "l_returnflag", "l_linestatus", "l_shipdate"),
            _PRICING_PARTIALS,
            sketches={"l_suppkey": "supp_hll", "l_partkey": "part_hll"},
            arms=_CHAIN,
        ),
        # The doc-stats cube: |langs| x |sources| rows at any scale; the
        # full-corpus tokenizer pass runs once, at deploy.
        View(
            "docs_stats_cube", "documents", ("lang", "source"),
            (
                _StoredMeasure.of(_DOC_MEASURES["chars"]),
                _StoredMeasure.of(_DOC_MEASURES["tokens"], cnt_col="cnt_text"),
                _StoredMeasure.of(_DOC_MEASURES["stopwords"], "stop", "cnt_text"),
            ),
        ),
        # The hourly event rollup: |types| x |hours| rows — hour is the
        # finest grain whose row bound stays independent of corpus
        # size, and every coarser grain and hour-boundary predicate
        # folds onto it. Its HLL partials answer distinct users.
        View(
            "events_hourly_cube", "events", ("event_type",),
            (_StoredMeasure.of(CORPUS_TABLES["events"].measures["value"]),),
            sketches={"user_id": "users_hll"},
            time_key=("event_hour", "ts"),
        ),
    )
}
# Derived names, for readers of the built-ins' stored columns.
_STAR_CUBE_KEYS = BUILTIN_VIEWS["star_date_cube"].keys
_STAR_SKETCH_COLS = tuple(BUILTIN_VIEWS["star_date_cube"].sketches.values())
_SEGMENT_CUBE_KEYS = BUILTIN_VIEWS["segment_cube"].keys
DOCS_CUBE_KEYS = BUILTIN_VIEWS["docs_stats_cube"].group_cols
EVENTS_CUBE_KEYS = BUILTIN_VIEWS["events_hourly_cube"].group_cols


def _cube(name: str, deploy: Callable[[SparkSession, str], str]) -> Projection:
    return BUILTIN_VIEWS[name].projection(name, _open_versioned(deploy))


PROJECTIONS: tuple[Projection, ...] = (
    _cube("pricing_cube", pricing_cube_table),
    # Listed before the rollup pair: when both subsume, 450 stored
    # rows beat the per-order rollup join unconditionally.
    _cube("segment_cube", segment_cube_table),
    # Round 8, A/B-remeasured: re-aggregating ≤375k scale-invariant
    # rows beats the rollup⋈denorm pair's order-grain join even on the
    # UNDATED pure-star shapes (0.195 s vs 0.671 s at sf5, 3.4x; the
    # pair scales with |orders| while the cube is flat), so the star
    # cube sits BEFORE the pair and claims every shape its keys cover.
    _cube("star_date_cube", star_date_cube_table),
    # The rollup⋈denorm pair answers any FULL-chain star query over
    # the attributes the denorm stores (region/nation names plus the
    # order- and customer-level attributes, sources/bucketed.py
    # DENORM_ATTRS) — crucially including ORDER-DATE time grains
    # (o_orderdate is stored at full per-order resolution), the family
    # neither cube can serve. Shapes the star cube's key set covers
    # are claimed above; the pair keeps the per-order-attribute +
    # order-date mix (q04's segment-by-order-month family).
    Projection(
        name="order_revenue_star",
        table="lineitem",
        attrs=frozenset(
            {"r_name", "n_name", "c_mktsegment", "o_orderstatus",
             "o_orderpriority", "o_orderdate"}
        ),
        measures={"revenue": _StoredMeasure(MEASURES["revenue"], "rev_i", None)},
        count_star_col="n_items",
        open=_open_order_revenue_star,
        arms=_CHAIN,
    ),
    # The corpus cubes: the docs cube's token and stopword partials
    # skip the tokenizer pass at query time; the hourly cube's time key
    # carries the grain-boundary fold.
    _cube("docs_stats_cube", docs_stats_cube_table),
    _cube("events_hourly_cube", events_hourly_cube_table),
)


# ---------------------------------------------------------------------------
# The raw fallback: the optimized plans q01/q26 established, built
# generically from the spec and its table's model.
# ---------------------------------------------------------------------------

_MIXED = (
    "a predicate mixing columns of different tables is not expressible "
    "in the partial-agg-below-join plan"
)


def _split(
    t: FactTable, q, local_cols: frozenset[str]
) -> tuple[list, list, list, list[str], list[str], list[str]]:
    """How ``q`` falls on the fact frame (``local_cols``) and the arms
    joined onto it later: (fact-local conjuncts, single-arm conjuncts
    in arm order, conjuncts MIXING tables, fact-side group keys,
    fact-side distinct targets, the arm columns the joins must carry —
    sorted). A mixed conjunct (e.g. ``l_quantity > 5 OR p_size < 5``)
    varies per fact row, so it applies after the joins on a row-level
    plan and cannot fold into a partial aggregate below them."""
    homes = [
        {None if c in local_cols else t.home(c) for c in f.cols()} for f in q.filters
    ]
    local = [f for f, h in zip(q.filters, homes) if h == {None}]
    on_arm = [
        f for a in t.arms for f, h in zip(q.filters, homes) if h == {a}
    ]
    mixed = [f for f, h in zip(q.filters, homes) if len(h) > 1]
    sources = q.group_sources()
    local_group = [g for g in q.group_by if sources[g] in local_cols]
    cd_cols = sorted(
        {a.measure for a in q.aggs if a.fn in ("count_distinct", "approx_distinct")}
    )
    cd_local = [c for c in cd_cols if c in local_cols]
    carried = sorted(_used_cols(q) - local_cols)
    return local, on_arm, mixed, local_group, cd_local, carried


def _raw_plan(spark: SparkSession, sf_dir: str, q) -> DataFrame:
    """The raw-table plan of any fact table's spec: fact-local filters
    and time-grain keys, then the fused pre-projection (each fact
    measure's fixed-point expression computed once per row — q01's
    measured win), then one of three shapes — no arms: the q01 shape;
    one shuffle-hash arm (the order chain) and no arm measure or
    sketch: the partial aggregate below the join; otherwise the
    row-level arm joins.

    Row-preserving arms (the registries) join first: each adds per-row
    constants of the fact key and keeps the row set, so the plan reads
    their attributes as fact columns."""
    t = FACT_TABLES[q.table]
    declared = q.arms()
    rp = [n for n in declared if t.arms[n].row_preserving]
    arms = [n for n in declared if n not in rp]
    local_cols = t.columns.union(*(t.arms[n].attrs for n in rp))
    local_filters, arm_filters, mixed, local_group, cd_local, carried = _split(
        t, q, local_cols
    )
    df = join_arms(
        spark, sf_dir, t.current(spark, sf_dir), t, rp,
        sorted(_used_cols(q) & local_cols),
    )
    for p in local_filters:
        df = df.filter(p.column())
    # Fact-sourced time-grain keys materialize below the partial
    # aggregation; arm-sourced ones (o_orderdate) only exist after the
    # arm join and are applied there.
    df = apply_truncs(df, q, local_cols)
    top = [a for a in t.arms.values() if a.parent == t.name and a.name in arms]
    join_keys = [a.parent_key for a in top]
    # the fact columns a mixed conjunct reads ride to its filter
    mixed_cols = sorted({c for f in mixed for c in f.cols()} & local_cols)

    def _attach_arms(df: DataFrame) -> DataFrame:
        """Join the declared arms, apply the arm-side and mixed
        conjuncts, and materialize arm-sourced trunc keys."""
        df = join_arms(spark, sf_dir, df, t, arms, carried)
        for p in arm_filters + mixed:
            df = df.filter(p.column())
        return apply_truncs(df, q, frozenset(carried))

    if not q.aggs:
        # DISTINCT shape. Below the joins the distinct key combinations
        # collapse to one row per (join keys, local keys) — the same
        # shuffle-shrinking idea as the partial aggregation.
        if not join_keys:
            return _distinct(df, q)
        pre = df.select(*dict.fromkeys(local_group + join_keys + mixed_cols)).distinct()
        return _distinct(_attach_arms(pre), q)

    needed = sorted(
        {
            a.measure
            for a in q.aggs
            if a.measure and a.fn not in ("count_distinct", "approx_distinct")
        }
    )
    fact_ms = [m for m in needed if t.measures[m].source_col not in carried]
    arm_ms = [m for m in needed if m not in fact_ms]
    int_cols = {m: f"__{m}_i" for m in needed}
    cnt_cols = {
        m: t.measures[m].source_col
        for m in needed
        if any(a.fn in ("count", "avg") and a.measure == m for a in q.aggs)
    }
    # Fused pre-projection: the grouping columns, the join keys, any
    # count-source / distinct-target columns, and each fact measure's
    # int64 expression. Arm measures only exist after their join and
    # compute there. dict.fromkeys: order-stable dedup (a grouping
    # column may double as a COUNT source column).
    keep = dict.fromkeys(
        local_group
        + join_keys
        + sorted(c for m, c in cnt_cols.items() if c and m in fact_ms)
        + cd_local
        + mixed_cols
    )
    pre = df.select(
        *keep, *[t.measures[m].raw_int().alias(int_cols[m]) for m in fact_ms]
    )
    row_level = _row_level(t.measures, int_cols, cnt_cols)

    if not join_keys:
        # q01 shape: scan → fused projection → one-shuffle aggregate.
        return _grouped(pre, q, agg_exprs(q, row_level, None))

    if (
        len(top) != 1
        or top[0].strategy != "shuffle_hash"
        or arm_ms
        or any(a.fn == "approx_distinct" for a in q.aggs)
    ):
        # ROW-LEVEL arm joins: a broadcast arm never shuffles the fact,
        # and when the partial key includes a high-cardinality arm key
        # (l_partkey ~ N/4 distinct values, l_suppkey dense),
        # pre-aggregation barely shrinks the fact and its hash table
        # costs more than the slimmer shuffle saves — measured at sf5
        # on the part arm: 1.44 s row-level vs 2.54 s partial
        # (docs/BENCHMARKS.md). Sketch targets are sketched over raw
        # rows. The order-chain partial below keeps its measured q26
        # win (4:1 fan-in, slim per-order rows crossing the shuffle).
        j = _attach_arms(pre)
        for m in arm_ms:
            j = j.withColumn(int_cols[m], t.measures[m].raw_int())
        return _grouped(j, q, agg_exprs(q, row_level, None))

    if mixed:
        raise ValueError(_MIXED)
    # q26 shape, generalized: partial-aggregate the fact BELOW the
    # join — keyed by the arm's join key PLUS any fact-side grouping
    # attributes, so mixed groupings fold too (every measure partial
    # is a commutative monoid, so aggregating first by the finer key
    # and re-aggregating above the join is exact) — then join the arm
    # with slim partial rows crossing the shuffle.
    min_ms = sorted({a.measure for a in q.aggs if a.fn == "min"})
    max_ms = sorted({a.measure for a in q.aggs if a.fn == "max"})
    partial = [F.sum(int_cols[m]).alias(int_cols[m]) for m in needed]
    partial += [F.count(c).alias(f"__cnt_{m}") for m, c in cnt_cols.items() if c]
    partial += [F.min(int_cols[m]).alias(f"__min_{m}") for m in min_ms]
    partial += [F.max(int_cols[m]).alias(f"__max_{m}") for m in max_ms]
    partial.append(F.count(F.lit(1)).alias("__cnt_star"))
    # fact-side COUNT(DISTINCT) targets join the partial KEY: every
    # distinct (keys, locals, target) combo survives the partial, so
    # the distinct value set above the join is exact
    agg_l = pre.groupBy(
        *dict.fromkeys(join_keys + local_group + cd_local)
    ).agg(*partial)

    # MIN/MAX commute with the partial: they re-aggregate its per-key
    # partial min/max columns
    partials = {
        m: _StoredMeasure(
            t.measures[m], int_cols[m], f"__cnt_{m}" if cnt_cols.get(m) else None,
            f"__min_{m}", f"__max_{m}",
        )
        for m in needed
    }
    return _grouped(_attach_arms(agg_l), q, agg_exprs(q, partials, "__cnt_star"))


def _spine_plan(spark: SparkSession, sf_dir: str, q) -> DataFrame | None:
    """Lower a FULL-chain query onto the bucketed at-rest spine, or
    return None when the shape doesn't qualify.

    The bucketed lineitem and the dimension-denormalized orders table
    share bucketing on the order key, so the row-level fact⋈denorm
    join runs with ZERO exchanges — and a grouped aggregate above it
    ships only |groups| rows through its one final exchange. That
    beats the generic partial-agg-below-join raw plan precisely when
    the partial key (order, local attrs) barely shrinks the fact
    (mixed fact+dimension groupings: measured 1.3 s vs 5.1 s at sf5,
    docs/BENCHMARKS.md round 6). Applicability is exact, not
    heuristic: the denorm was built with the INNER 4-table chain, so
    it answers specs declaring exactly that chain (same
    orphan-dropping semantics), and only when every arm column used
    is stored on it. The denorm stands in for the whole order chain
    in the one arm-join builder."""
    t = LINEITEM
    if (
        q.table != t.name
        or q.arms() != _CHAIN
        or any(a.fn == "approx_distinct" for a in q.aggs)
    ):
        return None  # sketch shapes: cube or the row-level raw plan
    local_filters, arm_filters, mixed, local_group, cd_local, carried = _split(
        t, q, t.columns
    )
    needed = sorted(
        {a.measure for a in q.aggs if a.measure and a.fn != "count_distinct"}
    )
    from ..sources.bucketed import (
        DENORM_ATTRS,
        bucketed_fact_tables,
        order_revenue_projection,
    )

    if (
        mixed
        or not set(carried) <= set(DENORM_ATTRS)
        # arm-home measures: the row-level raw plan computes them
        or not all(t.local(t.measures[m]) for m in needed)
    ):
        return None

    # QUERY-time spine keeps the orders arm's shuffle_hash hint:
    # measured faster than sort-merge at bench scales, and the per-task
    # hash side is one bucket of the (filtered, projected) denorm. The
    # scale rule: this holds while |orders|/n_buckets rows fit a
    # task; past that, raise the bucket count at deploy (the layout
    # knob) — the DEPLOY joins already use spill-friendly sort-merge
    # (sources/bucketed.py segment/star cube, user projections).
    from ..sources.retention import apply_tombstones
    from ..sources.snapshots import bucketed_scan

    li_name, _ = bucketed_fact_tables(spark, sf_dir)
    _, den_name = order_revenue_projection(spark, sf_dir)
    # S19 tombstones subtract on BOTH spine sides (the rollup/denorm
    # keep deleted orders' bytes until the scheduled OPTIMIZE rewrite);
    # S22 pins the append-layout scan inside a snapshot read (the
    # denorm is versioned per refresh — its memo path needs no pin)
    li = apply_tombstones(
        spark, sf_dir, "orders", bucketed_scan(spark, sf_dir, li_name),
        "l_orderkey",
    )
    for p in local_filters:
        li = li.filter(p.column())
    li = apply_truncs(li, q, t.columns)
    den = apply_tombstones(
        spark, sf_dir, "orders", bucketed_scan(spark, sf_dir, den_name)
    )

    def _attach(df: DataFrame) -> DataFrame:
        j = join_arms(spark, sf_dir, df, t, ("orders",), carried, {"orders": den})
        for p in arm_filters:
            j = j.filter(p.column())
        return apply_truncs(j, q, frozenset(carried))

    if not q.aggs:
        # DISTINCT shape: pre-distinct by (order, local keys) is
        # exchange-free too (bucket partitioning on the order key
        # already clusters the finer key).
        pre = li.select(*dict.fromkeys(local_group + ["l_orderkey"])).distinct()
        return _distinct(_attach(pre), q)

    # the bucketed fact stores each measure's fixed-point column at rest
    int_cols = {m: t.measures[m].derived for m in needed}
    cnt_cols = {
        m: t.measures[m].source_col
        for m in needed
        if any(a.fn in ("count", "avg") and a.measure == m for a in q.aggs)
    }
    keep = dict.fromkeys(
        local_group
        + ["l_orderkey"]
        + sorted(c for c in cnt_cols.values() if c)
        + cd_local
        + [int_cols[m] for m in needed]
    )
    j = _attach(li.select(*keep))
    return _grouped(j, q, agg_exprs(q, _row_level(t.measures, int_cols, cnt_cols), None))


# ---------------------------------------------------------------------------
# The router.
# ---------------------------------------------------------------------------


def route(spark: SparkSession, sf_dir: str, q) -> tuple[DataFrame, str]:
    """Answer any fact table's aggregate spec (an :class:`AggQuery` or
    a :class:`TableAggQuery`) through the one candidate loop:
    :func:`validate`, then the built-in :data:`PROJECTIONS` in catalog
    order (a measured cost order), then the USER views over ``q.table``
    (sources/user_projections.py — names prefixed "user:"), then the
    bucketed spine (lineitem only), then the raw plan. Built-ins first
    keeps the measured plans for the shapes they were built for; a user
    view claims exactly the family the built-ins refuse. The user views
    are a lazy generator: a view's freshness check runs only once every
    built-in has refused. Returns (result, chosen) where ``chosen`` is
    the projection name, "bucketed_spine" or "raw" — callers that only
    want the DataFrame ignore the second element; tests assert on it."""
    from ..sources.user_projections import user_projections

    validate(q)
    for proj in itertools.chain(PROJECTIONS, user_projections(spark, sf_dir, q.table)):
        if proj.subsumes(q):
            return proj.build(spark, sf_dir, q), proj.name
    df = _spine_plan(spark, sf_dir, q)
    if df is not None:
        return df, "bucketed_spine"
    return _raw_plan(spark, sf_dir, q), "raw"


def route_scan(spark: SparkSession, sf_dir: str, q) -> tuple[DataFrame, str]:
    """Answer any fact table's scan spec (a :class:`ScanQuery` or a
    :class:`TableScanQuery`) from the first layout of
    :data:`SCAN_LAYOUTS` that serves it, else from the table's CURRENT
    relation (tombstone- and watermark-aware); the exact row filters
    and the projection run on top. Returns (result, chosen) where
    ``chosen`` is the layout name or "raw"."""
    t = validate(q)
    layout = next((lay for lay in SCAN_LAYOUTS if lay.serves(q)), None)
    if layout is None:
        df, chosen = t.current(spark, sf_dir), "raw"
    else:
        df, chosen = layout.open(spark, sf_dir, q), layout.name
    for p in q.filters:
        df = df.filter(p.column())
    return df.select(*q.columns), chosen


def route_spec(spark: SparkSession, sf_dir: str, spec) -> tuple[DataFrame, str]:
    """Answer any router spec by its shape: a scan spec through
    :func:`route_scan`, an aggregate spec through :func:`route`. The SQL
    front door and Engine.aggregate / Engine.scan dispatch here.
    Returns (result, chosen); a spec the router cannot plan raises its
    ValueError."""
    router = route_scan if isinstance(spec, (ScanQuery, TableScanQuery)) else route
    return router(spark, sf_dir, spec)


# ---------------------------------------------------------------------------
# Driver queries: raw-SHAPED requests, answered via route().
# ---------------------------------------------------------------------------

# q01's exact shape but a DIFFERENT cutoff than the cube was built
# around — proving the router folds arbitrary group-key predicates,
# not one memorized constant.
_ROUTED_PRICING_SPEC = AggQuery(
    filters=(Pred("l_shipdate", "<=", "2001-03-15 00:00:00", cast="timestamp"),),
    group_by=("l_returnflag", "l_linestatus"),
    aggs=(
        AggCall("sum", "quantity", "sum_qty"),
        AggCall("sum", "revenue", "sum_disc_price"),
        AggCall("avg", "base_price", "avg_price"),
        AggCall("count_star", None, "count_order"),
    ),
)

_ROUTED_PRICING_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice)
    AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-03-15 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query(
    "q05_routed_pricing",
    oracle=_ROUTED_PRICING_ORACLE,
    tags=("bench", "S13", "A1", "P2", "O1"),
)
def q05_routed_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A raw-shaped pricing-summary request (q01's family, fresh
    cutoff) declared as an :class:`AggQuery` and answered by
    :func:`route` — which matches the pricing cube (the filter is on a
    cube group key; every aggregate re-derives from stored partials)
    and reads ~15k rows instead of the full lineitem scan. The DuckDB
    oracle runs against the RAW table: the bit-identity of the rewrite
    is the thing checked. tests/test_routing.py additionally asserts
    the physical plan touches no raw lineitem file."""
    df, chosen = route(spark, sf_dir, _ROUTED_PRICING_SPEC)
    assert chosen == "pricing_cube", chosen  # routing regression guard
    return df


_ROUTED_STAR_SPEC = AggQuery(
    filters=(),
    group_by=("r_name", "n_name"),
    aggs=(
        AggCall("sum", "revenue", "revenue"),
        AggCall("count_star", None, "n_items"),
    ),
)

_ROUTED_STAR_ORACLE = """
SELECT
  r_name,
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


@query(
    "q06_routed_star",
    oracle=_ROUTED_STAR_ORACLE,
    tags=("bench", "S13", "J1", "J4", "A1"),
)
def q06_routed_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q26's star-revenue request in logical form, answered by
    :func:`route`: the grouping attributes are star-reachable and every
    aggregate re-derives from stored partials, so the router answers
    from the ~375k-row scale-invariant STAR CUBE (round 8 — the A/B
    that closed the q06 variance: re-aggregating the cube measured
    3.4x faster at sf5 than the rollup⋈denorm pair that previously
    claimed this shape, and it scales flat while the pair scales with
    |orders|) while the oracle joins the five raw tables. The
    5.5x-at-sf5 raw gap (docs/BENCHMARKS.md) becomes a sub-DuckDB
    cube path without the caller naming any projection."""
    df, chosen = route(spark, sf_dir, _ROUTED_STAR_SPEC)
    assert chosen == "star_date_cube", chosen
    return df


# A filter on a non-key column: NO projection may subsume this (the
# cube's groups mix discount values — folding would be wrong), so the
# router must fall back to the raw plan. Registering the fallback as
# an oracle-checked query keeps the router's "when NOT to rewrite"
# side as hard-tested as its rewrites.
_ROUTED_FALLBACK_SPEC = AggQuery(
    filters=(Pred("l_discount", "<=", 0.05),),
    group_by=("l_returnflag", "l_linestatus"),
    aggs=(
        AggCall("sum", "revenue", "sum_disc_price"),
        AggCall("avg", "quantity", "avg_qty"),
        AggCall("count_star", None, "count_order"),
    ),
)

_ROUTED_FALLBACK_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_discount <= 0.05
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query(
    "q07_routed_fallback",
    oracle=_ROUTED_FALLBACK_ORACLE,
    tags=("S13", "A1", "P2"),
)
def q07_routed_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The router's negative space: a discount filter is NOT on any
    projection's group keys (cube groups mix discounts — folding would
    silently drop rows from kept groups), so subsumption fails and the
    spec runs the raw q01-shaped plan. Asserted to choose "raw"."""
    df, chosen = route(spark, sf_dir, _ROUTED_FALLBACK_SPEC)
    assert chosen == "raw", chosen
    return df


# Dated star revenue: the date predicate forces past the rollup pair
# (no shipdate stored) onto the star-date cube, whose 60k rows are
# scale-invariant. The raw fallback for this same spec is the q26
# plan with the date filter pushed into the lineitem scan.
_ROUTED_STAR_DATE_SPEC = AggQuery(
    filters=(Pred("l_shipdate", ">=", "2000-01-01 00:00:00", cast="timestamp"),),
    group_by=("r_name", "n_name"),
    aggs=(
        AggCall("sum", "revenue", "revenue"),
        AggCall("count_star", None, "n_items"),
    ),
)

_ROUTED_STAR_DATE_ORACLE = """
SELECT
  r_name,
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


@query(
    "r85_routed_star_date",
    oracle=_ROUTED_STAR_DATE_ORACLE,
    tags=("S13", "J1", "A1"),
)
def r85_routed_star_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-sliced star revenue answered from the (region, nation,
    shipdate) cube: the date filter folds on a cube group key, the
    revenue/count partials re-aggregate associatively, and the scan
    reads ~60k scale-invariant rows instead of joining two fact
    tables. The rollup pair correctly refuses this spec (no shipdate
    stored); the star-date cube stores it."""
    df, chosen = route(spark, sf_dir, _ROUTED_STAR_DATE_SPEC)
    assert chosen == "star_date_cube", chosen
    return df


# Sketch-partial distinct counting on the star family (rows-only by
# design, like r25/r26/q21: DuckDB's approx_count_distinct is a
# different sketch, so there is no cross-engine twin; exactness vs the
# raw single-pass sketch and the error bound vs true COUNT(DISTINCT)
# are pinned in tests/test_routing.py).
_STAR_SKETCH_SPEC = AggQuery(
    filters=(Pred("l_shipdate", ">=", "2000-01-01 00:00:00", cast="timestamp"),),
    group_by=("r_name",),
    aggs=(
        AggCall("approx_distinct", "l_suppkey", "approx_suppliers"),
        AggCall("approx_distinct", "l_partkey", "approx_parts"),
        AggCall("count_star", None, "n"),
    ),
    chain=4,
)


@query("q22_star_distinct_suppliers", oracle=None, tags=("S13", "A6"))
def q22_star_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers/parts per region over a date slice, answered
    from the star cube's MERGEABLE HLL sketch partials: the cube stores
    hll_sketch_agg(l_suppkey/l_partkey) per (region, nation, flag,
    status, day), so the distinct counts re-aggregate by register-max
    union over a scale-invariant projection — no distinct shuffle over
    two fact tables. The estimate equals the raw row-level single-pass
    sketch exactly (union is register-max; duplicates never move a
    register, so pre-grouped rows sketch identically to raw rows)."""
    df, chosen = route(spark, sf_dir, _STAR_SKETCH_SPEC)
    assert chosen == "star_date_cube", chosen
    return df


# Sketch-partial distinct counting on the events table (rows-only by
# design — DuckDB's approx_count_distinct is a different sketch, so
# there is no cross-engine twin; the exactness claim routed ==
# raw-single-pass and the error bound vs true COUNT(DISTINCT) are
# pinned in tests/test_corpus_routing.py, the same posture as the
# r25/r26 sketches).
@query("q21_events_distinct_users", oracle=None, tags=("S15", "A6"))
def q21_events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the cube's MERGEABLE HLL
    sketch partials: the hourly rollup stores hll_sketch_agg(user_id)
    per (type, hour); re-aggregating a distinct count is then
    register-max union + estimate over a scale-invariant cube — no
    distinct shuffle over the corpus, the Druid/Pinot sketch-rollup
    pattern. The estimate equals the raw single-pass sketch exactly
    (union is register-max, so merged register state == single-pass
    state — asserted in tests)."""
    q = TableAggQuery(
        "events",
        (),
        ("event_type",),
        (
            AggCall("approx_distinct", "user_id", "approx_users"),
            AggCall("count_star", None, "n"),
        ),
    )
    df, chosen = route(spark, sf_dir, q)
    assert chosen == "events_hourly_cube", chosen
    return df
