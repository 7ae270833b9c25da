"""S13 (engine extension): projection auto-routing — materialized-view
matching for aggregate queries over the lineitem star.

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
  carry.

Candidates are tried in a measured cost order (the built-in
:data:`PROJECTIONS` — pricing, segment and star-date cubes, then the
per-order rollup star pair — then user views, then the bucketed spine,
then the raw scan), i.e. the router is a rule-based cost order, not a
cost model — the right trade at this catalog size (4 built-in
layouts), revisit if the catalog grows.

The projection engine — :class:`Projection` with its subsumption test
and build, the stored-measure descriptor, the aggregate-expression
builder and the candidate loop — is shared with the corpus router
(plans/corpus_routing.py); the two families differ only in descriptor
and measure fields (docs/DECISIONS.md).

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
)


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

# ---------------------------------------------------------------------------
# The logical query spec.
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
    or star-reachable dimension attributes (any key of ``DIM_ATTRS``);
    the router (or the raw fallback) supplies whatever joins the
    attributes need. Results are ordered by the grouping key (the
    engine's §2.4 total-order contract).

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

    ``chain`` declares how far down the dimension chain (orders →
    customer → nation → region) the query JOINS: 0 = bare lineitem,
    4 = the full star. ``None`` means "the minimal chain that reaches
    every referenced dimension attribute" — the common case. An
    EXPLICIT chain deeper than the minimal one is semantically
    meaningful: each inner join may drop fact rows with no matching
    dimension row, and the router never assumes foreign-key integrity,
    so ``SUM(revenue)`` over the declared 5-table join is a different
    query than over bare lineitem. The SQL front door sets it from the
    statement's actual join list (normalized to None when minimal, so
    specs compare structurally).

    ``part`` declares the SECOND dimension arm: ``lineitem ⋈ part ON
    l_partkey = p_partkey``. It composes with any chain depth (the two
    arms join on independent keys). Part attributes (``PART_ATTRS``)
    become legal grouping/filter/COUNT(DISTINCT) columns when True;
    like the chain, the inner join itself is semantically load-bearing
    (drops lineitems with no matching part — never assumed away), so
    a part=True spec with no part attribute referenced still joins.
    ``supp`` declares the supplier arm (``lineitem ⋈ supplier ON
    l_suppkey = s_suppkey``, attributes ``SUPP_ATTRS``) identically —
    all three arms join on independent fact keys and compose.

    ``table`` and ``dims`` are constants, not fields: they let the
    shared projection code (:class:`Projection`) read a star spec the
    way it reads a corpus ``TableAggQuery``."""

    table: ClassVar[str] = "lineitem"
    dims: ClassVar[tuple[str, ...]] = ()

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


def apply_truncs(
    df: DataFrame, q: AggQuery, sources: frozenset[str] | None = None
) -> DataFrame:
    """Materialize the query's derived time-grain keys — all of them,
    or (on the raw star path, where lineitem-sourced keys must exist
    BELOW the partial aggregation and order-sourced keys only exist
    after the dimension join) just those whose source is in
    ``sources``."""
    for alias, unit, col in q.truncs:
        if sources is None or col in sources:
            df = df.withColumn(alias, F.date_trunc(unit, F.col(col)))
    return df


def _used_cols(q: AggQuery) -> set[str]:
    """Every base-table column the query touches: grouping sources
    (through trunc aliases), all filter columns, and COUNT(DISTINCT)
    target columns (the one aggregate whose input is an attribute, so
    it participates in chain/coverage reasoning like a group key)."""
    used = set(q.group_sources().values())
    for f in q.filters:
        used |= f.cols()
    for a in q.aggs:
        if a.fn in ("count_distinct", "approx_distinct") and a.measure:
            used.add(a.measure)
        elif a.measure and a.measure in MEASURES:
            src = MEASURES[a.measure].source_col
            if src and MEASURES[a.measure].home != "fact":
                used.add(src)
    return used


def minimal_chain(q: AggQuery) -> int:
    """The shallowest dimension chain that reaches every referenced
    attribute (0 when the query is lineitem-local)."""
    return max((DIM_ATTRS.get(c, 0) for c in _used_cols(q)), default=0)


def effective_chain(q: AggQuery) -> int:
    """The chain the query's PLAN must join: the declared chain, or
    the minimal one when undeclared. A declared chain shallower than
    an attribute it references is a contradiction."""
    need = minimal_chain(q)
    if q.chain is None:
        return need
    if q.chain < need:
        raise ValueError(
            f"declared join chain {q.chain} cannot reach all referenced "
            f"dimension attributes (need {need})"
        )
    return q.chain


# ---------------------------------------------------------------------------
# The semantic model: measures of the lineitem fact.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Measure:
    """A measure of a fact table (the lineitem star's here, the corpus
    tables' in plans/corpus_routing.py): its raw int64 expression (the
    SAME arithmetic everywhere — query time in the raw plan, deploy time
    in the projections), the divisor back to the measure's unit (10^k
    for fixed-point money, read back as DOUBLE; 1 for an integer
    measure, whose sums stay exact BIGINT), and the source column whose
    non-null count backs COUNT/AVG (None for derived products, which
    have no single source column)."""

    name: str
    raw_int: Callable[[], Column]
    divisor: int
    source_col: str | None
    # which side of the join provides the measure's input columns:
    # "fact" measures compute in the fused pre-projection below any
    # partial aggregation; lineitem arm measures ("order"/"part"/
    # "supp") only exist after their join, so they force the row-level
    # plan and compute post-join. SQL semantics are the JOIN's: an
    # order-level SUM(o_totalprice) is weighted by lineitem
    # multiplicity, exactly what the statement says.
    home: str = "fact"
    # the column of the bucketed lineitem layout that stores raw_int()
    # at rest (sources/bucketed.py _lineitem_with_derived); the spine
    # plan and the user-view build read it instead of recomputing
    derived: str | None = None


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
        Measure("order_total", lambda: cents("o_totalprice"), 100,
                "o_totalprice", home="order"),
        Measure("cust_acctbal", lambda: cents("c_acctbal"), 100,
                "c_acctbal", home="order"),
        Measure("part_retail", lambda: cents("p_retailprice"), 100,
                "p_retailprice", home="part"),
        Measure("supp_acctbal", lambda: cents("s_acctbal"), 100,
                "s_acctbal", home="supp"),
    )
}

# Columns of the lineitem fact itself (grouping/filter domain of the
# chain-0 shapes; the SQL front door shares this set). This is the
# corpus's ACTUAL schema — listing columns the table doesn't have
# would let a spec parse and then die with an AnalysisException at
# plan time instead of the clean UnsupportedSQL/ValueError refusal.
LINEITEM_COLS = frozenset(
    {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    }
)

# Attributes that live on the dimension arm, keyed by the minimal
# chain depth that reaches them (1 = orders, 2 = customer, 3 = nation,
# 4 = region). Using one in group_by/filters makes the raw fallback
# join the chain at least that deep.
DIM_ATTRS: dict[str, int] = {
    "o_orderstatus": 1,
    "o_orderpriority": 1,
    "o_orderdate": 1,
    "o_totalprice": 1,
    "c_mktsegment": 2,
    "c_acctbal": 2,
    "n_name": 3,
    "r_name": 4,
}
STAR_ATTRS = frozenset(DIM_ATTRS)

# Attributes of the part arm (lineitem ⋈ part on l_partkey); usable
# in group_by/filters/COUNT(DISTINCT) when the spec declares part=True.
PART_ATTRS = frozenset(
    {"p_name", "p_brand", "p_type", "p_size", "p_retailprice"}
)

# Attributes of the supplier arm (lineitem ⋈ supplier on l_suppkey).
# s_nationkey is deliberately NOT exposed: extending this arm to
# nation would make n_name reachable by two different join paths
# (customer-nation vs supplier-nation) with different semantics — an
# ambiguity the structural matcher must not paper over.
SUPP_ATTRS = frozenset({"s_name", "s_acctbal"})


# ---------------------------------------------------------------------------
# The projection engine, shared with the corpus router
# (plans/corpus_routing.py): one stored-measure descriptor, one
# aggregate-expression builder, one projection type with one
# subsumption test and one build, one candidate loop (:func:`_route`).
# The two families differ only in descriptor and measure fields
# (docs/DECISIONS.md).
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


# GRAIN-BOUNDARY TIME FOLDING (plans/corpus_routing.py docstring): a
# ts leaf folds onto a stored hour key when it is a row-set
# equivalence on it — ``>=``/``<`` an hour-boundary literal; <=, =
# and between are sub-grain and never fold.
_HOUR_BOUNDARY = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:00:00$")
_TS_FOLD_OPS = frozenset({">=", "<"})
# grains a stored hour key re-aggregates exactly:
# date_trunc(u, date_trunc('hour', ts)) == date_trunc(u, ts)
_HOUR_OR_COARSER = frozenset({"hour", "day", "month", "quarter", "year"})


def _ts_pred_folds(p: Pred) -> bool:
    return (
        p.op in _TS_FOLD_OPS
        and p.cast == "timestamp"
        and isinstance(p.value, str)
        and bool(_HOUR_BOUNDARY.match(p.value))
    )


@dataclass(frozen=True)
class Projection:
    """One deployed cube the router may answer from, over ``table``:
    the group keys it stores (grouping/filter domain), its stored
    measure partials, its COUNT(*) column, and how to open it. Catalog
    ORDER steers among cubes that all subsume a query: earlier claims
    first. Every difference between the lineitem star and the corpus
    tables is a field here, a field of the query spec, or a measure
    field (docs/DECISIONS.md)."""

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
    # the lineitem dimension chain the deploy-time build JOINED (None:
    # no star build): the cube answers exactly the queries that declare
    # (or minimally imply) the same chain — an inner join may drop
    # orphan fact rows, and the router never assumes FK integrity, so
    # chain-2 and chain-4 specs are different queries even over
    # identical attributes. Same honesty rule for the part/supplier
    # arms: a star cube answers exactly the specs declaring the SAME
    # arm set — never a superset or subset.
    chain: int | None = None
    part: bool = False
    supp: bool = False

    def _foldable(self, q) -> frozenset[str]:
        """The attributes this cube answers for ``q``: its stored keys,
        plus the attributes of every declared corpus dim whose FACT KEY
        it stores — the join attaches per-key-constant attributes onto
        stored groups (joining groups == joining rows then grouping).
        The engine keeps every CorpusDim complete and 1:1, so a
        declared dim never changes the row population: one whose
        attributes the query doesn't reference folds vacuously."""
        if not q.dims:
            return self.attrs
        from .corpus_routing import CORPUS_DIMS

        out = set(self.attrs)
        for name in q.dims:
            d = CORPUS_DIMS[name]
            if d.fact_key in self.attrs:
                out |= d.attrs
        return frozenset(out)

    def subsumes(self, q) -> bool:
        if q.table != self.table:
            return False
        if self.chain is not None and (
            (bool(q.part), bool(q.supp)) != (self.part, self.supp)
            or effective_chain(q) != self.chain
        ):
            return False
        foldable = self._foldable(q)
        _time_col, ts_src = self.time_key or (None, None)
        units = {alias: unit for alias, unit, _c in q.truncs}
        # Trunc aliases resolve to their SOURCE attribute: storing the
        # finer grain is what makes the coarser grouping derivable. A
        # grain over the ts stored at hour grain folds when it is hour
        # or coarser; a sub-hour grouping must not (the raw plan
        # computes it exactly).
        for g, src in q.group_sources().items():
            if src not in foldable and not (
                src == ts_src and units.get(g) in _HOUR_OR_COARSER
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
        if q.dims:
            # Declared dims attach BROADCAST onto the cube's groups
            # (registry-sized at any corpus scale), exact because dim
            # attrs are constants of the stored fact key; a dim whose
            # referenced attributes the cube already STORES (a user view
            # built through the dim) needs no join at all.
            from .corpus_routing import CORPUS_DIMS

            referenced = set(q.group_sources().values()) | {
                a.measure for a in q.aggs if a.fn == "count_distinct"
            }
            for f in q.filters:
                referenced |= f.cols()
            for name in q.dims:
                d = CORPUS_DIMS[name]
                if (referenced & d.attrs) - self.attrs:
                    dim = d.open(spark, sf_dir)
                    df = df.join(
                        F.broadcast(dim), F.col(d.fact_key) == dim[d.dim_key]
                    )
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


def _open_pricing_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, pricing_cube_table(spark, sf_dir))


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


def _open_star_date_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bucketed import star_date_cube_table
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, star_date_cube_table(spark, sf_dir))


def _open_segment_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bucketed import segment_cube_table
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, segment_cube_table(spark, sf_dir))


# The five pricing measures' stored partials, as the three lineitem
# cubes store them (sources/bucketed.py _pricing_cube_aggs).
_PRICING_PARTIALS = {
    "quantity": _StoredMeasure.of(MEASURES["quantity"], "qty", "cnt_qty"),
    "base_price": _StoredMeasure.of(MEASURES["base_price"], "price", "cnt_price"),
    "discount": _StoredMeasure.of(MEASURES["discount"], "disc", "cnt_disc"),
    "revenue": _StoredMeasure.of(MEASURES["revenue"], "rev"),
    "charge": _StoredMeasure.of(MEASURES["charge"], "charge"),
}

PROJECTIONS: tuple[Projection, ...] = (
    Projection(
        name="pricing_cube",
        table="lineitem",
        attrs=frozenset({"l_returnflag", "l_linestatus", "l_shipdate"}),
        measures=_PRICING_PARTIALS,
        count_star_col="cnt",
        open=_open_pricing_cube,
        chain=0,
    ),
    # The segment cube (round 7, the q10 answer): every pricing
    # measure keyed by the LOW-CARDINALITY per-order attributes x the
    # lineitem flags — 450 rows at EVERY corpus scale (each key has a
    # fixed domain; o_orderdate, the one per-order attribute that
    # grows, is deliberately NOT stored — dated segment shapes keep
    # the spine). Listed before the rollup pair: when both subsume,
    # 450 stored rows beat the per-order rollup join unconditionally.
    Projection(
        name="segment_cube",
        table="lineitem",
        attrs=frozenset(
            {"c_mktsegment", "o_orderpriority", "o_orderstatus",
             "l_returnflag", "l_linestatus"}
        ),
        measures=_PRICING_PARTIALS,
        count_star_col="cnt",
        open=_open_segment_cube,
        chain=4,
    ),
    # The star cube: every pricing measure (sums, counts, min/max
    # partials) keyed by (region, nation, returnflag, linestatus,
    # shipdate) — ~375k rows at ANY corpus scale. It answers the
    # time-sliced star family, MIXED fact+dimension groupings, star
    # min/max/avg shapes, and — round 8, A/B-remeasured — the UNDATED
    # pure-star shapes too: re-aggregating ≤375k scale-invariant rows
    # beats the rollup⋈denorm pair's order-grain join (0.195 s vs
    # 0.671 s at sf5, 3.4x; the pair scales with |orders| while the
    # cube is flat), so the cube now sits BEFORE the pair and claims
    # every shape its key set covers. The round-5 ordering predated
    # the cube carrying all five measures.
    Projection(
        name="star_date_cube",
        table="lineitem",
        attrs=frozenset(
            {"r_name", "n_name", "l_returnflag", "l_linestatus", "l_shipdate"}
        ),
        measures=_PRICING_PARTIALS,
        count_star_col="cnt",
        open=_open_star_date_cube,
        chain=4,
        sketches={"l_suppkey": "supp_hll", "l_partkey": "part_hll"},
    ),
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
        chain=4,
    ),
)


# ---------------------------------------------------------------------------
# The raw fallback: the optimized plans q01/q26 established, built
# generically from the same spec.
# ---------------------------------------------------------------------------


def _split_filters(q: AggQuery) -> tuple[list, list, list]:
    """Partition the conjuncts into lineitem-local, order-chain-side,
    and part-side. A conjunct MIXING domains (e.g. ``l_quantity > 5 OR
    r_name = 'ASIA'``) varies per lineitem row within an order, so it
    can fold neither before the partial aggregation (needs the join)
    nor after it (needs row-level values) — the partial-agg-below-join
    plan cannot express it, and the router refuses rather than
    silently joining row-level (callers fall back to spark.sql)."""
    local, star, part, supp = [], [], [], []
    for f in q.filters:
        cols = f.cols()
        if cols <= LINEITEM_COLS:
            local.append(f)
        elif cols <= STAR_ATTRS:
            star.append(f)
        elif cols <= PART_ATTRS:
            part.append(f)
        elif cols <= SUPP_ATTRS:
            supp.append(f)
        else:
            raise ValueError(
                "a predicate mixing columns of different tables is not "
                "expressible in the partial-agg-below-join plan"
            )
    return local, star, part, supp


def _dim_arm(
    spark: SparkSession, sf_dir: str, chain: int, attrs: list[str]
) -> DataFrame:
    """The dimension side of the star, joined ``chain`` tables deep
    and projected to the order key plus the attributes the query
    actually uses. customer/nation/region broadcast (each orders of
    magnitude smaller than the fact side; at extreme scale customer
    would graduate to a bucketed layout like orders — the denorm
    projection already embodies that posture). Orders come from the
    MAINTAINED relation so post-ingest raw plans see the same corpus
    the projections describe."""
    dims = current_orders(spark, sf_dir)
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


def _raw_plan(spark: SparkSession, sf_dir: str, q: AggQuery) -> DataFrame:
    chain = effective_chain(q)
    part, supp = q.part, q.supp
    li = current_lineitem(spark, sf_dir)
    local_filters, star_filters, part_filters, supp_filters = _split_filters(q)
    for p in local_filters:
        li = li.filter(p.column())
    # Lineitem-sourced time-grain keys materialize below the partial
    # aggregation; order-sourced ones (o_orderdate) only exist after
    # the dimension join and are applied there.
    li = apply_truncs(li, q, LINEITEM_COLS)
    star_trunc_sources = frozenset(
        {col for _a, _u, col in q.truncs if col not in LINEITEM_COLS}
    )

    sources = q.group_sources()
    star_group = [g for g in q.group_by if sources[g] in DIM_ATTRS]
    part_group = [g for g in q.group_by if sources[g] in PART_ATTRS]
    supp_group = [g for g in q.group_by if sources[g] in SUPP_ATTRS]
    local_group = [
        g
        for g in q.group_by
        if sources[g] not in DIM_ATTRS
        and sources[g] not in PART_ATTRS
        and sources[g] not in SUPP_ATTRS
    ]
    for g in local_group:
        if sources[g] not in LINEITEM_COLS and g not in {a for a, _u, _c in q.truncs}:
            raise ValueError(f"unknown grouping attribute {g!r}")
    # COUNT(DISTINCT) and approx_distinct targets: attribute inputs
    # that must survive to the aggregation — fact-side ones ride the
    # partial key / fused projection, dimension and part-side ones ride
    # their joins. approx targets additionally force the ROW-LEVEL plan
    # (their sketch is computed over raw rows; the cube path is where
    # pre-aggregated sketches live).
    approx_cols = sorted(
        {a.measure for a in q.aggs if a.fn == "approx_distinct"}
    )
    cd_cols = sorted(
        {a.measure for a in q.aggs if a.fn == "count_distinct"}
        | set(approx_cols)
    )
    cd_local = [c for c in cd_cols if c in LINEITEM_COLS]
    cd_star = [c for c in cd_cols if c in DIM_ATTRS]
    cd_part = [c for c in cd_cols if c in PART_ATTRS]
    cd_supp = [c for c in cd_cols if c in SUPP_ATTRS]
    for c in cd_cols:
        if (
            c not in LINEITEM_COLS
            and c not in DIM_ATTRS
            and c not in PART_ATTRS
            and c not in SUPP_ATTRS
        ):
            raise ValueError(f"unknown COUNT(DISTINCT) column {c!r}")
    if not part and (part_group or part_filters or cd_part):
        raise ValueError("part attributes referenced without the part join")
    if not supp and (supp_group or supp_filters or cd_supp):
        raise ValueError(
            "supplier attributes referenced without the supplier join"
        )
    # Attributes each arm's join must carry: grouping sources, that
    # side's filter columns, trunc sources, distinct targets.
    dim_attrs = sorted(
        ({sources[g] for g in star_group} | set(star_trunc_sources))
        | {c for f in star_filters for c in f.cols()}
        | set(cd_star)
    )
    part_attrs = sorted(
        {sources[g] for g in part_group}
        | {c for f in part_filters for c in f.cols()}
        | set(cd_part)
    )
    supp_attrs = sorted(
        {sources[g] for g in supp_group}
        | {c for f in supp_filters for c in f.cols()}
        | set(cd_supp)
    )
    # the partial aggregation keys on each declared arm's join key
    join_keys = (
        (["l_orderkey"] if chain else [])
        + (["l_partkey"] if part else [])
        + (["l_suppkey"] if supp else [])
    )

    def _attach_arms(df: DataFrame) -> DataFrame:
        """Join the declared arms onto per-key partial rows, apply the
        arm-side filters, and materialize order-sourced trunc keys."""
        if chain:
            dims = _dim_arm(spark, sf_dir, chain, dim_attrs)
            df = df.join(
                dims.hint("shuffle_hash"), F.col("l_orderkey") == dims.o_orderkey
            )
        if part:
            # no join hint: Catalyst/AQE picks broadcast while the
            # (filtered) part side fits and shuffles past that —
            # measured at sf5: broadcast 0.96 s / shuffle 1.44 s for
            # the row-level form, and the right choice flips with
            # scale, which is exactly what AQE decides at runtime
            pa = table(spark, sf_dir, "part").select("p_partkey", *part_attrs)
            df = df.join(pa, F.col("l_partkey") == pa.p_partkey)
        if supp:
            su = table(spark, sf_dir, "supplier").select(
                "s_suppkey", *supp_attrs
            )
            df = df.join(su, F.col("l_suppkey") == su.s_suppkey)
        for pr in star_filters:
            df = df.filter(pr.column())
        for pr in part_filters:
            df = df.filter(pr.column())
        for pr in supp_filters:
            df = df.filter(pr.column())
        return apply_truncs(df, q, star_trunc_sources)

    if not q.aggs:
        # DISTINCT shape. Below the joins the distinct key combinations
        # collapse to one row per (join keys, local keys) — the same
        # shuffle-shrinking idea as the partial aggregation.
        if not join_keys:
            return _distinct(li, q)
        pre = li.select(*dict.fromkeys(local_group + join_keys)).distinct()
        return _distinct(_attach_arms(pre), q)

    needed = sorted(
        {
            a.measure
            for a in q.aggs
            if a.measure and a.fn not in ("count_distinct", "approx_distinct")
        }
    )
    li_measures = [m for m in needed if MEASURES[m].home == "fact"]
    arm_measures = [m for m in needed if MEASURES[m].home != "fact"]
    for m in arm_measures:
        home = MEASURES[m].home
        if home == "part" and not part:
            raise ValueError(f"measure {m!r} needs the part join")
        if home == "supp" and not supp:
            raise ValueError(f"measure {m!r} needs the supplier join")
        # order-home measures: chain reach already enforced through
        # effective_chain (the source column rides _used_cols)
    # arm measure sources ride their arm's attribute projection
    dim_attrs = sorted(
        set(dim_attrs)
        | {MEASURES[m].source_col for m in arm_measures if MEASURES[m].home == "order"}
    )
    part_attrs = sorted(
        set(part_attrs)
        | {MEASURES[m].source_col for m in arm_measures if MEASURES[m].home == "part"}
    )
    supp_attrs = sorted(
        set(supp_attrs)
        | {MEASURES[m].source_col for m in arm_measures if MEASURES[m].home == "supp"}
    )
    int_cols = {m: f"__{m}_i" for m in needed}
    cnt_cols = {
        m: MEASURES[m].source_col
        for m in needed
        if any(a.fn in ("count", "avg") and a.measure == m for a in q.aggs)
    }
    min_ms = sorted({a.measure for a in q.aggs if a.fn == "min"})
    max_ms = sorted({a.measure for a in q.aggs if a.fn == "max"})

    # Fused pre-projection: each lineitem measure's fixed-point
    # expression is computed once per row (q01's measured win), plus
    # the grouping columns and any count-source / distinct-target
    # columns. Arm-home measures only exist after their join and
    # compute there.
    # dict.fromkeys: order-stable dedup (a grouping column may double
    # as a COUNT source column; selecting it twice would be an error)
    keep = list(
        dict.fromkeys(
            local_group
            + join_keys
            + sorted(
                c
                for m, c in cnt_cols.items()
                if c and MEASURES[m].home == "fact"
            )
            + cd_local
        )
    )
    pre = li.select(
        *keep, *[MEASURES[m].raw_int().alias(int_cols[m]) for m in li_measures]
    )
    row_level = _row_level(MEASURES, int_cols, cnt_cols)

    if not join_keys:
        # q01 shape: scan → fused projection → one-shuffle aggregate.
        return _grouped(pre, q, agg_exprs(q, row_level, None))

    if join_keys != ["l_orderkey"] or arm_measures or approx_cols:
        # ROW-LEVEL arm join: when the partial key includes a
        # high-cardinality arm key (l_partkey ~ N/4 distinct values,
        # l_suppkey dense), pre-aggregation barely shrinks the fact
        # and its hash table costs more than the slimmer shuffle
        # saves — measured at sf5 on the part arm: 1.44 s row-level
        # vs 2.54 s partial (docs/BENCHMARKS.md). The l_orderkey-only
        # partial below keeps its measured q26 win (4:1 fan-in, slim
        # per-order rows crossing the shuffle).
        j = _attach_arms(pre)
        for m in arm_measures:
            j = j.withColumn(int_cols[m], MEASURES[m].raw_int())
        return _grouped(j, q, agg_exprs(q, row_level, None))

    # q26 shape, generalized: partial-aggregate the fact BELOW the
    # joins — keyed by the declared arms' join keys PLUS any
    # lineitem-local grouping attributes, so mixed groupings fold too
    # (every measure partial is a commutative monoid, so aggregating
    # first by the finer key and re-aggregating above the joins is
    # exact) — then join each declared arm with slim partial rows
    # crossing the shuffles.
    partial = [F.sum(int_cols[m]).alias(int_cols[m]) for m in needed]
    partial += [F.count(c).alias(f"__cnt_{m}") for m, c in cnt_cols.items() if c]
    partial += [F.min(int_cols[m]).alias(f"__min_{m}") for m in min_ms]
    partial += [F.max(int_cols[m]).alias(f"__max_{m}") for m in max_ms]
    partial.append(F.count(F.lit(1)).alias("__cnt_star"))
    # fact-side COUNT(DISTINCT) targets join the partial KEY: every
    # distinct (keys, locals, target) combo survives the partial, so
    # the distinct value set above the joins is exact
    agg_l = pre.groupBy(
        *dict.fromkeys(join_keys + local_group + cd_local)
    ).agg(*partial)

    # MIN/MAX commute with the partial: they re-aggregate its per-key
    # partial min/max columns
    partials = {
        m: _StoredMeasure(
            MEASURES[m], int_cols[m], f"__cnt_{m}" if cnt_cols.get(m) else None,
            f"__min_{m}", f"__max_{m}",
        )
        for m in needed
    }
    return _grouped(_attach_arms(agg_l), q, agg_exprs(q, partials, "__cnt_star"))


def _spine_plan(spark: SparkSession, sf_dir: str, q: AggQuery) -> DataFrame | None:
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
    it answers chain-4 queries only (same orphan-dropping semantics),
    and only when every dimension attribute used is stored on it."""
    if q.part or q.supp or effective_chain(q) != 4:
        return None
    if any(a.fn == "approx_distinct" for a in q.aggs):
        return None  # sketch shapes: cube or the row-level raw plan
    local_filters, star_filters, _pf, _sf = _split_filters(q)
    sources = q.group_sources()
    star_trunc_sources = frozenset(
        {col for _a, _u, col in q.truncs if col not in LINEITEM_COLS}
    )
    star_group = [g for g in q.group_by if sources[g] in DIM_ATTRS]
    local_group = [g for g in q.group_by if sources[g] not in DIM_ATTRS]
    cd_cols = sorted({a.measure for a in q.aggs if a.fn == "count_distinct"})
    cd_local = [c for c in cd_cols if c in LINEITEM_COLS]
    cd_star = [c for c in cd_cols if c in DIM_ATTRS]
    if any(c not in LINEITEM_COLS and c not in DIM_ATTRS for c in cd_cols):
        return None  # unknown target: let the raw plan raise its error
    dim_attrs = sorted(
        {sources[g] for g in star_group}
        | set(star_trunc_sources)
        | {c for f in star_filters for c in f.cols()}
        | set(cd_star)
    )
    from ..sources.bucketed import (
        DENORM_ATTRS,
        bucketed_fact_tables,
        order_revenue_projection,
    )

    if not set(dim_attrs) <= set(DENORM_ATTRS):
        return None
    for g in local_group:
        if sources[g] not in LINEITEM_COLS and g not in {a for a, _u, _c in q.truncs}:
            raise ValueError(f"unknown grouping attribute {g!r}")

    # QUERY-time spine keeps the shuffle_hash hint below: measured
    # faster than sort-merge at bench scales, and the per-task hash
    # side is one bucket of the (filtered, projected) denorm. The
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
    li = apply_truncs(li, q, LINEITEM_COLS)
    den = apply_tombstones(
        spark, sf_dir, "orders", bucketed_scan(spark, sf_dir, den_name)
    ).select("o_orderkey", *dim_attrs)

    if not q.aggs:
        # DISTINCT shape: pre-distinct by (order, local keys) is
        # exchange-free too (bucket partitioning on the order key
        # already clusters the finer key).
        pre = li.select(*dict.fromkeys(local_group + ["l_orderkey"])).distinct()
        j = pre.join(den.hint("shuffle_hash"), pre.l_orderkey == den.o_orderkey)
        for p in star_filters:
            j = j.filter(p.column())
        return _distinct(apply_truncs(j, q, star_trunc_sources), q)

    needed = sorted(
        {a.measure for a in q.aggs if a.measure and a.fn != "count_distinct"}
    )
    if any(MEASURES[m].home != "fact" for m in needed):
        return None  # arm-home measures: the row-level raw plan computes them
    # the bucketed fact stores each measure's fixed-point column at rest
    int_cols = {m: MEASURES[m].derived for m in needed}
    cnt_cols = {
        m: MEASURES[m].source_col
        for m in needed
        if any(a.fn in ("count", "avg") and a.measure == m for a in q.aggs)
    }
    keep = list(
        dict.fromkeys(
            local_group
            + ["l_orderkey"]
            + sorted(c for c in cnt_cols.values() if c)
            + cd_local
            + [int_cols[m] for m in needed]
        )
    )
    pre = li.select(*keep)
    j = pre.join(den.hint("shuffle_hash"), pre.l_orderkey == den.o_orderkey)
    for p in star_filters:
        j = j.filter(p.column())
    j = apply_truncs(j, q, star_trunc_sources)
    return _grouped(j, q, agg_exprs(q, _row_level(MEASURES, int_cols, cnt_cols), None))


# ---------------------------------------------------------------------------
# The router.
# ---------------------------------------------------------------------------


def _route(
    spark: SparkSession,
    sf_dir: str,
    q,
    builtins: Iterable[Projection],
    fallbacks: tuple[tuple[str, Callable], ...],
    raw: Callable[[SparkSession, str, object], DataFrame],
) -> tuple[DataFrame, str]:
    """The one candidate loop of both routers: ``builtins`` in their
    catalog order (a measured cost order), then the USER views over
    ``q.table`` (sources/user_projections.py — names prefixed
    "user:"), then the family's ``fallbacks`` — ``(name, plan)``
    pairs tried in order, a plan returning None to pass — then the
    ``raw`` plan. Built-ins first keeps the measured plans for the
    shapes they were built for; a user view claims exactly the family
    the built-ins refuse. The user views are a lazy generator: a view's
    freshness check runs only once every built-in has refused.
    Returns (result, chosen)."""
    from ..sources.user_projections import user_projections

    for proj in itertools.chain(builtins, user_projections(spark, sf_dir, q.table)):
        if proj.subsumes(q):
            return proj.build(spark, sf_dir, q), proj.name
    for name, plan in fallbacks:
        df = plan(spark, sf_dir, q)
        if df is not None:
            return df, name
    return raw(spark, sf_dir, q), "raw"


def route(
    spark: SparkSession, sf_dir: str, q: AggQuery
) -> tuple[DataFrame, str]:
    """Answer ``q`` from the cheapest deployed projection that subsumes
    it, else from the bucketed spine, else from the raw-table plan
    (:func:`_route`). Returns (result, chosen) where ``chosen`` is the
    projection name, "bucketed_spine" or "raw" — callers that only
    want the DataFrame ignore the second element; tests assert on it."""
    return _route(
        spark, sf_dir, q, PROJECTIONS, (("bucketed_spine", _spine_plan),), _raw_plan
    )


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


# ---------------------------------------------------------------------------
# Scan routing: layout selection for non-aggregate (scan-shaped)
# queries — the S12 Z-order layout joins the router's catalog.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ScanQuery:
    """A projection+filter query over lineitem rows (no aggregation).
    The router picks the physical LAYOUT to scan; content is identical
    whichever layout answers (clustering is sort order, not content).
    """

    columns: tuple[str, ...]
    filters: tuple[Pred, ...]


# Columns the deployed Z-order lineitem layout stores, and the curve
# keys whose range predicates it accelerates (sources/zorder.py
# zordered_lineitem). Kept declarative so subsumption stays structural.
_ZORDER_COLUMNS = frozenset(
    {"l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
     "l_quantity", "l_extendedprice"}
)
_ZORDER_KEYS = frozenset({"l_partkey", "l_suppkey"})
_RANGE_OPS = frozenset({"<=", "<", ">=", ">", "=", "between", "in"})


def route_scan(
    spark: SparkSession, sf_dir: str, q: ScanQuery
) -> tuple[DataFrame, str]:
    """Answer a scan-shaped query from the best-covering LAYOUT:

    1. the Z-ordered layout when it covers the query (all projected
       and filtered columns stored, and at least one range predicate
       on a curve key) — row-group skipping on BOTH curve keys, 250x
       fewer rows materialized at sf5 (tests/test_zorder.py);
    2. else the ship-month-partitioned layout for time-slice scans
       (any l_shipdate range) — directory-level partition pruning
       derived from the date predicate, then shipdate row-group
       skipping inside kept months (tests/test_dated.py);
    3. else the raw table.

    Mirrors :func:`route` for the non-aggregate shape: the layout is a
    physical property, the rows are identical whichever answers."""
    from ..sources.dated import dated_lineitem, month_bounds_filter
    from ..sources.zorder import zordered_lineitem

    used = set(q.columns)
    for p in q.filters:
        used |= p.cols()
    # Layout choice keys off TOP-LEVEL conjuncts that are plain range
    # predicates on a layout key — a disjunction containing one is not
    # guaranteed selective, so it doesn't trigger a clustered layout
    # (either choice returns identical rows; this is purely physical).
    has_key_range = any(
        isinstance(p, Pred) and p.col in _ZORDER_KEYS and p.op in _RANGE_OPS
        for p in q.filters
    )
    has_date_range = any(
        isinstance(p, Pred) and p.col == "l_shipdate" and p.op in _RANGE_OPS
        for p in q.filters
    )
    from ..sources.retention import apply_tombstones
    from ..sources.snapshots import layout_parquet

    if used <= _ZORDER_COLUMNS and has_key_range:
        df = layout_parquet(spark, zordered_lineitem(spark, sf_dir))
        chosen = "zorder_lineitem"
    elif used <= LINEITEM_COLS and has_date_range:
        df = layout_parquet(spark, dated_lineitem(spark, sf_dir))
        months = month_bounds_filter(q.filters)
        if months is not None:
            # superset constraint on the partition column — prunes
            # month directories; the exact row filters below keep
            # the rewrite correctness-free by construction
            df = df.filter(months)
        chosen = "dated_lineitem"
    else:
        df = current_lineitem(spark, sf_dir)  # tombstone-aware
        chosen = "raw"
    if chosen != "raw":
        # S19: the clustered layouts keep deleted rows' bytes until
        # the scheduled OPTIMIZE rewrite; reads subtract
        df = apply_tombstones(spark, sf_dir, "orders", df, "l_orderkey")
    for p in q.filters:
        df = df.filter(p.column())
    return df.select(*q.columns), chosen


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
