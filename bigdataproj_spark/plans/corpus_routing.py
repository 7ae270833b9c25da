"""S15 (engine extension): projection auto-routing for the CORPUS fact
tables — ``documents`` and ``events`` join the router's catalog.

plans/routing.py routes the lineitem star and declares every fact
table's model; this module serves the corpus tables with the same
contract: a :class:`TableAggQuery` spec is answered from
a deployed cube when the cube SUBSUMES it, else from the raw-table
plan — bit-identically by construction, because the cube stores the
SAME per-row expressions (sources/corpus_cubes.py) the raw plan
computes per query. The subsumption rules are routing.py's, plus one
new rule the time-series family needs:

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

Time-GRAIN grouping folds like routing.py's trunc rule, one step
coarser: the cube's hour key is itself a trunc, and
``date_trunc(u, ts) = date_trunc(u, date_trunc('hour', ts))`` for
every u ≥ hour, so day/month/quarter/year groupings re-aggregate
stored hour groups exactly (hour grouping is the stored key
verbatim).

Measures generalize with a ``divisor`` switch: money-style measures
(events ``value``) use the int64 fixed-point arithmetic of
functions.cents with a final ``/divisor`` to double; INTEGER measures
(documents ``n_chars``, token counts) set divisor=1 and their sums
stay exact BIGINT end to end — matching what exact SQL arithmetic
produces for integer inputs. The token-count measure is the corpus
family's flagship: its per-row expression is a full tokenizer pass
(operators/text.py:25), so answering ``SUM(tokens)`` from the cube
skips not just the scan but the regex work — deploy-time compute,
query-time lookup.

At 100 TB: both cubes are scale-invariant (|langs|x|sources|,
|types|x|hours|); the raw fallbacks are one-shuffle scan+aggregate
plans with fused pre-projections (the q01 shape). Differentially
fuzzed against DuckDB and the raw plan in tests/test_corpus_routing.py
(built-in cubes, the sources dim) and tests/test_user_projections.py
(user views with an hour time key or a dim-attribute key).

Everything but the cubes is routing.py's, shared with the lineitem
star: the table model (documents and events are
:class:`~.routing.FactTable` s whose registry arms are row-preserving),
:func:`~.routing.validate`, the raw plan and the candidate loop. A
corpus cube is a :class:`~.routing.Projection` whose ``time_key``
carries the hour-grain fold and whose stored fact keys let declared
registry arms fold. This module keeps the corpus cubes, their router
and the corpus scan router.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .routing import (  # noqa: F401 — re-exported with the spec types and the model
    FACT_TABLES,
    AggCall,
    BoolPred,
    Pred,
    Projection,
    TableAggQuery,
    TableScanQuery,
    _RANGE_OPS,
    _StoredMeasure,
    _raw_plan,
    _route,
    current_documents,
    current_events,
    validate,
)

# The fact tables this router serves, and their registry arms.
CORPUS_TABLES = {n: t for n, t in FACT_TABLES.items() if t.agg_spec is TableAggQuery}
CORPUS_DIMS = {a.name: a for t in CORPUS_TABLES.values() for a in t.arms.values()}


def current_corpus_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    t = CORPUS_TABLES.get(name)
    return t.current(spark, sf_dir) if t else table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Cube descriptors (the shared routing.Projection).
# ---------------------------------------------------------------------------


def _open_docs_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.corpus_cubes import docs_stats_cube_table
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, docs_stats_cube_table(spark, sf_dir))


def _open_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.corpus_cubes import events_hourly_cube_table
    from ..sources.snapshots import versioned_parquet

    return versioned_parquet(spark, events_hourly_cube_table(spark, sf_dir))


_DOC_MEASURES = CORPUS_TABLES["documents"].measures
CORPUS_PROJECTIONS: tuple[Projection, ...] = (
    Projection(
        name="docs_stats_cube",
        table="documents",
        attrs=frozenset({"lang", "source"}),
        measures={
            "chars": _StoredMeasure.of(_DOC_MEASURES["chars"]),
            "tokens": _StoredMeasure.of(
                _DOC_MEASURES["tokens"], cnt_col="cnt_text"
            ),
            "stopwords": _StoredMeasure.of(
                _DOC_MEASURES["stopwords"], "stop", "cnt_text"
            ),
        },
        count_star_col="cnt",
        open=_open_docs_cube,
    ),
    Projection(
        name="events_hourly_cube",
        table="events",
        attrs=frozenset({"event_type"}),
        measures={
            "value": _StoredMeasure.of(CORPUS_TABLES["events"].measures["value"])
        },
        count_star_col="cnt",
        open=_open_events_cube,
        time_key=("event_hour", "ts"),
        sketches={"user_id": "users_hll"},
    ),
)


# ---------------------------------------------------------------------------
# The router.
# ---------------------------------------------------------------------------


def route_corpus(
    spark: SparkSession, sf_dir: str, q: TableAggQuery
) -> tuple[DataFrame, str]:
    """Answer ``q`` from the subsuming corpus cube, else the raw plan.
    Returns (result, chosen); tests assert on ``chosen``.

    The candidate loop is routing's (:func:`~.routing._route`):
    validation, built-in cubes (measured cost order), then the USER
    projections deployed over ``q.table`` (names prefixed "user:"),
    then the raw plan."""
    return _route(spark, sf_dir, q, CORPUS_PROJECTIONS, ())


# ---------------------------------------------------------------------------
# Scan routing: layout selection for row-level corpus queries. The
# events table gets the S14 treatment at DAY grain (an event log is
# written continuously and queried in short windows — "yesterday's
# errors" should open one directory out of the corpus's thousands).
# ---------------------------------------------------------------------------


def route_corpus_scan(
    spark: SparkSession, sf_dir: str, q: TableScanQuery
) -> tuple[DataFrame, str]:
    """Answer a corpus scan from the best-covering layout: the
    day-partitioned events layout when the query carries a ts range
    (directory pruning via day bounds DERIVED from the predicates — a
    superset constraint, so a derivation bug can only over-read; the
    exact row filters run after), else the raw table. Mirrors
    routing.route_scan for the corpus tables."""
    validate(q)
    has_ts_range = q.table == "events" and any(
        isinstance(p, Pred) and p.col == "ts" and p.op in _RANGE_OPS
        for p in q.filters
    )
    has_docs_cluster_key = q.table == "documents" and any(
        isinstance(p, Pred) and p.col in ("lang", "source") and p.op in _RANGE_OPS
        for p in q.filters
    )
    from ..sources.retention import apply_tombstones
    from ..sources.snapshots import layout_parquet

    if has_ts_range:
        from ..sources.dated import dated_events, day_bounds_filter

        df = layout_parquet(spark, dated_events(spark, sf_dir))
        days = day_bounds_filter(q.filters)
        if days is not None:
            df = df.filter(days)
        # S19b watermark: expired rows subtract, and the derived
        # day-partition conjunct prunes whole expired directories
        from ..sources.retention import event_watermark

        wm = event_watermark(spark, sf_dir)
        if wm is not None:
            df = df.filter(
                (F.col("event_day_p") >= wm[:10])
                & (F.col("ts") >= F.lit(wm).cast("timestamp"))
            )
        chosen = "dated_events"
    elif has_docs_cluster_key:
        # lang is a REAL hive partition column on this layout, so the
        # plain row filter below prunes directories by itself (no
        # derived superset filter needed); source/n_chars predicates
        # skip via the in-partition range sort's min-max stats.
        from ..sources.docstore import clustered_documents

        df = layout_parquet(spark, clustered_documents(spark, sf_dir))
        # S19: deleted docs stay in the clustered bytes until the
        # scheduled OPTIMIZE rewrite; reads subtract
        df = apply_tombstones(spark, sf_dir, "documents", df)
        chosen = "clustered_documents"
    else:
        df = current_corpus_table(spark, sf_dir, q.table)  # tombstone-aware
        chosen = "raw"
    for p in q.filters:
        df = df.filter(p.column())
    return df.select(*q.columns), chosen


# ---------------------------------------------------------------------------
# Driver query: sketch-partial distinct counting (rows-only by design —
# DuckDB's approx_count_distinct is a different sketch, so there is no
# cross-engine twin; the exactness claim routed == raw-single-pass and
# the error bound vs true COUNT(DISTINCT) are pinned in
# tests/test_corpus_routing.py, the same posture as the r25/r26
# sketches).
# ---------------------------------------------------------------------------

from ..registry import query  # noqa: E402


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
    df, chosen = route_corpus(spark, sf_dir, q)
    assert chosen == "events_hourly_cube", chosen
    return df
