"""S15 (engine extension): aggregate projections for the CORPUS fact
tables — the doc-stats cube over ``documents`` and the hourly event
rollup over ``events``.

Round 6 generalized projection routing (plans/routing.py) and the SQL
front door (plans/sqlfront.py) past the lineitem star; these are the
deployed layouts that make that generalization earn its keep:

- ``docs_stats_cube_table``: per-(lang, source) partials of the text
  corpus — row counts, char sums, and TOKEN-COUNT sums with min/max
  zone partials. The token count is the expensive part: at 100 TB,
  ``SUM(len(tokenize(text)))`` is a full-corpus regex pass; the cube
  runs that pass ONCE at deploy (the same tokenizer expression the
  query-time plan uses, operators/text.py:25, so the rewrite is
  bit-identical by construction) and every subsequent corpus-profile
  query reads |langs|x|sources| rows — scale-invariant, no text
  column touched.
- ``events_hourly_cube_table``: per-(event_type, hour) partials of
  the event stream — the classic streaming-warehouse rollup, stored at
  the FINEST grain its row bound affords (|types| x |hours| stays
  scale-invariant over corpus size), so every coarser grain
  (day/month/quarter/year) re-aggregates exactly (hour groups are
  whole subsets of coarser groups; all partials are commutative
  monoids) and hour-boundary time-range predicates fold exactly
  (the plans/routing.py module docstring spells out the boundary
  rule).

Both cubes store the SAME partial-state shapes as the lineitem cubes
(int64 fixed-point sums, non-null counts, min/max partials — see
sources/bucketed.py) and both refresh incrementally by additive merge,
proven rebuild-equal in tests/test_corpus_routing.py. Maintenance cost
is O(|delta| + |cube|) with the cube size independent of corpus scale.

Reference parity: the reference keeps its enriched records in a
pre-indexed store and answers queries from the index, never the raw
feed (reference README.md:102-104); these cubes are that posture for
the corpus analytics families.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import cents
from ..operators.text import tokens
from .bucketed import _layout_paths, merge_partial_frames
from .state import session_state, warehouse

# ---------------------------------------------------------------------------
# Stored-partial column contracts (one place per cube; deploy and
# refresh share these so the two can never drift).
# ---------------------------------------------------------------------------

DOCS_CUBE_KEYS = ("lang", "source")
_DOCS_ADD_COLS = ("chars_i", "tokens_i", "stop_i", "cnt_chars", "cnt_text", "cnt")
_DOCS_MIN_COLS = ("min_chars_i", "min_tokens_i", "min_stop_i")
_DOCS_MAX_COLS = ("max_chars_i", "max_tokens_i", "max_stop_i")

EVENTS_CUBE_KEYS = ("event_type", "event_hour")
_EVENTS_ADD_COLS = ("value_i", "cnt_value", "cnt")
_EVENTS_MIN_COLS = ("min_value_i",)
_EVENTS_MAX_COLS = ("max_value_i",)
# Mergeable DISTINCT-COUNT partials: a datasketches HLL sketch is a
# commutative monoid under register-max union, so the cube can answer
# approx_count_distinct(user_id) per group WITHOUT a distinct shuffle
# over the corpus — the Druid/Pinot sketch-rollup pattern. Merge
# equality is LOGICAL: union-of-sub-sketches has the same register
# state (and therefore the same estimate) as the single-pass sketch,
# but the serialized bytes can differ in sparse mode — rebuild-equal
# tests compare sketch columns at the estimate level.
_EVENTS_SKETCH_COLS = ("users_hll",)


def doc_token_count() -> Column:
    """Per-doc whitespace-token count — THE per-row expression shared
    by the cube deploy/refresh AND the router's raw query plan
    (plans/routing.py imports it), so the two can never drift:
    the routed answer is bit-identical to the raw plan because it is
    literally the same expression, executed at deploy instead of per
    query. Oracle twin: ``len(list_filter(string_split_regex(
    lower(trim(text)), '\\s+'), t -> t <> ''))``."""
    return F.size(tokens("text")).cast("long")


def doc_stopword_count() -> Column:
    """Per-doc stopword-token count (integer, so corpus-level stopword
    RATIOS — SUM(stop)/SUM(tokens) — stay exact end to end); shared
    with the router like :func:`doc_token_count`."""
    from ..operators.text import STOPWORDS

    return F.size(
        F.filter(tokens("text"), lambda x: x.isin(*STOPWORDS))
    ).cast("long")


# ---------------------------------------------------------------------------
# The SOURCES dimension — S15's declared-join arm (round-7). The corpus
# has no physical dim table; a real deployment's source registry is
# derived at ingest ("which feeds do we crawl, what kind are they"), so
# the engine derives it the same way: one row per distinct document
# source, with its registry attributes. The derivation is DETERMINISTIC
# and spelled identically here (Spark) and in SOURCES_DIM_SQL (the
# DuckDB CTE the oracles use), so the dim join is differentially
# checkable end to end. At 100 TB the dim is |sources| rows — broadcast
# territory forever.
# ---------------------------------------------------------------------------

SOURCES_DIM_COLS = ("src_id", "s_kind", "s_tier")

# The dim as a DuckDB CTE body over the registered `documents` view —
# the oracle-side twin of sources_dim_frame.
SOURCES_DIM_SQL = """\
SELECT source AS src_id,
       CASE CAST(substr(source, 4) AS INT) % 3
            WHEN 0 THEN 'web' WHEN 1 THEN 'forum' ELSE 'wiki' END AS s_kind,
       CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
            THEN 'curated' ELSE 'crawl' END AS s_tier
FROM (SELECT DISTINCT source FROM documents)"""


def sources_dim_frame(docs: DataFrame) -> DataFrame:
    """The source-registry dim derived from a documents frame: one row
    per distinct ``source`` with its kind/tier attributes. THE Spark
    spelling of SOURCES_DIM_SQL — keep the two in lockstep."""
    num = F.substring(F.col("source"), 4, 16).cast("int")
    return docs.select("source").distinct().select(
        F.col("source").alias("src_id"),
        F.when(num % 3 == 0, "web")
        .when(num % 3 == 1, "forum")
        .otherwise("wiki")
        .alias("s_kind"),
        F.when(num % 2 == 0, "curated").otherwise("crawl").alias("s_tier"),
    )


def sources_dim_table(spark: SparkSession, sf_dir: str) -> str:
    """Deploy (memoized) the sources dim table and return its path."""

    def build() -> DataFrame:
        return sources_dim_frame(table(spark, sf_dir, "documents"))

    return _deploy_cube(spark, sf_dir, "sources_dim", "sources_dim", build)


def refresh_sources_dim(
    spark: SparkSession, sf_dir: str, delta_docs: DataFrame
) -> str:
    """Keep the source registry COMPLETE under ingest: derive the
    delta's dim rows, anti-join against the stored registry, and
    publish a new version only when genuinely new sources appeared
    (the common no-new-source batch is a no-op). Completeness is the
    dim's correctness invariant — the routed plans inner-join it, so
    a missing source would silently drop that source's rows from
    every dim-arm answer."""
    stored_path = sources_dim_table(spark, sf_dir)
    # versioned_parquet (round 13): dim versions are immutable once
    # published and the routed read path memoizes these same paths —
    # per-refresh listing + schema inference was pure fixed cost
    from .snapshots import versioned_parquet

    stored = versioned_parquet(spark, stored_path)
    fresh = sources_dim_frame(delta_docs).join(
        F.broadcast(stored.select("src_id")), "src_id", "left_anti"
    )
    if not fresh.take(1):
        return stored_path
    merged = stored.unionByName(fresh)
    ws = warehouse(spark, sf_dir)
    new_path = ws.publish(stored_path)
    merged.write.mode("overwrite").parquet(new_path)
    ws.projections["sources_dim"] = new_path
    _refresh_dim_view(spark, sf_dir, "sources", new_path)
    return new_path


def _refresh_dim_view(spark, sf_dir: str, name: str, new_path: str) -> None:
    """Keep an ENGINE-registered dim temp view current across a
    refresh's version swing (Engine._ensure_dim_views registers dims
    for the verbatim SQL path and never re-asserts an existing name,
    so the refresh must update it — but only when the engine owns the
    name for this fixture; user views are never touched). Ownership
    applies the SAME column-shape takeover test as
    Engine._ensure_dim_views (round-7 ADVICE): a user temp view that
    took the dim's name over AFTER the ledger entry (its live columns
    differ from the dim's contract) cedes ownership here too instead
    of being clobbered by a refresh that runs during Engine.ingest."""
    ours = session_state(spark).dim_views
    if ours.get(name) != sf_dir:
        return
    from ..plans.routing import CORPUS_DIMS

    d = CORPUS_DIMS.get(name)
    if (
        d is not None
        and spark.catalog.tableExists(name)
        and tuple(spark.table(name).columns) != d.view_cols
    ):
        ours.pop(name, None)  # user takeover: cede, never overwrite
        return
    spark.read.parquet(new_path).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# The EVENT-TYPES dimension — the events star's registry arm (round 7,
# second CORPUS_DIMS instance: proves the dim machinery is generic,
# not documents-specific). A deployment's event taxonomy ("which
# types are engagement vs commerce") is registry data derived at
# ingest; same deterministic dual spelling contract as the sources
# dim. |event types| is registry-sized at any corpus scale.
# ---------------------------------------------------------------------------

EVENT_TYPES_DIM_COLS = ("et_id", "e_category")

EVENT_TYPES_DIM_SQL = """\
SELECT event_type AS et_id,
       CASE event_type
            WHEN 'click' THEN 'engagement'
            WHEN 'view' THEN 'engagement'
            WHEN 'purchase' THEN 'commerce'
            WHEN 'signup' THEN 'account'
            ELSE 'system' END AS e_category
FROM (SELECT DISTINCT event_type FROM events)"""


def event_types_dim_frame(events: DataFrame) -> DataFrame:
    """The event-type taxonomy dim derived from an events frame — THE
    Spark spelling of EVENT_TYPES_DIM_SQL; keep the two in lockstep."""
    et = F.col("event_type")
    return events.select("event_type").distinct().select(
        et.alias("et_id"),
        F.when(et.isin("click", "view"), "engagement")
        .when(et == "purchase", "commerce")
        .when(et == "signup", "account")
        .otherwise("system")
        .alias("e_category"),
    )


def event_types_dim_table(spark: SparkSession, sf_dir: str) -> str:
    """Deploy (memoized) the event-types dim table; returns its path."""

    def build() -> DataFrame:
        return event_types_dim_frame(table(spark, sf_dir, "events"))

    return _deploy_cube(
        spark, sf_dir, "event_types_dim", "event_types_dim", build
    )


def refresh_event_types_dim(
    spark: SparkSession, sf_dir: str, delta_events: DataFrame
) -> str:
    """Keep the taxonomy COMPLETE under ingest — same contract and
    no-op-on-redelivery shape as :func:`refresh_sources_dim`."""
    stored_path = event_types_dim_table(spark, sf_dir)
    from .snapshots import versioned_parquet

    stored = versioned_parquet(spark, stored_path)
    fresh = event_types_dim_frame(delta_events).join(
        F.broadcast(stored.select("et_id")), "et_id", "left_anti"
    )
    if not fresh.take(1):
        return stored_path
    merged = stored.unionByName(fresh)
    ws = warehouse(spark, sf_dir)
    new_path = ws.publish(stored_path)
    merged.write.mode("overwrite").parquet(new_path)
    ws.projections["event_types_dim"] = new_path
    _refresh_dim_view(spark, sf_dir, "event_types", new_path)
    return new_path


def _docs_cube_aggs() -> list:
    """The doc-stats partials: the shared per-row text expressions
    materialized at deploy time."""
    tok = doc_token_count()
    stop = doc_stopword_count()
    chars = F.col("n_chars")
    return [
        F.sum(chars).alias("chars_i"),
        F.sum(tok).alias("tokens_i"),
        F.sum(stop).alias("stop_i"),
        F.count("n_chars").alias("cnt_chars"),
        F.count("text").alias("cnt_text"),
        F.count(F.lit(1)).alias("cnt"),
        F.min(chars).alias("min_chars_i"),
        F.min(tok).alias("min_tokens_i"),
        F.min(stop).alias("min_stop_i"),
        F.max(chars).alias("max_chars_i"),
        F.max(tok).alias("max_tokens_i"),
        F.max(stop).alias("max_stop_i"),
    ]


def _events_cube_aggs() -> list:
    """The event-rollup partials: ``value`` in int64 hundredths (the
    same fixed-point discipline as the money columns — cents() is
    exact on the fixture's 2-decimal values and bit-equal to the
    ``CAST(value AS DECIMAL(18,2))`` oracle form)."""
    v = cents("value")
    return [
        F.sum(v).alias("value_i"),
        F.count("value").alias("cnt_value"),
        F.count(F.lit(1)).alias("cnt"),
        F.min(v).alias("min_value_i"),
        F.max(v).alias("max_value_i"),
        F.hll_sketch_agg("user_id").alias("users_hll"),
    ]


def _deploy_cube(
    spark: SparkSession, sf_dir: str, memo_key: str, name: str, build
) -> str:
    ws = warehouse(spark, sf_dir)
    if memo_key in ws.projections:
        return ws.projections[memo_key]
    tag, wh = _layout_paths(sf_dir)
    path = os.path.join(wh, f"{name}_{tag}")
    build().write.mode("overwrite").parquet(path)
    ws.projections[memo_key] = path
    return path


def docs_stats_cube_table(spark: SparkSession, sf_dir: str) -> str:
    """Deploy the doc-stats aggregate projection (memoized): char and
    token-count partials cubed by (lang, source). Bounded at
    |langs| x |sources| rows at EVERY corpus scale; the full-corpus
    tokenizer pass happens here, once, instead of per query."""

    def build() -> DataFrame:
        # current_documents is tombstone-aware (S19) and reads the
        # maintained clustered layout when deployed — a deploy after a
        # delete or an ingest describes the CURRENT corpus either way
        from ..plans.routing import current_documents

        return (
            current_documents(spark, sf_dir)
            .groupBy(*DOCS_CUBE_KEYS)
            .agg(*_docs_cube_aggs())
        )

    return _deploy_cube(spark, sf_dir, "docs_stats_cube", "docs_stats_cube", build)


def events_hourly_cube_table(spark: SparkSession, sf_dir: str) -> str:
    """Deploy the hourly event rollup (memoized): value partials cubed
    by (event_type, hour). Bounded at |types| x |hours| rows — the
    natural unit a streaming foreachBatch maintainer appends at, and
    the finest grain whose row bound stays independent of corpus
    size (finer storage folds strictly more queries: every coarser
    grain and every hour-boundary predicate)."""

    def build() -> DataFrame:
        # current_events is watermark-aware (S19b) and reads the
        # maintained layout when deployed — a deploy after an expiry
        # or an ingest describes the CURRENT corpus either way
        from ..plans.routing import current_events

        e = current_events(spark, sf_dir)
        return (
            e.withColumn("event_hour", F.date_trunc("hour", F.col("ts")))
            .groupBy(*EVENTS_CUBE_KEYS)
            .agg(*_events_cube_aggs())
        )

    return _deploy_cube(
        spark, sf_dir, "events_hourly_cube", "events_hourly_cube", build
    )


def _refresh_cube(
    spark: SparkSession,
    sf_dir: str,
    memo_key: str,
    stored_path: str,
    delta_cube: DataFrame,
    keys: tuple[str, ...],
    add_cols: tuple[str, ...],
    min_cols: tuple[str, ...],
    max_cols: tuple[str, ...],
    sketch_cols: tuple[str, ...] = (),
) -> str:
    """Merge a delta cube into the stored one and publish a new
    VERSION the memo swings to atomically (readers through the memo
    see the old version until the new one is fully written — the same
    pattern as every other projection refresh)."""
    from .snapshots import versioned_parquet

    merged = merge_partial_frames(
        versioned_parquet(spark, stored_path), delta_cube, keys,
        add_cols, min_cols, max_cols, sketch_cols,
    )
    ws = warehouse(spark, sf_dir)
    new_path = ws.publish(stored_path)
    merged.write.mode("overwrite").parquet(new_path)
    ws.projections[memo_key] = new_path
    return new_path


def refresh_docs_cube(
    spark: SparkSession, sf_dir: str, delta_docs: DataFrame
) -> str:
    """Incrementally maintain the doc-stats cube for one ingested
    document batch: tokenize and cube the DELTA only (the expensive
    regex pass runs over |delta| rows, never the corpus), merge
    additively, publish a new version. Proven rebuild-equal in
    tests/test_corpus_routing.py."""
    stored = docs_stats_cube_table(spark, sf_dir)
    delta_cube = delta_docs.groupBy(*DOCS_CUBE_KEYS).agg(*_docs_cube_aggs())
    return _refresh_cube(
        spark, sf_dir, "docs_stats_cube", stored, delta_cube,
        DOCS_CUBE_KEYS, _DOCS_ADD_COLS, _DOCS_MIN_COLS, _DOCS_MAX_COLS,
    )


def refresh_events_cube(
    spark: SparkSession, sf_dir: str, delta_events: DataFrame
) -> str:
    """Incrementally maintain the hourly event rollup for one ingested
    event batch — the foreachBatch-shaped maintenance step of a
    streaming ingest loop. Proven rebuild-equal in
    tests/test_corpus_routing.py."""
    stored = events_hourly_cube_table(spark, sf_dir)
    delta_cube = (
        delta_events.withColumn("event_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy(*EVENTS_CUBE_KEYS)
        .agg(*_events_cube_aggs())
    )
    return _refresh_cube(
        spark, sf_dir, "events_hourly_cube", stored, delta_cube,
        EVENTS_CUBE_KEYS, _EVENTS_ADD_COLS, _EVENTS_MIN_COLS,
        _EVENTS_MAX_COLS, _EVENTS_SKETCH_COLS,
    )
