"""S15 (engine extension): the corpus side of the at-rest catalog —
the per-row text expressions the docs cube stores, the registry arms
(the sources and event-types dims) and the deploy names of the two
corpus cubes.

The cubes themselves are declared views (plans/routing.py
BUILTIN_VIEWS) built, refreshed and recomputed by the one view
lifecycle (sources/user_projections.py):

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
from ..operators.text import tokens
from .bucketed import _layout_paths
from .state import session_state, warehouse


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


def registry_table(spark: SparkSession, sf_dir: str, arm: str) -> str:
    """Deploy (memoized) the registry of corpus arm ``arm`` — derived
    from its fact's fixture rows by the arm's ``derive`` — and return
    its path. Its state entry is ``{arm}_dim``."""
    from ..plans.routing import CORPUS_DIMS

    a = CORPUS_DIMS[arm]
    ws = warehouse(spark, sf_dir)
    key = f"{arm}_dim"
    if key not in ws.projections:
        tag, wh = _layout_paths(sf_dir)
        path = os.path.join(wh, f"{key}_{tag}")
        a.derive(table(spark, sf_dir, a.parent)).write.mode("overwrite").parquet(path)
        ws.projections[key] = path
    return ws.projections[key]


def refresh_registry(
    spark: SparkSession, sf_dir: str, arm: str, delta: DataFrame
) -> str:
    """Keep a registry COMPLETE under ingest: derive the delta's
    registry rows, anti-join against the stored registry, and publish
    a new version only when genuinely new keys appeared (the common
    no-new-key batch and a redelivered batch are no-ops).
    Completeness is the registry's correctness invariant — the routed
    plans inner-join it, so a missing key would silently drop that
    key's rows from every arm answer."""
    from ..plans.routing import CORPUS_DIMS

    # versioned_parquet (round 13): registry versions are immutable
    # once published and the routed read path memoizes these same
    # paths — per-refresh listing + schema inference was pure fixed cost
    from .snapshots import versioned_parquet

    a = CORPUS_DIMS[arm]
    stored_path = registry_table(spark, sf_dir, arm)
    stored = versioned_parquet(spark, stored_path)
    fresh = a.derive(delta).join(
        F.broadcast(stored.select(a.dim_key)), a.dim_key, "left_anti"
    )
    if not fresh.take(1):
        return stored_path
    ws, key = warehouse(spark, sf_dir), f"{arm}_dim"
    new_path = ws.publish(stored_path)
    stored.unionByName(fresh).write.mode("overwrite").parquet(new_path)
    ws.projections[key] = new_path
    _refresh_dim_view(spark, sf_dir, arm, new_path)
    return new_path


def sources_dim_table(spark: SparkSession, sf_dir: str) -> str:
    return registry_table(spark, sf_dir, "sources")


def event_types_dim_table(spark: SparkSession, sf_dir: str) -> str:
    return registry_table(spark, sf_dir, "event_types")


def docs_stats_cube_table(spark: SparkSession, sf_dir: str) -> str:
    from .user_projections import deploy_builtin

    return deploy_builtin(spark, sf_dir, "docs_stats_cube")


def events_hourly_cube_table(spark: SparkSession, sf_dir: str) -> str:
    from .user_projections import deploy_builtin

    return deploy_builtin(spark, sf_dir, "events_hourly_cube")
