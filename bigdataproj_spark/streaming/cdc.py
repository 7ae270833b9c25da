"""ST11 (round 11, r10-VERDICT item 3): streaming consumption of the
change data feed — the standard CDC → derived-table pattern.

S23 gave the warehouse a batch read verb (``table_changes``); this
module is its CONSUMER side: a micro-batch tail that reads each new
commit's change rows and incrementally maintains a downstream derived
table from the INCREMENTS alone — never rescanning the base table.
This is the shape every changelog consumer takes (Delta CDF → silver
aggregate, Debezium → materialized view): the derived table's owner
polls the feed, folds ``insert``/``delete``/``update_*`` rows into
signed deltas, and merges them into the stored aggregate.

Composition with S23b: each poll reads the commits' STORED deltas
(O(|changes|) — sources/snapshots.py stage_changes), so a consumer
polling after every batch pays change-sized work per poll, exactly the
posture a 100 TB deployment needs. The consumer is exactly-once
end to end (round 12, r11-ADVICE item 1): each publish is
staged-then-swing — the new version parquet AND the consumed
watermark version are written to a temp dir and ``os.rename``d into
place as ONE atomic commit point (the engine's no-in-place-writes
contract, sources/txn.py) — so a crash anywhere leaves either the old
version (old watermark) or the new version (new watermark), never a
partial dir and never an applied-but-unrecorded poll. A reconstructed
consumer with the default ``from_version=None`` resumes from the
RECORDED watermark, and the feed's ``(v1, v2]`` window semantics make
the resumed poll disjoint from everything already folded in.

The golden contract (tests/test_streaming.py): k-batch CDC replay ==
one-shot recompute from the final state, through inserts, deletes,
updates, and a MERGE's mixed commit — and a consumer that skipped
polls (catching up over several commits at once) lands on the same
table.

Scale posture: one change-sized groupBy per poll (the increment
aggregate), one derived-table-sized merge join per poll (the derived
table is a grouped aggregate — scale-invariant small, like the
engine's cubes). The no-in-place-writes contract applies: each apply
publishes a NEW version directory and swings the consumer's pointer,
so a reader planned against the previous version never loses files.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The derived table maintained here is a grouped (SUM, COUNT)
# aggregate — the shape of every cube in this engine — parameterized
# by group/measure column so any fact table's feed can drive one
# (documents per-language profile is the default and the golden
# test's instance). Output schema: (<group_col>, total long, n long).
# The measure must be INTEGRAL: the incremental fold is exact only
# under exact arithmetic (the engine's standing determinism rule —
# docs/DETERMINISM.md); a double measure (events.value) would need a
# DECIMAL-cast fold to keep replay == one-shot bit-identical.


def profile_from_state(
    df: DataFrame, group_col: str = "lang", sum_col: str = "n_chars"
) -> DataFrame:
    """The one-shot build of the derived table from a base relation —
    the golden test's 'recompute from the final state'."""
    return df.groupBy(group_col).agg(
        F.sum(sum_col).cast("long").alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


def _increment(
    changes: DataFrame, group_col: str, sum_col: str
) -> DataFrame:
    """One feed window's change rows folded into signed per-group
    deltas: inserts and update postimages add, deletes and update
    preimages subtract — so an update that moved a row between groups
    (or changed its measure) nets out exactly."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    return changes.groupBy(group_col).agg(
        F.sum(sign * F.col(sum_col)).cast("long").alias("d_total"),
        F.sum(sign).cast("long").alias("d_n"),
    )


def _latest_version_dir(table_dir: str) -> tuple[int, str | None]:
    """Highest published ``v{n}`` dir. A ``v{n}`` dir is COMPLETE by
    construction: :func:`_publish` writes to ``_tmp_v{n}`` (which this
    scan never matches) and renames into place atomically, so a crash
    mid-write can only ever leave tmp leftovers, never a partial
    serveable version (round 12, r11-ADVICE item 3)."""
    if not os.path.isdir(table_dir):
        return 0, None
    best = 0
    for entry in os.listdir(table_dir):
        if entry.startswith("v") and entry[1:].isdigit():
            best = max(best, int(entry[1:]))
    return best, (os.path.join(table_dir, f"v{best}") if best else None)


_WATERMARK_FILE = "_consumed_version"


def _publish(
    df: DataFrame, table_dir: str, consumed: int | None = None
) -> str:
    """Atomically publish ``df`` as the derived table's next version:
    write parquet (plus the consumed-watermark sidecar) into
    ``_tmp_v{n}``, then ``os.rename`` to ``v{n}`` — the rename is the
    single commit point, covering data and watermark together. A
    leftover tmp dir from a crashed earlier attempt is removed first,
    so a retried poll never fails on 'path already exists'."""
    import shutil

    v, _path = _latest_version_dir(table_dir)
    tmp = os.path.join(table_dir, f"_tmp_v{v + 1}")
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    df.write.parquet(tmp)
    if consumed is not None:
        with open(os.path.join(tmp, _WATERMARK_FILE), "w") as fh:
            fh.write(str(consumed))
    new_path = os.path.join(table_dir, f"v{v + 1}")
    os.rename(tmp, new_path)
    return new_path


def _version_watermark(version_dir: str) -> int | None:
    """The consumed-through ledger version a SPECIFIC published
    version dir records, or None (pre-sidecar dir)."""
    try:
        with open(os.path.join(version_dir, _WATERMARK_FILE)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def recorded_watermark(table_dir: str) -> int | None:
    """The ledger version the CURRENT derived version has consumed
    through (the sidecar the atomic publish carries), or None when no
    version exists yet / the version predates watermark recording."""
    _v, path = _latest_version_dir(table_dir)
    if path is None:
        return None
    return _version_watermark(path)


def _resolve_start(
    spark: SparkSession, sf_dir: str, table_dir: str,
    from_version: int | None,
) -> int:
    """The consumer-start resolution both consumer classes share —
    see CdcConsumer's docstring for the (a)/(b)/(c) contract."""
    from ..sources.snapshots import _ledger

    if from_version is None:
        from_version = recorded_watermark(table_dir)
    if from_version is None:
        if _latest_version_dir(table_dir)[1] is not None:
            raise ValueError(
                f"derived table {table_dir!r} has versions but no "
                "recorded watermark (it predates watermark "
                "sidecars) — nothing records which commits it has "
                "folded in, so a default resume could double- or "
                "under-count; pass from_version explicitly or "
                "re-bootstrap into a fresh table_dir"
            )
        led = _ledger(spark, sf_dir)
        from_version = led[-1]["version"] if led else 0
    return from_version


def cdc_view_fresh(
    spark: SparkSession, sf_dir: str, table: str, version_dir: str
) -> bool:
    """Whether a CDC-maintained view version is CURRENT for reads:
    its recorded watermark covers every table-touching commit up to
    the read's head — the live ledger head normally, the pinned
    version inside an ``as_of`` block of this warehouse (whose
    installed catalog holds that commit's published version). Commits the
    consumer has not polled past that verifiably did not touch the
    view's table (other tables' ingests, OPTIMIZE, VACUUM) do not
    stale it. A pre-sidecar dir is never fresh (nothing records what
    it folded in). O(#reachable commits) dict work — no I/O beyond
    one small sidecar read."""
    from ..sources.snapshots import _commit_touches, _ledger
    from ..sources.state import session_state

    w = _version_watermark(version_dir)
    if w is None:
        return False
    led = _ledger(spark, sf_dir)
    if not led:
        return True
    pin = session_state(spark).as_of
    if pin is not None and pin.sf_dir == sf_dir:
        head = pin.version
    else:
        head = led[-1]["version"]
    return not any(
        w < e["version"] <= head and _commit_touches(e["note"], table)
        for e in led
    )


def read_derived(
    spark: SparkSession, table_dir: str, group_col: str = "lang"
) -> DataFrame | None:
    """The derived table's CURRENT version, or None before the first
    bootstrap/apply (the group column's type is whatever the bootstrap
    wrote — no schema is assumed here). The read goes through the
    versioned-scan memo (round 13): a published ``v{n}`` dir is
    immutable by the rename-commit construction, so re-listing +
    schema inference per read re-derives a constant (guide §6)."""
    from ..sources.snapshots import versioned_parquet

    _v, path = _latest_version_dir(table_dir)
    if path is None:
        return None
    return versioned_parquet(spark, path).select(group_col, "total", "n")


def apply_increment(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    group_col: str = "lang",
    sum_col: str = "n_chars",
    consumed: int | None = None,
) -> str:
    """Merge one feed window's increments into the derived table:
    full-outer join of the stored aggregate with the signed deltas,
    coalesced sums, groups whose count reaches zero DROPPED (matching
    a from-scratch build, where a dead group simply has no row).
    Atomically publishes a new version dir (with ``consumed`` as its
    watermark sidecar when given) and returns its path."""
    inc = _increment(changes, group_col, sum_col)
    stored = read_derived(spark, table_dir, group_col)
    if stored is None:
        merged = inc.select(
            group_col,
            F.col("d_total").alias("total"),
            F.col("d_n").alias("n"),
        )
    else:
        # eqNullSafe, not a USING join: a NULL group value is one
        # group to groupBy (profile_from_state folds it into one row),
        # so the merge must match it too — a plain full_outer never
        # matches NULL keys and would split the NULL group into
        # duplicate stored/increment rows (round-11 self-review,
        # confirmed by live experiment)
        s, i = stored.alias("s"), inc.alias("i")
        merged = s.join(
            i,
            F.col(f"s.{group_col}").eqNullSafe(F.col(f"i.{group_col}")),
            "full_outer",
        ).select(
            F.coalesce(
                F.col(f"s.{group_col}"), F.col(f"i.{group_col}")
            ).alias(group_col),
            (
                F.coalesce(F.col("s.total"), F.lit(0))
                + F.coalesce(F.col("i.d_total"), F.lit(0))
            ).cast("long").alias("total"),
            (
                F.coalesce(F.col("s.n"), F.lit(0))
                + F.coalesce(F.col("i.d_n"), F.lit(0))
            ).cast("long").alias("n"),
        )
    merged = merged.filter(F.col("n") > 0)
    return _publish(merged, table_dir, consumed)


def bootstrap(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    group_col: str = "lang",
    sum_col: str = "n_chars",
    consumed: int | None = None,
) -> str:
    """Seed the derived table from the initial snapshot — the standard
    CDC bootstrap (snapshot once, then tail the feed from the version
    that snapshot saw). Atomically publishes the profile as the first
    version, with ``consumed`` (the ledger version the snapshot
    reflects) as its watermark sidecar when given."""
    return _publish(
        profile_from_state(df, group_col, sum_col), table_dir, consumed
    )


class CdcConsumer:
    """A change-feed tail maintaining the per-language profile of one
    warehouse table (documents by default) in ``table_dir``.

    ``poll()`` is the micro-batch: read the feed from the last
    consumed version to the current head (the S23b stored deltas make
    this O(|changes since last poll|)), apply the increment, advance
    the watermark. Safe to call when nothing changed (no new commits
    → no read, no write). The DEFAULT start (``from_version=None``)
    resolves in order (round 12, r11-ADVICE item 1): (a) the derived
    table's RECORDED watermark when one exists — a reconstructed
    consumer resumes exactly where the last atomic publish left off,
    commits in between are replayed by the first poll, never skipped;
    (b) refuse when version dirs exist WITHOUT a watermark (a
    pre-watermark table — nothing records what it has folded in, so
    resuming at any guessed version could double- or under-count);
    (c) the current ledger head for a FRESH table — the consumer must
    bootstrap from the CURRENT snapshot, and replaying commits that
    snapshot already contains would double-count every group. Pass an
    explicit version only when bootstrapping from that version's
    state (replay-from-scratch)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        table_dir: str,
        table: str = "documents",
        from_version: int | None = None,
        group_col: str = "lang",
        sum_col: str = "n_chars",
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.table_dir = table_dir
        self.table = table
        self.group_col = group_col
        self.sum_col = sum_col
        self.consumed = _resolve_start(spark, sf_dir, table_dir, from_version)

    def _head(self) -> int | None:
        from ..sources.snapshots import _ledger

        led = _ledger(self.spark, self.sf_dir)
        return led[-1]["version"] if led else None

    def bootstrap(self, df: DataFrame | None = None) -> str:
        """Seed the derived table from the CURRENT snapshot (or an
        explicit ``df`` of it), watermarked at the current ledger head
        — the resume point a reconstructed consumer picks up."""
        head = self._head()
        if head is not None:
            self.consumed = head
        if df is None:
            from ..plans.routing import current_corpus_table

            df = current_corpus_table(self.spark, self.sf_dir, self.table)
        return bootstrap(
            self.spark, self.table_dir, df,
            self.group_col, self.sum_col, consumed=self.consumed,
        )

    def poll(self) -> int:
        """Consume every commit since the last poll; returns how many
        feed rows were applied (0 when already caught up). The
        increment's publish atomically records ``head`` as the new
        watermark, so a crash between poll and the next never loses or
        double-applies a commit on resume."""
        from ..sources.snapshots import table_changes

        head = self._head()
        if head is None or head <= self.consumed:
            return 0
        # lazy checkpoint, materialized by the count: one job, not two
        changes = table_changes(
            self.spark, self.sf_dir, self.table, self.consumed, head
        ).localCheckpoint(eager=False)
        n = changes.count()
        if n:
            apply_increment(
                self.spark, self.table_dir, changes,
                self.group_col, self.sum_col, consumed=head,
            )
        self.consumed = head
        return n

    def derived(self) -> DataFrame:
        df = read_derived(self.spark, self.table_dir, self.group_col)
        if df is None:
            raise ValueError(
                "the derived table has no version yet — bootstrap() it "
                "from the initial snapshot (or poll() past a commit)"
            )
        return df


class CdcProjectionConsumer:
    """ST11b (round 12, r11-VERDICT items 1+3): a change-feed consumer
    maintaining a FIRST-CLASS engine object — a corpus user projection
    in the S16 catalog, stored in the engine's standard partial-state
    contract (exact int64 sums, per-measure non-null counts, min/max
    partials, COUNT(*) — the same columns every built-in cube stores),
    so ``route``/``Engine.sql`` answer matching statements from
    it exactly as from any deployed materialized view. This is "a user
    view maintained BY the feed": refresh-maintained views pay their
    delta merge inside every mutation; this one decouples — mutations
    commit at full speed, the consumer folds the accumulated changes
    on ITS schedule, and the router serves the view only while FRESH
    (no unconsumed table-touching commit — :func:`cdc_view_fresh`;
    stale windows fall to the built-ins/raw, so routing never changes
    an answer).

    The fold family is wider than :class:`CdcConsumer`'s signed
    SUM/COUNT (r11-VERDICT item 3): MIN/MAX (and AVG via sum+count)
    are NON-invertible — a poll whose window deleted a group's max
    row cannot derive the new max from the change rows. Per poll the
    groups are split: groups touched ONLY by inserts take the
    commutative-monoid merge (min/max are monotone under insert-only
    — O(|changes|)); groups with any delete/update_preimage row are
    RECOMPUTED from the head state restricted to exactly those groups
    (the S19 affected-group pattern: broadcast semi on the drop-sized
    group set — O(|rows of drop-touched groups|), never the corpus).
    Replay == one-shot holds bit-exactly for every stored column; the
    golden tests include a poll that deletes a group's max row.

    Durability is :class:`CdcConsumer`'s contract verbatim: atomic
    staged-then-swing publishes carrying the consumed watermark, and
    default-start resume from the recorded watermark. Keys are the
    fact table's OWN columns (dimension-attribute keys need the
    registry join at fold time — declare a refresh-maintained view
    via deploy_projection for those). A consumer whose
    consumed version was undone by RESTORE cannot continue (its folds
    include undone commits — ``table_changes`` refuses the
    unreachable version); re-bootstrap into a fresh table_dir."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        table_dir: str,
        name: str,
        table: str = "documents",
        keys: tuple[str, ...] = ("lang",),
        measures: tuple[str, ...] | None = None,
        from_version: int | None = None,
    ):
        from ..plans.routing import CORPUS_TABLES

        t = CORPUS_TABLES.get(table)
        if t is None:
            raise ValueError(
                f"unknown corpus table {table!r} "
                f"(CDC-maintained views cover {sorted(CORPUS_TABLES)})"
            )
        for k in keys:
            if k not in t.columns:
                raise ValueError(
                    f"CDC-maintained views group by the fact table's own "
                    f"columns; {k!r} is not a column of {table!r} — a "
                    "dimension-attribute key needs the registry join at "
                    "fold time; declare a refresh-maintained view instead "
                    "(deploy_projection)"
                )
        from ..sources.user_projections import _declare

        self.spark = spark
        self.sf_dir = sf_dir
        self.table_dir = table_dir
        self.name = name
        self.table = table
        self.keys = tuple(keys)
        # the catalog entry every publish registers (it validates the
        # measures and builds the partials the view stores)
        self._view = _declare(name, table, self.keys, measures, None)
        self.consumed = _resolve_start(spark, sf_dir, table_dir, from_version)
        # a RESUMED consumer re-registers the existing derived table
        # (a fresh session's catalog starts empty)
        _v, path = _latest_version_dir(table_dir)
        if path is not None:
            self._register(path)

    # -- catalog ----------------------------------------------------------
    def _register(self, path: str) -> None:
        from ..sources.user_projections import _catalog

        _catalog(self.spark, self.sf_dir)[self.name] = replace(
            self._view, path=path, base_path=self.table_dir,
            maintained_by="cdc",
        )

    def _swing(self, new_path: str) -> None:
        from ..sources.user_projections import _catalog

        u = _catalog(self.spark, self.sf_dir).get(self.name)
        if u is not None and u.maintained_by == "cdc":
            u.path = new_path
        # a DROPped view stays dropped — the files keep versioning for
        # a consumer that re-registers later

    # -- build ------------------------------------------------------------
    def _partials(self, df: DataFrame) -> DataFrame:
        from ..sources.user_projections import _build

        return _build(self.spark, self.sf_dir, df, self._view.view)

    def _ns(self, lft: str, rgt: str):
        """Null-safe equi condition on the group keys between two
        aliased frames — groupBy folds NULL key values into one group,
        so every key join here must pair them too (the round-11
        eqNullSafe discipline)."""
        cond = None
        for k in self.keys:
            eq = F.col(f"{lft}.{k}").eqNullSafe(F.col(f"{rgt}.{k}"))
            cond = eq if cond is None else (cond & eq)
        return cond

    def bootstrap(self) -> str:
        """Seed the view from the CURRENT state, watermarked at the
        current ledger head, and register it in the S16 catalog."""
        from ..plans.routing import current_corpus_table

        head = self._head()
        if head is not None:
            self.consumed = head
        path = _publish(
            self._partials(
                current_corpus_table(self.spark, self.sf_dir, self.table)
            ),
            self.table_dir,
            consumed=self.consumed,
        )
        self._register(path)
        return path

    def _head(self) -> int | None:
        from ..sources.snapshots import _ledger

        led = _ledger(self.spark, self.sf_dir)
        return led[-1]["version"] if led else None

    def _read_stored(self) -> DataFrame:
        from ..sources.snapshots import versioned_parquet

        _v, path = _latest_version_dir(self.table_dir)
        if path is None:
            raise ValueError(
                "the derived view has no version yet — bootstrap() it "
                "before polling"
            )
        # immutable published version dir → memoized scan (round 13)
        return versioned_parquet(self.spark, path)

    def derived(self) -> DataFrame:
        """The stored partial-state cube (the bytes the router
        serves); finalized values come from routed queries over it."""
        return self._read_stored()

    # -- the micro-batch --------------------------------------------------
    def poll(self) -> int:
        """Consume every commit since the last poll into the
        maintained view; returns how many feed rows were applied."""
        from ..sources.snapshots import table_changes

        head = self._head()
        if head is None or head <= self.consumed:
            return 0
        # lazy checkpoint, materialized by the count: one job, not two
        changes = table_changes(
            self.spark, self.sf_dir, self.table, self.consumed, head
        ).localCheckpoint(eager=False)
        n = changes.count()
        if n:
            self._apply(changes, head)
        self.consumed = head
        return n

    def _apply(self, changes: DataFrame, head: int) -> None:
        from ..plans.routing import current_corpus_table
        from ..sources.user_projections import merge_delta

        keys = list(self.keys)
        stored = self._read_stored()
        is_add = F.col("_change_type").isin("insert", "update_postimage")
        adds = changes.filter(is_add)
        # drop-touched groups: non-invertible partials (min/max) and
        # dead-group detection need the head state for exactly these.
        # Probe for ANY drop row first (a narrow scan of the already
        # locally-checkpointed changes, ~ms) so the common insert-only
        # poll never pays the distinct's shuffle + checkpoint job
        # (round 13, guide §1.2: fewer eager jobs per poll).
        have_affected = bool(changes.filter(~is_add).head(1))
        if have_affected:
            affected = (
                changes.filter(~is_add).select(*keys).distinct()
                .localCheckpoint(eager=True)
            )
            # adds landing in a drop-touched group are covered by that
            # group's recompute — folding them too would double-count
            adds = adds.alias("a").join(
                F.broadcast(affected.alias("r")), self._ns("a", "r"),
                "left_anti",
            )
        merged = merge_delta(self.spark, self.sf_dir, self._view.view, stored, adds)
        if have_affected:
            fact = current_corpus_table(self.spark, self.sf_dir, self.table)
            recomputed = self._partials(
                fact.alias("f").join(
                    F.broadcast(affected.alias("r")), self._ns("f", "r"),
                    "semi",
                )
            )
            # splice: drop-touched groups replaced wholesale (a group
            # with no surviving rows simply has no recomputed row —
            # matching a from-scratch build)
            merged = (
                merged.alias("m")
                .join(
                    F.broadcast(affected.alias("r")), self._ns("m", "r"),
                    "left_anti",
                )
                .unionByName(recomputed)
            )
        new_path = _publish(merged, self.table_dir, consumed=head)
        self._swing(new_path)

    def gc_versions(self, keep_last: int = 2) -> int:
        """Remove superseded version dirs beyond the newest
        ``keep_last`` (a reader planned against the previous version
        may still be scanning it — same grace rationale as the
        warehouse's VACUUM). Returns how many were removed."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if not os.path.isdir(self.table_dir):
            return 0
        versions = sorted(
            int(e[1:])
            for e in os.listdir(self.table_dir)
            if e.startswith("v") and e[1:].isdigit()
        )
        from ..sources.snapshots import evict_versioned_scan

        doomed = versions[:-keep_last]
        for v in doomed:
            path = os.path.join(self.table_dir, f"v{v}")
            shutil.rmtree(path)
            # hygiene: a pruned dir can never be probed again (reads
            # only ever resolve the LATEST version), so its memo entry
            # is a dead-path leak, not a staleness hazard
            evict_versioned_scan(self.spark, path)
        return len(doomed)


# ---------------------------------------------------------------------------
# Driver query: the consumer's maintained table vs DuckDB recomputing
# the FINAL state read-only — "the increments fold to exactly what a
# from-scratch build of the post-mutation corpus says".
# ---------------------------------------------------------------------------

from ..registry import query  # noqa: E402

_CDC_CONSUMER_ORACLE = """
SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total, COUNT(*) AS n
FROM (
  SELECT lang, n_chars FROM documents WHERE doc_id > 40
  UNION ALL SELECT 'en', 7
)
GROUP BY lang ORDER BY lang
"""


_CDC_VIEW_ORACLE = """
SELECT event_type, user_id,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
  CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
  CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value)
    AS avg_value,
  COUNT(*) AS n
FROM (
  SELECT user_id, event_type, value FROM events
  WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
  UNION ALL SELECT 42, 'click', 999999.99
  UNION ALL SELECT 900000042, 'click', 1.23
)
GROUP BY event_type, user_id
ORDER BY event_type, user_id
"""


@query(
    "r179_cdc_view_routed",
    oracle=_CDC_VIEW_ORACLE,
    tags=("ST11", "S16", "S23", "S19", "A1"),
)
def r179_cdc_view_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST11b end to end (round 12, r11-VERDICT items 1+3): a
    CDC-maintained view is a first-class engine object. A
    CdcProjectionConsumer bootstraps a per-(event_type, user_id)
    activity profile — full partial contract: exact fixed-point sums,
    counts, min/max — registers it in the S16 catalog, then polls the
    feed after an INSERT (a new max for one group plus a brand-new
    user group; pure monoid fold) and a TTL expiry (drop-touched
    groups recomputed from the head state — min/max are
    non-invertible). The final SELECT goes through the SQL front door
    and is ANSWERED FROM THE VIEW (the built-in hourly cube cannot
    fold a user_id grouping); DuckDB recomputes the final state
    read-only."""
    import os

    from ..catalog import TABLES
    from ..engine import Engine
    from ..plans.sqlfront import route_sql
    from ..sources.retention import _demo_corpus

    demo = _demo_corpus(spark, sf_dir, TABLES, demo="cdc_view")
    eng = Engine(spark, demo)
    consumer = CdcProjectionConsumer(
        spark, demo, os.path.join(demo, "cdc_user_activity"),
        name="user_activity", table="events",
        keys=("event_type", "user_id"), measures=("value",),
    )
    consumer.bootstrap()
    for stmt in (
        "INSERT INTO events VALUES "
        "(900000001, TIMESTAMP '2024-01-28 12:00:00', 42, 'click', "
        "999999.99, '{}'), "
        "(900000002, TIMESTAMP '2024-01-28 12:30:00', 900000042, "
        "'click', 1.23, '{}')",
        "DELETE FROM events WHERE ts < '2024-01-12'",
    ):
        eng.sql(stmt)
        consumer.poll()
    sql = (
        "SELECT event_type, user_id, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value, "
        "CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value, "
        "CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) "
        "AS avg_value, "
        "COUNT(*) AS n FROM events GROUP BY event_type, user_id "
        "ORDER BY event_type, user_id"
    )
    df, chosen = route_sql(spark, demo, sql)
    assert chosen == "user:user_activity", chosen
    return df


@query(
    "r178_cdc_consumer_profile",
    oracle=_CDC_CONSUMER_ORACLE,
    tags=("ST11", "S23", "S19", "A1"),
)
def r178_cdc_consumer_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST11 end to end (round 11, r10-VERDICT item 3): a CDC consumer
    bootstraps the per-language profile from the pristine corpus, then
    polls the change feed after each of three commits — an INSERT
    (including a brand-new 'zz' language group), a bulk predicate
    DELETE, and a whole-group DELETE that kills 'zz' again — folding
    each increment into the maintained table. The returned DERIVED
    table (never rebuilt from the base) matches DuckDB recomputing the
    final state read-only: base docs above the deleted id range plus
    the surviving insert."""
    import os

    from ..catalog import TABLES
    from ..engine import Engine
    from ..plans.routing import current_documents
    from ..sources.retention import _demo_corpus

    demo = _demo_corpus(spark, sf_dir, TABLES, demo="cdc_consumer")
    eng = Engine(spark, demo)
    consumer = CdcConsumer(
        spark, demo, os.path.join(demo, "cdc_derived")
    )
    consumer.bootstrap(current_documents(spark, demo))
    for stmt in (
        "INSERT INTO documents VALUES "
        "(900000501, 'sieben7', 'en', 'src97', 7), "
        "(900000502, 'vier', 'zz', 'src97', 4)",
        "DELETE FROM documents WHERE doc_id <= 40",
        "DELETE FROM documents WHERE lang = 'zz'",
    ):
        eng.sql(stmt)
        consumer.poll()
    return consumer.derived().orderBy("lang")
