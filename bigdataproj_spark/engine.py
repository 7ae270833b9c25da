"""User-facing engine facade (SURVEY.md §3.2: entry points E1 SQL,
E2 DataFrame, E3 streaming over one shared Catalyst backend).

A user of the reference project gets the same capabilities behind one
object::

    from bigdataproj_spark.engine import Engine

    eng = Engine.local(sf_dir="/root/testdata/sf0.01")
    eng.sql("SELECT count(*) FROM lineitem")            # E1
    eng.table("documents").filter(...)                  # E2
    eng.ingest_json(records)                            # R1 surface
    eng.enrich_tweets(df)                               # R3-R9 pipeline
    eng.query(\"q01_pricing_summary\")                    # registry query
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from .catalog import TABLES, register_views, table
from .registry import load_all
from .schemas import TWEET
from .session import get_spark

import re as _re

_ASOF_RE = _re.compile(
    r"\bFOR\s+SYSTEM_VERSION\s+AS\s+OF\s+(\d+)\b", _re.IGNORECASE
)
# S22b (round 12): the timestamp spelling. The keyword is matched on
# the MASKED text (so the phrase inside a string literal is data); the
# quoted timestamp itself is masked there, so it is read back from the
# ORIGINAL text at the match end (_read_quoted).
_ASOF_TS_RE = _re.compile(
    r"\bFOR\s+SYSTEM_TIMESTAMP\s+AS\s+OF\b", _re.IGNORECASE
)


def _read_quoted(text: str, pos: int) -> tuple[str, int]:
    """Read a single-quoted SQL literal (with ``''`` escapes) starting
    at/after ``pos``; returns (value, end index just past the closing
    quote). Raises with the expected-form hint otherwise."""
    i, n = pos, len(text)
    while i < n and text[i].isspace():
        i += 1
    if i >= n or text[i] != "'":
        raise ValueError(
            "FOR SYSTEM_TIMESTAMP AS OF expects a quoted timestamp "
            "literal, e.g. FOR SYSTEM_TIMESTAMP AS OF "
            "'2026-08-17 12:00:00'"
        )
    i += 1
    out: list[str] = []
    while i < n:
        c = text[i]
        if c == "'":
            if i + 1 < n and text[i + 1] == "'":
                out.append("'")
                i += 2
                continue
            return "".join(out), i + 1
        out.append(c)
        i += 1
    raise ValueError(
        "unterminated timestamp literal after FOR SYSTEM_TIMESTAMP AS OF"
    )


def _scan_code(script: str):
    """Yield ``(i, char, in_code)`` over a SQL text: ``in_code`` is
    False inside single-quoted strings (with ``''`` escapes — a quote
    inside a string never closes it), double-quoted identifiers,
    ``--`` line comments, and ``/* */`` block comments. The opening
    and closing delimiters themselves are reported as non-code, so a
    semicolon or keyword inside ANY of these regions never acts as
    syntax. One state machine serves both the script splitter and the
    AS OF clause scanner (round-9 ADVICE items 2 and 5)."""
    i, n = 0, len(script)
    in_sq = in_dq = in_line = in_block = False
    while i < n:
        c = script[i]
        if in_line:
            yield i, c, False
            if c == "\n":
                in_line = False
        elif in_block:
            if c == "*" and i + 1 < n and script[i + 1] == "/":
                yield i, c, False
                yield i + 1, "/", False
                i += 1
                in_block = False
            else:
                yield i, c, False
        elif in_sq:
            yield i, c, False
            if c == "'":
                if i + 1 < n and script[i + 1] == "'":
                    yield i + 1, "'", False
                    i += 1
                else:
                    in_sq = False
        elif in_dq:
            yield i, c, False
            if c == '"':
                in_dq = False
        elif c == "'":
            in_sq = True
            yield i, c, False
        elif c == '"':
            in_dq = True
            yield i, c, False
        elif c == "-" and i + 1 < n and script[i + 1] == "-":
            in_line = True
            yield i, c, False
        elif c == "/" and i + 1 < n and script[i + 1] == "*":
            in_block = True
            yield i, c, False
        else:
            yield i, c, True
        i += 1


def _mask_noncode(script: str) -> str:
    """The script with every non-code character (string/identifier
    contents, comments) blanked to a space — same length, so regex
    match spans over the mask are valid spans into the original."""
    return "".join(c if code else " " for _i, c, code in _scan_code(script))


def _split_script(script: str) -> list[str]:
    """Split a SQL script on statement-separating semicolons, honoring
    single-quoted strings (with ``''`` escapes — a quote inside a
    string never closes it), double-quoted identifiers, ``--`` line
    comments, and ``/* */`` block comments: a semicolon inside any of
    these does not split. Empty fragments (trailing semicolon, blank
    lines between statements) are dropped."""
    stmts: list[str] = []
    buf: list[str] = []
    for _i, c, code in _scan_code(script):
        if code and c == ";":
            stmt = "".join(buf).strip()
            if stmt:
                stmts.append(stmt)
            buf = []
        else:
            buf.append(c)
    tail = "".join(buf).strip()
    if tail:
        stmts.append(tail)
    return stmts


class Engine:
    """Thin facade over SparkSession + the operator library. The "IR"
    is deliberately Catalyst's own logical plan (SURVEY.md §3.2) — this
    class adds naming, fixtures, and pipeline composition, never a new
    plan representation."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    @classmethod
    def local(cls, sf_dir: str, app_name: str = "bigdataproj-engine") -> "Engine":
        return cls(get_spark(app_name), sf_dir)

    # -- E1: SQL ---------------------------------------------------------
    def sql(
        self,
        query: str,
        routed: bool = True,
        as_of: int | str | None = None,
    ) -> DataFrame:
        """Run SQL with all fixture tables registered as views.

        With ``routed`` (the default), the statement is first offered
        to the SQL front door (plans/sqlfront.py): a grouped aggregate
        or scan in the routable family is answered from the cheapest
        deployed projection/layout — bit-identical by construction and
        differentially fuzzed — and anything else falls through to
        ``spark.sql`` verbatim, so routing can only change the plan,
        never the answer. ``routed=False`` forces the verbatim path
        (the A/B handle tests and benchmarks use).

        The registered-views marker lives on the SESSION keyed by
        sf_dir, not on this Engine: views are session-global, so two
        Engines sharing one session (getOrCreate reuses it) would
        otherwise silently serve each other's fixture data once the
        second one re-registered the same view names."""
        from .sources.state import session_state

        sess = session_state(self.spark)
        if sess.views_for != self.sf_dir:
            register_views(self.spark, self.sf_dir)
            sess.views_for = self.sf_dir
            # every fact view is the fixture again: no earlier
            # registration is current, whatever its epoch record says
            sess.fact_view_epoch.clear()
            # the engine now owns the maintained fact-view names (the
            # ownership ledger _ensure_current_views consults — a user
            # createOrReplaceTempView after this point takes the name
            # over and is never clobbered, same contract as dims)
            for name in ("lineitem", "orders", "documents", "events"):
                sess.fact_views[name] = self.sf_dir
                # plan identity of OUR registration (canonicalized, so
                # stable across lookups) — the takeover test compares
                # against this, not column shape, so a user view with
                # the fixture's exact columns is still detected
                sess.fact_view_ids[name] = self.spark.table(name).semanticHash()
        # S22: snapshot reads. ``FOR SYSTEM_VERSION AS OF n`` (the
        # Delta/Iceberg spelling) pins the WHOLE statement to one
        # committed warehouse version — this engine's snapshots are
        # warehouse-wide, so a multi-table statement reads one
        # consistent commit; clauses naming different versions refuse.
        # The result is pinned eagerly because exiting the snapshot
        # context re-points the verbatim path's temp views; for large
        # historical row-level scans use Engine.as_of() and consume
        # the DataFrame inside the block (routed/scan relations
        # resolve their file paths at plan time and stay valid).
        if as_of is None:
            # scan for the clause in CODE regions only (round-9 ADVICE
            # item 2): the masked text blanks string literals and
            # comments, so 'FOR SYSTEM_VERSION AS OF 3' inside a
            # quoted value or a comment is data, never a pin; mask
            # spans are valid spans into the original (same length)
            masked = _mask_noncode(query)
            hits = list(_ASOF_RE.finditer(masked))
            ts_hits = list(_ASOF_TS_RE.finditer(masked))
            if hits and ts_hits:
                raise ValueError(
                    "one snapshot pin per statement — FOR "
                    "SYSTEM_VERSION and FOR SYSTEM_TIMESTAMP clauses "
                    "cannot mix (the engine's snapshots are "
                    "warehouse-wide)"
                )
            spans: list[tuple[int, int]] = []
            versions: set[int] = set()
            if ts_hits:
                # S22b: each timestamp resolves against the ledger's
                # per-commit wall clocks (sources/snapshots.py
                # resolve_timestamp — latest commit with wall <= ts,
                # pre-history refuses with the earliest-reachable hint)
                from .sources.snapshots import resolve_timestamp

                for h in ts_hits:
                    val, end = _read_quoted(query, h.end())
                    versions.add(
                        resolve_timestamp(self.spark, self.sf_dir, val)
                    )
                    spans.append((h.start(), end))
            elif hits:
                versions = {int(m.group(1)) for m in hits}
                spans = [(h.start(), h.end()) for h in hits]
            if spans:
                if len(versions) > 1:
                    raise ValueError(
                        "one snapshot version per statement — the "
                        "engine's snapshots are warehouse-wide, so "
                        f"AS OF versions {sorted(versions)} cannot "
                        "both hold"
                    )
                as_of = versions.pop()
                out, last = [], 0
                for start, end in spans:
                    out.append(query[last:start])
                    out.append(" ")
                    last = end
                out.append(query[last:])
                query = "".join(out)
        if as_of is not None:
            from .sources.snapshots import as_of as _as_of

            if isinstance(as_of, str):
                from .sources.snapshots import resolve_timestamp

                as_of = resolve_timestamp(self.spark, self.sf_dir, as_of)
            with _as_of(self.spark, self.sf_dir, as_of):
                return self.sql(query, routed=routed).localCheckpoint(
                    eager=True
                )
        if routed:
            from .plans.ddl import try_ddl
            from .plans.sqlfront import UnsupportedSQL, route_sql

            # engine DDL first (CREATE/DROP/SHOW MATERIALIZED VIEW —
            # Spark has no such syntax, so these never belong to the
            # verbatim path; malformed forms error with OUR reason)
            ddl = try_ddl(self.spark, self.sf_dir, query)
            if ddl is not None:
                return ddl
            try:
                df, _ = route_sql(self.spark, self.sf_dir, query)
                return df
            except UnsupportedSQL:
                pass
        # The verbatim path reads the session temp views; routed plans
        # never do — so both fallback-only fixups live HERE, off the
        # routed hot path (round-7 review findings).
        self._ensure_current_views()
        self._ensure_dim_views(query)
        return self.spark.sql(query)

    def _ensure_current_views(self) -> None:
        """Re-point the verbatim path's fact views at the MAINTAINED
        relations once an ingest (or delete) has actually CHANGED the
        corpus, so a post-ingest verbatim (or unroutable) statement
        describes the same base+delta corpus the routed plans describe
        — sql()'s 'routing can only change the plan, never the answer'
        invariant, extended across ingest.

        Two gates (round-7 ADVICE): (1) re-pointing keys on the
        warehouse's INGESTED set (written by refresh_warehouse when a
        delta is applied), not on mere layout deployment — a session
        that only ran routed queries keeps its routed=False A/B
        baselines on the fixture parquet; (2) the fact-view names have
        the same ownership ledger as dims (SessionState.fact_views): a user's
        own temp view under one of these names always wins. Takeover is
        detected by PLAN IDENTITY (round-8 ADVICE item 3): the engine
        records the semanticHash of every view it registers
        (SessionState.fact_view_ids), and a view whose current plan no longer
        matches — even one with the fixture's exact column set, e.g. a
        filtered copy — is ceded, never clobbered. Canonicalized plan
        hashes are stable across lookups, so an untouched engine view
        always matches its own record."""
        from .plans.routing import current_documents, current_events
        from .plans.routing import current_lineitem, current_orders
        from .schemas import FIXTURE_SCHEMAS

        from .sources.state import session_state, warehouse

        sess = session_state(self.spark)
        ws = warehouse(self.spark, self.sf_dir)
        if not ws.ingested:
            return
        ours = sess.fact_views
        li_cols = tuple(FIXTURE_SCHEMAS["lineitem"].fieldNames())
        sources = {
            # lineitem re-projected to the FIXTURE schema: the bucketed
            # layout also stores derived fixed-point columns, which
            # must not leak into a verbatim SELECT *
            "lineitem": lambda: current_lineitem(
                self.spark, self.sf_dir
            ).select(*li_cols),
            "orders": lambda: current_orders(self.spark, self.sf_dir),
            "documents": lambda: current_documents(self.spark, self.sf_dir),
            "events": lambda: current_events(self.spark, self.sf_dir),
        }
        ids = sess.fact_view_ids
        seen = sess.fact_view_epoch
        for name, open_current in sources.items():
            if name not in ws.ingested:
                continue
            # epoch gate (round-9 review finding): re-register — and
            # pay the plan-identity check — only when a mutation
            # actually moved the table's epoch since OUR last
            # registration. Steady-state statements cost zero catalog
            # traffic; if a user took the name over meanwhile, we were
            # not going to touch it anyway, and the next mutation's
            # check cedes it properly.
            cur_epoch = ws.mutation_epoch.get(name, 0)
            if name in ours and seen.get(name) == (self.sf_dir, cur_epoch):
                continue
            if self.spark.catalog.tableExists(name):
                if name not in ours:
                    continue  # user-owned from the start: theirs wins
                registered_id = ids.get(name)
                taken_over = (
                    self.spark.table(name).semanticHash() != registered_id
                    if registered_id is not None
                    # no identity record (view predates the ledger):
                    # fall back to the column-shape test
                    else tuple(self.spark.table(name).columns)
                    != tuple(FIXTURE_SCHEMAS[name].fieldNames())
                )
                if taken_over:
                    # a user view TOOK OVER the name (its plan is no
                    # longer the one we registered — even with the
                    # fixture's exact columns): cede, never re-assert
                    ours.pop(name, None)
                    ids.pop(name, None)
                    seen.pop(name, None)
                    continue
            open_current().createOrReplaceTempView(name)
            ours[name] = self.sf_dir
            ids[name] = self.spark.table(name).semanticHash()
            seen[name] = (self.sf_dir, cur_epoch)

    def _ensure_dim_views(self, query: str) -> None:
        """Register any engine-maintained CORPUS DIM a statement
        mentions as a temp view, so the VERBATIM fallback answers it
        too (round-7 review finding: a dim-join statement outside the
        routable family — a row-level scan, an OUTER dim join, a
        window function over the join — previously crashed in
        spark.sql with TABLE_OR_VIEW_NOT_FOUND instead of answering;
        the refusal contract is 'fall back, never fail'). A view of
        the same name the ENGINE did not create is never clobbered —
        if the user registered their own ``sources``, their statement
        means their table. The deploy behind ``open`` is memoized.

        Mentioned-dim detection is AST-first (round-7 ADVICE): where
        the statement parses, the table set comes from DuckDB's parse
        tree, so a string literal or column alias that merely CONTAINS
        a dim's name (e.g. ``'sources'`` as a value) never triggers
        the dim's full-distinct deploy scan; only unparseable
        statements fall back to the word-boundary regex."""
        import re as _re

        from .plans.routing import CORPUS_DIMS
        from .plans.sqlfront import mentioned_tables

        referenced = mentioned_tables(query)

        # name -> sf_dir the ENGINE registered the view for; an
        # existing view is only ever replaced when it is ours AND for
        # a different fixture — so a user view under a dim's name
        # always wins, even one that overwrote an earlier engine
        # registration (the engine never re-asserts a name that
        # already resolves for this fixture). Dim REFRESHES keep
        # engine-owned views current (sources/corpus_cubes.py).
        from .sources.state import session_state

        ours = session_state(self.spark).dim_views
        for name, d in CORPUS_DIMS.items():
            if referenced is not None:
                if name not in referenced:
                    continue
            elif not _re.search(rf"\b{name}\b", query, _re.IGNORECASE):
                continue
            if self.spark.catalog.tableExists(name):
                if name not in ours:
                    continue  # user-owned from the start: theirs wins
                if tuple(self.spark.table(name).columns) != d.view_cols:
                    # a user view TOOK OVER the name after our
                    # registration (different shape): cede ownership
                    ours.pop(name, None)
                    continue
                if ours[name] == self.sf_dir:
                    continue  # ours and current for this fixture
            d.open(self.spark, self.sf_dir).createOrReplaceTempView(name)
            ours[name] = self.sf_dir

    # -- E2: DataFrame ----------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return table(self.spark, self.sf_dir, name)

    @property
    def tables(self) -> tuple[str, ...]:
        return TABLES

    def execute(self, script: str, atomic: bool = False) -> DataFrame:
        """Run a multi-statement SQL SCRIPT: statements split on
        semicolons OUTSIDE string/identifier quoting (single quotes
        with ``''`` escapes, double-quoted identifiers) and comments,
        executed in order through :meth:`sql`, last statement's result
        returned — the psql-shaped contract a CDC script expects::

            eng.execute(\"\"\"
                INSERT INTO orders VALUES (...);
                MERGE INTO orders USING (...) s ON ... ;
                DELETE FROM orders WHERE o_orderkey IN (...);
                SELECT ... FROM lineitem JOIN orders ...;
            \"\"\")

        Each DML statement keeps its own WarehouseTxn atomicity and
        its own commit — by default a failed statement stops the
        script with the prior statements COMMITTED (the warehouse-wide
        ledger makes recovery explicit: DESCRIBE HISTORY shows exactly
        how far the script got, and RESTORE rolls back to any earlier
        commit).

        ``atomic=True`` (round 10, r9-VERDICT item 5) makes that
        recovery automatic: the pre-script version is recorded, and a
        failure anywhere in the script RESTOREs the warehouse to it —
        committed earlier statements are undone (their files removed,
        history truncated to the pre-script version plus one restore
        commit) and the original error re-raises. A script whose
        failure preceded any commit restores nothing. The one
        un-undoable verb is VACUUM: a script that vacuums past the
        pre-script version destroys its own rollback point, and the
        failure then raises with BOTH errors named."""
        stmts = _split_script(script)
        if not stmts:
            raise ValueError("empty script (no statements)")
        pre: int | None = None
        if atomic:
            from .sources.snapshots import _ledger, ensure_base

            ensure_base(self.spark, self.sf_dir)
            pre = _ledger(self.spark, self.sf_dir)[-1]["version"]
        out: DataFrame | None = None
        try:
            for stmt in stmts:
                out = self.sql(stmt)
        except BaseException as err:
            if atomic:
                from .sources.snapshots import _ledger, restore_warehouse

                led = _ledger(self.spark, self.sf_dir)
                if led and led[-1]["version"] != pre:
                    try:
                        restore_warehouse(self.spark, self.sf_dir, pre)
                    except Exception as rec:
                        raise RuntimeError(
                            "atomic script failed AND the rollback to "
                            f"pre-script version {pre} failed: {rec} "
                            "(the script's committed statements "
                            "remain; DESCRIBE HISTORY shows how far "
                            "it got)"
                        ) from err
            raise
        assert out is not None
        return out

    # -- S22: snapshot reads (time travel) ---------------------------------
    def history(self) -> DataFrame:
        """The reachable committed versions (``DESCRIBE HISTORY``'s
        result set): one row per warehouse mutation, oldest first."""
        from .sources.snapshots import history_df

        return history_df(self.spark, self.sf_dir)

    def as_of(self, version: int | None = None, timestamp: str | None = None):
        """Context manager pinning every read inside the block to the
        given committed version — the lazy-friendly twin of the
        ``FOR SYSTEM_VERSION AS OF n`` SQL spelling (see sql()).
        S22b: ``timestamp=`` pins to the version that was current at
        that wall-clock moment instead (``FOR SYSTEM_TIMESTAMP AS OF
        '<ts>'``'s twin; resolution rules in
        sources/snapshots.py resolve_timestamp)."""
        from .sources.snapshots import as_of, resolve_timestamp

        if (version is None) == (timestamp is None):
            raise ValueError(
                "as_of takes exactly one of version= or timestamp="
            )
        if timestamp is not None:
            version = resolve_timestamp(self.spark, self.sf_dir, timestamp)
        return as_of(self.spark, self.sf_dir, version)

    def table_changes(
        self, table: str, v1: int | str, v2: int | str
    ) -> DataFrame:
        """S23: the change data feed — every row ``table`` gained or
        lost in each commit of ``(v1, v2]``, tagged with
        ``_change_type`` / ``_commit_version`` / ``_commit_note``
        (Delta's ``table_changes`` shape). SQL spelling:
        ``SELECT * FROM table_changes('orders', 1, 3)``. S22b: either
        bound may be a timestamp string — the window is then "changes
        committed in ``(ts1, ts2]``"."""
        from .sources.snapshots import table_changes

        return table_changes(self.spark, self.sf_dir, table, v1, v2)

    # -- Registry queries --------------------------------------------------
    def query(self, name: str) -> DataFrame:
        """Run a registered engine query by name (see COVERAGE.md)."""
        return load_all()[name].build(self.spark, self.sf_dir)

    def explain(self, name: str) -> str:
        """Physical plan of a registry query (the plan-shape review
        surface: PushedFilters / ReadSchema / join strategies —
        SURVEY.md §4's optimizer story is plan assertions)."""
        from .plans import physical_plan

        return physical_plan(self.query(name))

    def query_names(self) -> list[str]:
        return sorted(load_all())

    def explain_sql(self, query: str) -> tuple[str, str]:
        """(chosen layout, physical plan) for a SQL statement — the
        introspection twin of :meth:`sql`: ``chosen`` is the
        projection/layout name the front door picked, "raw" for the
        router's raw-table plan, or "spark.sql: <refusal reason>"
        when the statement is outside the routable family and runs
        verbatim."""
        from .plans import physical_plan
        from .plans.sqlfront import UnsupportedSQL, route_sql

        try:
            df, chosen = route_sql(self.spark, self.sf_dir, query)
        except UnsupportedSQL as e:
            # round-7 (r6-VERDICT item 7): say WHY the statement fell
            # back — the family-refusal reason rides along, so a user
            # can tell "window functions are not routable" apart from
            # a typo'd column
            return f"spark.sql: {e}", physical_plan(self.sql(query, routed=False))
        return chosen, physical_plan(df)

    # -- S13: routed queries ------------------------------------------------
    def aggregate(self, spec) -> DataFrame:
        """Answer a logical :class:`~bigdataproj_spark.plans.routing.AggQuery`
        (lineitem star) or :class:`~bigdataproj_spark.plans.routing.TableAggQuery`
        (documents/events) through :func:`~bigdataproj_spark.plans.routing.route`:
        the cheapest deployed projection that subsumes it, else the raw
        plan — the engine's materialized-view matching front door. The
        caller never names a layout."""
        from .plans.routing import route_spec

        df, _ = route_spec(self.spark, self.sf_dir, spec)
        return df

    def scan(self, spec) -> DataFrame:
        """Answer a :class:`~bigdataproj_spark.plans.routing.ScanQuery`
        (lineitem) or :class:`~bigdataproj_spark.plans.routing.TableScanQuery`
        (corpus tables) through
        :func:`~bigdataproj_spark.plans.routing.route_scan`: the first
        clustered layout its range predicates select (Z-order, date- or
        day-partitioned, lang-clustered), else the raw table."""
        from .plans.routing import route_spec

        df, _ = route_spec(self.spark, self.sf_dir, spec)
        return df

    def deploy_projection(
        self, name: str, keys, measures=None, table="lineitem", time_key=None
    ):
        """S16: materialize a user-declared aggregate projection over
        ``table`` — the lineitem star, or a corpus fact table
        (documents/events) with an optional HOUR-grain
        ``time_key=(alias, ts_col)`` — and register it with that
        table's router: from this call on, matching specs AND matching
        SQL through :meth:`sql` are answered from it. Declarable keys
        and measures: sources/user_projections.py. Deploying a name
        replaces the view that held it, over any table. The same views
        are declarable as SQL text through :meth:`sql` (plans/ddl.py)."""
        from .sources.user_projections import deploy_projection

        return deploy_projection(
            self.spark, self.sf_dir, name, tuple(keys),
            tuple(measures) if measures else None, table,
            tuple(time_key) if time_key else None,
        )

    def ingest(
        self,
        *,
        lineitem: DataFrame | None = None,
        orders: DataFrame | None = None,
        documents: DataFrame | None = None,
        events: DataFrame | None = None,
    ) -> dict[str, str]:
        """Apply one mixed ingest batch to EVERY deployed layout in
        dependency order (sources/maintenance.py refresh_warehouse) —
        the engine-level write path matching the reference's
        ingest-then-query-the-index posture: after this call, routed
        queries, raw fallbacks, scans, and user projections all
        describe base + delta. Returns {layout: table/path}."""
        from .sources.maintenance import refresh_warehouse

        return refresh_warehouse(
            self.spark, self.sf_dir,
            lineitem=lineitem, orders=orders,
            documents=documents, events=events,
        )

    def optimize(self) -> dict[str, str]:
        """Run the scheduled OPTIMIZE pass: rewrite the append-degraded
        row-level layouts back to their globally-clustered forms with
        atomic version swings (sources/maintenance.py
        optimize_warehouse)."""
        from .sources.maintenance import optimize_warehouse

        return optimize_warehouse(self.spark, self.sf_dir)

    def gc(self, retain_seconds: float = 0.0) -> dict[str, int]:
        """Run the scheduled VACUUM: delete every superseded layout
        version no serving memo references (sources/maintenance.py
        gc_warehouse). Run at a quiet point on the OPTIMIZE cadence —
        a DataFrame planned against a superseded version errors after
        GC, exactly the Delta/Iceberg VACUUM caveat. ``retain_seconds``
        is the VACUUM RETAIN guard: superseded versions younger than
        the window survive until a later pass (pass your longest query
        duration when other sessions may hold plans)."""
        from .sources.maintenance import gc_warehouse

        return gc_warehouse(self.spark, self.sf_dir, retain_seconds)

    def delete(self, table: str, keys) -> dict[str, str]:
        """S19: targeted delete — tombstones + eager affected-group
        cube rebuilds, all-or-nothing (sources/retention.py). Order
        deletes cascade to lineitems. Also reachable as SQL text:
        ``DELETE FROM documents|orders WHERE <key> IN (...)``."""
        from .sources.retention import delete_documents, delete_orders

        if table == "documents":
            return delete_documents(self.spark, self.sf_dir, keys)
        if table == "orders":
            return delete_orders(self.spark, self.sf_dir, keys)
        raise ValueError(f"no delete path for table {table!r}")

    def expire_events(self, before_ts: str) -> dict[str, str]:
        """S19b: TTL retention on the event log — expire everything
        before an hour-boundary cutoff (sources/retention.py
        expire_events): watermark on every row-level read path
        (directory pruning on the day-partitioned layout), exact
        stored-key drops on the hour-grain cubes."""
        from .sources.retention import expire_events

        return expire_events(self.spark, self.sf_dir, before_ts)

    def drop_projection(self, name: str) -> bool:
        """S16 lifecycle: deregister a user projection over any table —
        its router stops consulting it on the next statement. Returns
        False when the name is not deployed."""
        from .sources.user_projections import drop_projection

        return drop_projection(self.spark, self.sf_dir, name)

    def projections(self) -> list[dict]:
        """S16 introspection: the warehouse's user-view catalog, over
        every table (SHOW MATERIALIZED VIEWS)."""
        from .sources.user_projections import list_projections

        return list_projections(self.spark, self.sf_dir)

    # -- Reference pipeline surface (R1→R10) -------------------------------
    def ingest_json(self, records: Iterable[dict]) -> DataFrame:
        """R1: JSON-shaped tweet records → typed DataFrame (the HTTP
        POST surface of the reference, reference README.md:52-54)."""
        return self.spark.createDataFrame(list(records), TWEET)

    def enrich_tweets(self, df: DataFrame) -> DataFrame:
        """R3-R9: metadata extraction → sentiment → standardize."""
        from .operators.pipeline import add_sentiment, extract_metadata, standardize

        return standardize(add_sentiment(extract_metadata(df)))

    def to_json_stream(self, df: DataFrame) -> DataFrame:
        """R10: standardized records → JSON string column (the Kafka
        payload shape)."""
        from .operators.pipeline import to_json_records

        return to_json_records(df)

    # -- E3: streaming ------------------------------------------------------
    def stream_events(self, source_dir: str) -> DataFrame:
        """Open a file-drop event stream (swap ``.format('kafka')`` in
        deployment — the downstream graph is identical)."""
        from .streaming.replay import EVENTS_DDL

        return (
            self.spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )
