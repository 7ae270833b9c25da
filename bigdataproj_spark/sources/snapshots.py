"""S22: snapshot reads (time travel) — the reader-side counterpart of
the warehouse's write-side discipline.

Every layout publishes NEW versioned files (or appends new ones) and
records them in its warehouse's :class:`~.state.WarehouseState` (the
no-in-place-writes contract :mod:`~.txn` pins), and
:func:`~.maintenance.gc_warehouse` keeps superseded versions for a
configurable retention window. So a PAST warehouse state is fully
reconstructible from (a) a copy of the WarehouseState as it stood at
that commit and (b) the files it referenced. This module writes that
down:

- a **commit ledger** (the state's shared :class:`~.state.History`):
  after every committed mutation (ingest / MERGE / UPDATE / DELETE /
  TTL expiry / OPTIMIZE / VACUUM) :func:`record_commit` appends a
  numbered entry holding :meth:`WarehouseState.copy` plus the
  warehouse's file LISTING — O(#layouts + #files) bookkeeping, no data
  I/O;
- an **``as_of`` read context**: pins the session to one warehouse's
  commit, installs a copy of that entry's state, re-points the
  engine-owned temp views, and on exit re-installs the live object
  itself — every read of that warehouse issued inside (routed, scan,
  verbatim SQL) answers as of the commit, while other warehouses keep
  serving live. The APPEND-style row stores (bucketed facts, clustered
  documents, dated events/lineitem, Z-order) share directories across
  commits, so their scans inside the block are restricted to the
  commit's pinned file listing (:func:`layout_parquet` and
  :func:`bucketed_scan` apply the pin, through :func:`pinned_parquet`);
  the versioned layouts (cubes, rollup/denorm,
  user views, tombstone sets) resolve through the state's paths alone;
- **RESTORE** (:func:`restore_warehouse`): installs a copy of the
  entry's state as the LIVE state and removes the undone commits'
  files;
- the **SQL spellings** ``... FOR SYSTEM_VERSION AS OF <n>``,
  ``DESCRIBE HISTORY``, and ``RESTORE TO VERSION AS OF <n>`` on the
  front door (engine.py / plans/ddl.py), following the Delta/Iceberg
  convention — with one deliberate strengthening: a snapshot covers the
  whole warehouse, so a multi-table statement reads ONE consistent
  commit across all its tables (per-table ``AS OF`` versions that
  disagree are refused) — and one deliberate divergence: RESTORE is the
  ROLLBACK verb (undone commits' files are removed, history truncates
  in the original numbering), because Delta's keep-forward restore
  would need a file-granular manifest on every live scan
  (docs/DECISIONS.md).

AS OF, RESTORE and rollback are scoped to one warehouse; temp-view
ownership is session-wide (temp views are session-global names), so
the view ledgers live on :class:`~.state.SessionState` and are never
copied.

Time travel reaches exactly as far back as VACUUM retention allows —
Delta's documented contract. ``gc_warehouse(retain_seconds=w)`` prunes
ledger entries older than the window FIRST and then keeps every file a
surviving entry references, so a reachable version can never lose its
files; with the default ``retain_seconds=0`` the ledger is cleared and
superseded files go.

Scale posture: a ledger entry is a few dozen paths/names —
O(#layouts), independent of data size. ``as_of`` itself moves no data;
the reads inside it run the same routed/pruned plans, through older
paths. The SQL spelling pins its result eagerly (``localCheckpoint``)
because the exit re-point would invalidate a lazy VERBATIM plan over
re-pointed temp views; for large row-level historical scans, use the
``as_of`` context manager directly and consume the DataFrame inside it
— the routed/scan relations resolve their file paths at plan time, so
those handles stay valid after exit.

Mutations inside a snapshot read are refused (the warehouse is
read-only as of the past): WarehouseTxn's entry guard covers every
DML/ingest path, and OPTIMIZE/VACUUM check the same pin.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..session import one_split, relation_bytes, split_bytes
from .state import AsOf, WarehouseState, install, session_state, warehouse
from .txn import repoint_dim_views, undo_files_since


def _ledger(spark: SparkSession, sf_dir: str) -> list[dict[str, Any]]:
    return warehouse(spark, sf_dir).history.ledger


def _capture(spark: SparkSession, sf_dir: str) -> dict[str, Any]:
    """One commit's snapshot: a copy of the warehouse's serving state
    and its file listing at the commit. The APPEND-style row stores
    (bucketed facts, clustered documents, day-partitioned
    events/lineitem, Z-order) share their directories across commits,
    so the state alone does not pin their CONTENT — a snapshot read
    restricts those scans to exactly this listing
    (:func:`pinned_parquet`). The versioned layouts never need it:
    their paths are immutable once written. At 100 TB the listing is
    the batch's manifest, enumerable from version-/batch-suffixed
    write paths without a tree walk."""
    from .txn import listing

    return {"state": warehouse(spark, sf_dir).copy(), "files": listing(sf_dir)}


def pinned_files(spark: SparkSession) -> frozenset[str] | None:
    """The active snapshot read's warehouse file listing, or None
    outside an as_of block — one attribute probe on the hot path."""
    pin = session_state(spark).as_of
    return None if pin is None else pin.files


def pinned_parquet(
    spark: SparkSession, path: str, schema=None
) -> DataFrame | None:
    """Inside a snapshot read, a scan of ``path`` restricted to the
    files that existed at the pinned commit (``basePath`` preserves
    hive partition columns); None outside an as_of block, or when the
    pinned listing has no files under ``path`` (a layout the block
    itself lazily deployed reads its own fresh directory normally).
    The append-style reads take it through :func:`layout_parquet` and
    :func:`bucketed_scan`, which fall back to the live scan on None.

    The built scan is MEMOIZED per (path, pinned file set) — round 10,
    r9-VERDICT item 6: attribution showed ~80-90% of an as_of swap was
    this DataFrameReader construction, which is driver-side per-file
    status at ~1.6 ms/file (passing an explicit schema does NOT help —
    it is not footer reads). A pinned file set is immutable by
    construction (the commit is frozen, and a version whose files
    VACUUM could remove is no longer reachable, so its key is never
    probed again), which makes the memo safe forever; repeat swaps to
    the same version — the table_changes loop, repeated audit reads —
    pay one dict probe instead of the O(#files) stat pass. The FIRST
    swap per (version, layout) keeps the attributed O(#files) bound."""
    import os

    fs = pinned_files(spark)
    if fs is None:
        return None
    memo = session_state(spark).pinned_scans
    key = (path, fs)
    hit = memo.get(key)
    if hit is not None:
        return hit
    root = os.path.normpath(path) + os.sep
    under = [f for f in fs if f.startswith(root)]
    files = sorted(f for f in under if not
                   os.path.basename(f).startswith(("_", ".")))
    if not files:
        if under:
            # the path EXISTED at the pinned commit but held no data
            # files (marker-only, e.g. after an empty rewrite): the
            # snapshot's answer is an EMPTY relation — falling back to
            # the live scan would serve post-commit rows (round-9
            # ADVICE item 3). Schema preference (round-10 ADVICE item
            # 3): the caller's DECLARED schema if given; else inferred
            # from the live directory (layout schemas are
            # append-stable by contract) — which can itself be
            # marker-only when the emptying rewrite is still the
            # latest state, so that infer failure gets a worded error
            # instead of Spark's "unable to infer schema".
            if callable(schema):
                # resolved ONLY here: the common (files-exist) path
                # must stay one memo probe, not a catalog lookup per
                # pinned read (round-11 self-review)
                schema = schema()
            if schema is not None:
                df = spark.createDataFrame([], schema)
            else:
                try:
                    df = (
                        spark.read.option("basePath", path)
                        .parquet(path).limit(0)
                    )
                except Exception as exc:
                    raise ValueError(
                        f"snapshot read of {path!r}: the pinned commit "
                        "holds no data files (an empty rewrite) and the "
                        "live directory has none to infer a schema from "
                        "either — pass the layout's declared schema to "
                        "pinned_parquet(schema=...)"
                    ) from exc
            memo[key] = df
            return df
        return None
    df = one_split(spark.read.option("basePath", path).parquet(*files))
    memo[key] = df
    return df


def versioned_parquet(spark: SparkSession, path: str) -> DataFrame:
    """LIVE scan of an immutable VERSIONED layout path (cubes, dims,
    rollup/denorm, user projections, tombstone sets), memoized per
    (session, path) — round 12, guide §6 (file listing) + §1.2: every
    refresh of these layouts publishes a NEW ``_v{n}`` directory and
    swings the warehouse state's entry, so a given path's contents never
    change once written; yet each plan build re-ran file listing +
    parquet schema inference (30–80 ms per layout through Py4J) to
    re-derive a constant. Routed/SQL queries read 1–3 such layouts
    per build, so this was the dominant fixed cost of sub-second
    queries. Staleness cannot occur: a superseded or VACUUM-pruned
    path is never probed again (path resolution goes through the
    warehouse state), a path can only be reused after a copied state
    is installed, which drops this memo (state.install), and
    append-style row stores (shared directories) must NOT use this —
    they take :func:`layout_parquet`, which memoizes only the schema."""
    memo = session_state(spark).versioned_scans
    hit = memo.get(path)
    if hit is None:
        hit = one_split(spark.read.parquet(path))
        memo[path] = hit
    return hit


def evict_versioned_scan(spark: SparkSession, path: str) -> None:
    """Drop one :func:`versioned_parquet` memo entry. Needed exactly
    where a BASE path is legitimately overwritten in-session: a user
    projection redeploy (``deploy_projection`` with an existing name
    writes the same ``user_proj_<name>_<tag>`` base path). Installing a
    copied state clears the whole memo instead (state.install)."""
    session_state(spark).versioned_scans.pop(path, None)


def layout_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan of an APPEND-STYLE layout directory (day-partitioned
    events/lineitem, Z-order, clustered documents, bucketed dirs):
    inside a snapshot read, the pinned commit's files
    (:func:`pinned_parquet`); live, the directory with the SCHEMA
    memoized per (session, path). The pin is applied here, so no
    layout read can forget it. Layout schemas are
    append-stable by contract (the same contract pinned_parquet's
    empty-dir fallback relies on), so per-build schema inference
    (parquet footer reads — measured 58 of the 77 ms a 124-file dated
    layout read cost) re-derives a constant. The FILE LISTING is still
    taken fresh on every build: appends, OPTIMIZE rewrites and RESTORE
    change the file set, and memoizing the DataFrame here would serve
    stale (or deleted) files — that is exactly why these directories
    are excluded from :func:`versioned_parquet`."""
    pinned = pinned_parquet(spark, path)
    if pinned is not None:
        return pinned
    memo = session_state(spark).layout_schemas
    s = memo.get(path)
    if s is None:
        s = spark.read.parquet(path).schema
        memo[path] = s
    return one_split(spark.read.schema(s).parquet(path))


def evict_pinned_memo(spark: SparkSession) -> int:
    """Drop pinned-scan memo entries whose file set no longer matches
    any reachable ledger entry — called after VACUUM prunes and after
    RESTORE truncates (round-10 ADVICE item 5 / VERDICT item 6: the
    memo grew O(#versions × #layouts) for the session's lifetime,
    holding plans for versions that could never be probed again). The
    memo is session-global, so reachability is checked across ALL
    warehouses' ledgers. Returns how many entries were evicted."""
    sess = session_state(spark)
    memo = sess.pinned_scans
    if not memo:
        return 0
    reachable = {
        e["files"] for ws in sess.warehouses.values()
        for e in ws.history.ledger
    }
    dead = [k for k in memo if k[1] not in reachable]
    for k in dead:
        del memo[k]
    return len(dead)


def bucketed_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan of a bucketed catalog table (the bucketed facts, the
    rollup/denorm pair): live, the table itself; inside a snapshot
    read, the pinned commit's files under its external location
    (<warehouse>/<name> by the write_bucketed construction). The
    pinned scan is a plain parquet read — bucket co-location metadata
    is lost INSIDE a snapshot read (correctness over join locality for
    historical queries). The CATALOG carries the table's declared
    schema independent of what files exist, so a marker-only pinned
    state reads empty with the right columns (round-10 ADVICE item
    3).

    Live, a table no bigger than one split is read as one partition
    (:func:`_live_bucketed`)."""
    import os

    if pinned_files(spark) is None:
        return _live_bucketed(spark, sf_dir, name)
    from .bucketed import _layout_paths

    def _declared():
        try:
            return spark.table(name).schema
        except Exception:
            return None

    _tag, wh = _layout_paths(sf_dir)
    pinned = pinned_parquet(spark, os.path.join(wh, name), schema=_declared)
    return _live_bucketed(spark, sf_dir, name) if pinned is None else pinned


def _live_bucketed(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The bucketed catalog table ``name`` under the one-split rule
    (``session.one_split``): below one split it is one partition,
    which satisfies every distribution its bucket spec would, so its
    joins and aggregates still need no exchange. The size is taken
    once per table version and compared with the threshold per call.
    The version is the warehouse's lineitem and orders mutation epochs:
    every append to a bucketed table bumps one, a rewrite publishes a
    new table name, and a rollback or RESTORE drops the memo
    (``state.install``). The ingest bumps the epoch before it appends,
    so a read in between memoizes the size without that batch: the
    error is one batch, and it decides a plan, never an answer."""
    df = spark.table(name)
    ep = warehouse(spark, sf_dir).mutation_epoch
    version = (ep.get("lineitem", 0), ep.get("orders", 0))
    memo = session_state(spark).bucketed_sizes
    hit = memo.get(name)
    if hit is None or hit[0] != version:
        hit = memo[name] = (version, relation_bytes(df))
    return df.coalesce(1) if hit[1] <= split_bytes(spark) else df


def _next_seq(spark: SparkSession, sf_dir: str) -> int:
    """Version numbers are drawn from a per-warehouse MONOTONE
    sequence that survives ledger pruning: after a VACUUM clears the
    ledger, new commits must NOT reuse old numbers — a remembered
    "version 3" must either resolve to the state it always meant or
    error, never silently mean a different state. Gaps in DESCRIBE
    HISTORY therefore read as "undone by RESTORE or vacuumed" —
    renumbering would read as nothing. (The counter lives in the
    shared History, so installing an older state never rewinds it.)"""
    h = warehouse(spark, sf_dir).history
    v = h.seq
    h.seq = v + 1
    return v


def ensure_base(spark: SparkSession, sf_dir: str) -> None:
    """Record the pre-batch state the first time a mutation is about
    to touch this warehouse (version 0 = the pristine base) — and
    again after a VACUUM emptied the ledger (a "checkpoint": the
    state accumulated so far, under a FRESH number)."""
    led = _ledger(spark, sf_dir)
    if not led:
        v = _next_seq(spark, sf_dir)
        led.append(
            {
                "version": v,
                "note": "base" if v == 0 else "checkpoint",
                "wall": time.time(),
                **_capture(spark, sf_dir),
            }
        )


def record_commit(spark: SparkSession, sf_dir: str, note: str) -> None:
    """Append the post-commit serving state to the ledger. Called by
    WarehouseTxn on successful OUTER exit (and by optimize, which
    swings memos without a txn) — never on rollback, so a failed
    batch leaves no version.

    S23b (round 11): if the committing mutation STAGED its change
    rows (:func:`stage_changes`), the entry carries ``cdf``:
    {table: stored-delta path} — the commit's complete change set,
    and ``table_changes`` reads it instead of diffing pinned states.
    An entry WITHOUT the key (pre-existing commits, any path that
    does not stage) falls back to the state diff — the
    conservative-correct posture. RESTORE commits stage the EMPTY
    set since round 12 — correct by construction under truncating
    restore (see restore_warehouse)."""
    h = warehouse(spark, sf_dir).history
    pending, h.cdf_pending = h.cdf_pending, None
    entry = {
        "version": _next_seq(spark, sf_dir),
        "note": note,
        "wall": time.time(),
        **_capture(spark, sf_dir),
    }
    if pending is not None:
        entry["cdf"] = pending
    h.ledger.append(entry)


def resolve_timestamp(spark: SparkSession, sf_dir: str, ts: str) -> int:
    """S22b (round 12, r11-VERDICT item 2): resolve a wall-clock
    timestamp to the committed version that was CURRENT at that
    moment — the latest reachable commit with ``wall <= ts`` (Delta's
    ``TIMESTAMP AS OF`` rule), against the per-commit wall clocks the
    ledger has recorded since round 9. A timestamp BEFORE the earliest
    reachable commit refuses with the earliest-reachable hint (there
    is no state to serve — reachability is VACUUM-retention-bounded,
    same contract as version numbers); a timestamp after the newest
    commit answers the newest (the warehouse simply has not changed
    since). Accepts ISO-8601 (``YYYY-MM-DD [HH:MM:SS[.ffffff]]``,
    ``T`` separator and timezone offsets included); a NAIVE timestamp
    is the session's local clock — the same clock ``time.time()``
    stamps commits with."""
    from datetime import datetime

    try:
        epoch = datetime.fromisoformat(ts.strip()).timestamp()
    except ValueError:
        raise ValueError(
            f"unparseable timestamp {ts!r} — expected ISO-8601, e.g. "
            "'2026-08-17 12:00:00' (fractional seconds and timezone "
            "offsets accepted)"
        ) from None
    led = _ledger(spark, sf_dir)
    if not led:
        raise ValueError(
            "no reachable snapshot versions (versions are recorded per "
            "committed mutation and expire with VACUUM retention)"
        )
    best: int | None = None
    for e in led:
        if e["wall"] <= epoch:
            best = e["version"]
    if best is None:
        first = led[0]
        earliest = datetime.fromtimestamp(first["wall"]).isoformat(
            sep=" ", timespec="microseconds"
        )
        raise ValueError(
            f"timestamp {ts!r} predates the earliest reachable commit "
            f"(version {first['version']}, committed {earliest}) — "
            "earlier state is unreachable (expired with VACUUM "
            "retention, or the warehouse did not exist yet); use "
            f"'{earliest}' or later, or AS OF version "
            f"{first['version']}"
        )
    return best


def history(spark: SparkSession, sf_dir: str) -> list[dict[str, Any]]:
    """The reachable commits, oldest first: [{version, note, wall}]."""
    return [
        {"version": e["version"], "note": e["note"], "wall": e["wall"]}
        for e in _ledger(spark, sf_dir)
    ]


def history_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY's result set."""
    rows = [(e["version"], e["note"]) for e in _ledger(spark, sf_dir)]
    return spark.createDataFrame(rows, "version int, note string")


def prune_ledger(spark: SparkSession, sf_dir: str, retain_seconds: float) -> int:
    """Drop ledger entries older than the retention window (VACUUM's
    first step); returns how many were dropped. retain_seconds=0
    clears the ledger — time travel reaches exactly as far back as
    VACUUM retention allows."""
    led = _ledger(spark, sf_dir)
    now = time.time()
    kept = [
        e for e in led
        if retain_seconds > 0 and now - e["wall"] < retain_seconds
    ]
    dropped = len(led) - len(kept)
    led[:] = kept
    return dropped


def _fact_view_names(
    spark: SparkSession, sf_dir: str, other: WarehouseState
) -> list[str]:
    """The fact views the ENGINE owns for ``sf_dir`` and still
    controls, whose relation can differ between the installed state and
    ``other`` — computed before any swap, so a name the user took over
    is never clobbered. A table ingested in NEITHER state reads the
    immutable fixture on both sides; rebuilding its relation and plan
    identity twice per block was the dominant as_of cost at scale
    (measured 7.9 s/block at sf5 before this skip)."""
    sess = session_state(spark)
    changed = warehouse(spark, sf_dir).ingested | other.ingested
    names = []
    for name in ("lineitem", "orders", "documents", "events"):
        if sess.fact_views.get(name) != sf_dir or name not in changed:
            continue
        try:
            if not spark.catalog.tableExists(name):
                continue
            rec = sess.fact_view_ids.get(name)
            if rec is not None and spark.table(name).semanticHash() != rec:
                continue  # taken over: theirs wins
        except Exception:
            continue
        names.append(name)
    return names


def _repoint_views(
    spark: SparkSession, sf_dir: str, fact_names: list[str]
) -> None:
    """Re-register the given engine-owned fact views from the
    warehouse's INSTALLED state — called after each install, both
    directions. Mirrors Engine._ensure_current_views' relation choices,
    minus the takeover checks (the caller resolved ownership first)."""
    from ..catalog import table
    from ..plans.routing import current_documents, current_events
    from ..plans.routing import current_lineitem, current_orders
    from ..schemas import FIXTURE_SCHEMAS

    sess = session_state(spark)
    ws = warehouse(spark, sf_dir)
    li_cols = tuple(FIXTURE_SCHEMAS["lineitem"].fieldNames())
    sources = {
        "lineitem": lambda: current_lineitem(spark, sf_dir).select(*li_cols),
        "orders": lambda: current_orders(spark, sf_dir),
        "documents": lambda: current_documents(spark, sf_dir),
        "events": lambda: current_events(spark, sf_dir),
    }
    for name in fact_names:
        df = (
            sources[name]()
            if name in ws.ingested
            else table(spark, sf_dir, name)
        )
        df.createOrReplaceTempView(name)
        sess.fact_view_ids[name] = spark.table(name).semanticHash()
        sess.fact_view_epoch[name] = (sf_dir, ws.mutation_epoch.get(name, 0))


def _reachable(spark: SparkSession, sf_dir: str, version: int) -> dict[str, Any]:
    led = _ledger(spark, sf_dir)
    entry = next((e for e in led if e["version"] == version), None)
    if entry is None:
        have = [e["version"] for e in led]
        raise ValueError(
            f"no reachable snapshot version {version} "
            f"(reachable: {have or 'none'}; versions are recorded per "
            "committed mutation and expire with VACUUM retention — "
            "gc_warehouse(retain_seconds=...) controls how far back "
            "time travel reaches)"
        )
    return entry


@contextmanager
def as_of(spark: SparkSession, sf_dir: str, version: int):
    """Read the warehouse as of a committed version. Every read of
    ``sf_dir`` built AND consumed inside the block — routed, scan, or
    verbatim SQL — answers from that commit; other warehouses keep
    serving live, and the live state is re-installed on exit.

    The installed state is a COPY of the ledger entry, so a read that
    lazily deploys a missing layout inside the block computes it FROM
    THE SNAPSHOT STATE and the entry is discarded on exit; the files it
    wrote (``_asof`` twins, see state.deploy_name) become ordinary
    VACUUM orphans."""
    sess = session_state(spark)
    if sess.txn_active:
        raise ValueError(
            "cannot open a snapshot read inside a warehouse transaction"
        )
    if sess.as_of is not None:
        raise ValueError(
            "snapshot reads do not nest — one AS OF version at a time "
            "(a snapshot covers the whole warehouse)"
        )
    entry = _reachable(spark, sf_dir, version)
    live = warehouse(spark, sf_dir)
    fact_names = _fact_view_names(spark, sf_dir, entry["state"])
    # if the engine's fixture views are first registered INSIDE the
    # block, they describe the snapshot — restoring this marker forces
    # a clean re-registration on the next statement
    live_views_for = sess.views_for
    # the pinned version NUMBER rides along for consumers that need
    # "head as of this read" (streaming/cdc.py cdc_view_fresh)
    sess.as_of = AsOf(sf_dir, entry["files"], version)
    try:
        install(spark, entry["state"].copy())
        _repoint_views(spark, sf_dir, fact_names)
        repoint_dim_views(spark, sf_dir)
        yield
    finally:
        # the unpin MUST survive any failure in the exit re-point
        # (round-9 ADVICE item 1): a pin left set would make every
        # future mutation in the session refuse as "read-only inside
        # an AS OF snapshot read"
        try:
            install(spark, live)  # still pinned: the live caches survive
            # unpin BEFORE the exit re-point: the restored live views
            # must scan the full directories, not the snapshot listing
            sess.as_of = None
            _repoint_views(spark, sf_dir, fact_names)
            repoint_dim_views(spark, sf_dir)
            sess.views_for = live_views_for
        finally:
            sess.as_of = None


def restore_warehouse(spark: SparkSession, sf_dir: str, version: int) -> None:
    """RESTORE — roll the LIVE warehouse back to a past committed
    version (the statement spelling is ``RESTORE TO VERSION AS OF
    n``): a copy of the entry's state is installed (layouts, tombstone
    sets, watermarks, ingest set, user-projection catalogs), every file
    the undone commits wrote is removed, the engine-owned temp views
    re-point, and history TRUNCATES to the restored version plus one
    new commit recording the restore. Other warehouses are untouched.

    DELIBERATE divergence from Delta's RESTORE (which keeps the
    undone versions restorable-forward): this engine's append-style
    row stores share directories across commits, so keeping undone
    appends on disk would require a file-granular manifest on every
    LIVE read path. Inside the bounded ``as_of`` context that cost is
    paid willingly (pinned listings); paying it on every live scan
    forever is the wrong trade — so RESTORE here is the transactional
    rollback verb (git reset --hard), with the file cleanup of
    WarehouseTxn applied at commit granularity. Version numbers stay
    monotone across restores (the restore commit continues the old
    sequence), so a gap in DESCRIBE HISTORY reads as "undone or
    vacuumed", never as renumbering.

    Erasure interplay (docs/DECISIONS.md): restoring to a pre-delete
    version brings deleted rows back — the verb's purpose is undoing
    an erroneous mutation. An erasure becomes FINAL once the
    pre-delete versions are gone — run VACUUM past the window (or
    with the default eager window) after a compliance delete."""
    sess = session_state(spark)
    if sess.txn_active:
        raise ValueError("cannot RESTORE inside a warehouse transaction")
    if sess.as_of is not None:
        raise ValueError(
            "the warehouse is read-only inside an AS OF snapshot read"
        )
    entry = _reachable(spark, sf_dir, version)
    next_version = _next_seq(spark, sf_dir)
    fact_names = _fact_view_names(spark, sf_dir, entry["state"])
    install(spark, entry["state"].copy())
    undo_files_since(spark, sf_dir, entry["files"])
    _repoint_views(spark, sf_dir, fact_names)
    # history truncates to the restored version; the restore itself
    # is the next commit in the ORIGINAL numbering
    led = _ledger(spark, sf_dir)
    led[:] = [e for e in led if e["version"] <= version]
    led.append(
        {
            "version": next_version,
            "note": f"restore to {version}",
            "wall": time.time(),
            # S23c (round 12, r11-VERDICT item 4): under this engine's
            # TRUNCATING restore, the restore commit's state is
            # byte-identical to its reachable predecessor's (the
            # restore target — the undone versions leave the ledger),
            # so per the feed's adjacent-reachable-version semantics
            # its change set is EMPTY by construction. Sign-flipped
            # inverse deltas would describe Delta's KEEP-FORWARD
            # restore; staging them was implemented and the
            # fallback-equivalence gate rejected it. Staging the empty
            # set is O(1) per restore commit, replacing a full
            # O(|state|) diff that always produced zero rows.
            # docs/DECISIONS.md records the reasoning.
            "cdf": {},
            **_capture(spark, sf_dir),
        }
    )
    # the undone commits' pinned-scan plans can never be probed again
    evict_pinned_memo(spark)


# ---------------------------------------------------------------------------
# Driver query: time travel in, the pre-delete state out. The oracle
# computes the SAME historical state read-only (base + the insert,
# ignoring the later delete) — "the snapshot read answers exactly what
# the warehouse answered at that commit".
# ---------------------------------------------------------------------------

from ..registry import query  # noqa: E402

_TIME_TRAVEL_ORACLE = """
SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars, COUNT(*) AS n
FROM (
  SELECT lang, n_chars FROM documents
  UNION ALL SELECT 'en', 11
  UNION ALL SELECT 'fr', 7
)
GROUP BY lang
ORDER BY lang
"""

_TT_PROFILE = (
    "SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang"
)


@query(
    "q40_sql_time_travel",
    oracle=_TIME_TRAVEL_ORACLE,
    tags=("S22", "S19", "S15", "A1"),
)
def q40_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S22 end to end (round 9): on a sandbox corpus with the docs
    cube deployed, an INSERT commits version v, a predicate DELETE
    commits v+1 — and ``FOR SYSTEM_VERSION AS OF v`` answers the
    language profile as the warehouse answered it BETWEEN the two
    mutations (base + insert, delete invisible), still FROM THE CUBE
    (the snapshot's memo resolves the cube version of that commit).
    The oracle recomputes that historical state read-only from the
    immutable fixture."""
    from ..catalog import TABLES
    from ..engine import Engine
    from ..plans.sqlfront import route_sql
    from .corpus_cubes import docs_stats_cube_table
    from .retention import _demo_corpus

    demo = _demo_corpus(spark, sf_dir, TABLES, demo="time_travel")
    docs_stats_cube_table(spark, demo)
    eng = Engine(spark, demo)
    eng.sql(
        "INSERT INTO documents VALUES "
        "(900000001, 'hello world', 'en', 'src97', 11), "
        "(900000002, 'bonjour', 'fr', 'src98', 7)"
    )
    v = eng.history().collect()[-1].version
    eng.sql("DELETE FROM documents WHERE doc_id <= 100")
    with as_of(spark, demo, v):
        _df, chosen = route_sql(spark, demo, _TT_PROFILE)
        assert chosen == "docs_stats_cube", chosen
    return eng.sql(f"{_TT_PROFILE} FOR SYSTEM_VERSION AS OF {v}")


_TT_TS_ORACLE = """
SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars, COUNT(*) AS n
FROM (
  SELECT lang, n_chars FROM documents
  UNION ALL SELECT 'en', 9
  UNION ALL SELECT 'de', 6
)
GROUP BY lang
ORDER BY lang
"""


@query(
    "r180_sql_time_travel_ts",
    oracle=_TT_TS_ORACLE,
    tags=("S22", "S19", "S15", "A1"),
)
def r180_sql_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S22b end to end (round 12, r11-VERDICT item 2): TIMESTAMP-based
    time travel. An INSERT commits at wall w1, a predicate DELETE at
    wall w2; ``FOR SYSTEM_TIMESTAMP AS OF`` a moment BETWEEN the two
    resolves — against the ledger's per-commit wall clocks — to the
    insert's version, and answers the profile as the warehouse
    answered it then (delete invisible), still from the cube. The
    oracle recomputes that historical state read-only."""
    from datetime import datetime

    from ..catalog import TABLES
    from ..engine import Engine
    from .corpus_cubes import docs_stats_cube_table
    from .retention import _demo_corpus

    demo = _demo_corpus(spark, sf_dir, TABLES, demo="time_travel_ts")
    docs_stats_cube_table(spark, demo)
    eng = Engine(spark, demo)
    eng.sql(
        "INSERT INTO documents VALUES "
        "(900000011, 'neun char!', 'en', 'src97', 9), "
        "(900000012, 'sechse', 'de', 'src98', 6)"
    )
    led = _ledger(spark, demo)
    w1 = led[-1]["wall"]
    eng.sql("DELETE FROM documents WHERE doc_id <= 100")
    w2 = led[-1]["wall"]
    between = datetime.fromtimestamp((w1 + w2) / 2).isoformat(
        sep=" ", timespec="microseconds"
    )
    return eng.sql(
        f"{_TT_PROFILE} FOR SYSTEM_TIMESTAMP AS OF '{between}'"
    )


_RESTORE_ORACLE = """
SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars, COUNT(*) AS n
FROM (
  SELECT lang, n_chars FROM documents
  UNION ALL SELECT 'de', 13
)
GROUP BY lang
ORDER BY lang
"""


@query(
    "q43_sql_restore",
    oracle=_RESTORE_ORACLE,
    tags=("S22", "S19", "S15", "A1"),
)
def q43_sql_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S22's rollback verb end to end (round 9): INSERT commits v,
    an (erroneous) predicate DELETE commits v+1, and ``RESTORE TO
    VERSION AS OF v`` rolls the LIVE warehouse back — deleted rows
    return, the undone commit's files are removed, history truncates.
    The post-restore profile — answered from the restored cube state
    by the normal LIVE read path, no as_of context — matches DuckDB
    computing base + the insert, as if the delete never happened."""
    from ..catalog import TABLES
    from ..engine import Engine
    from ..plans.sqlfront import route_sql
    from .corpus_cubes import docs_stats_cube_table
    from .retention import _demo_corpus

    demo = _demo_corpus(spark, sf_dir, TABLES, demo="restore")
    docs_stats_cube_table(spark, demo)
    eng = Engine(spark, demo)
    eng.sql(
        "INSERT INTO documents VALUES "
        "(900000003, 'dreizehn char', 'de', 'src97', 13)"
    )
    v = eng.history().collect()[-1].version
    eng.sql("DELETE FROM documents WHERE doc_id <= 200")
    eng.sql(f"RESTORE TO VERSION AS OF {v}")
    df, chosen = route_sql(spark, demo, _TT_PROFILE)
    assert chosen == "docs_stats_cube", chosen
    return df


# ---------------------------------------------------------------------------
# S23 (round 10, r9-VERDICT item 2): change data feed — the ledger's
# missing READ verb. DESCRIBE HISTORY lists the commits; table_changes
# says what each one DID, as rows.
#
# S23b (round 11, r10-VERDICT item 1): stored per-commit deltas. The
# mutation bodies already hold their change rows in hand (the ingest
# delta post-filters, the S21 conflict pre/post images, the captured
# delete/expiry rows) — staging persists them beside the commit, so
# table_changes reads O(|changes|) instead of paying one O(|state|)
# count-join per commit (measured 30.4/41.3/70.7 s for a 3-commit
# orders feed at sf5/10/20; the stored-delta read is change-sized and
# scale-flat). The state diff remains the fallback for entries without
# staged deltas (pre-existing commits, RESTORE) — same API, same
# oracle, a storage swap exactly as the round-10 docstring promised.
# ---------------------------------------------------------------------------

_CDF_NOOP_NOTES = ("base", "checkpoint", "optimize", "vacuum")


def mark_cdf_staged(spark: SparkSession, sf_dir: str) -> None:
    """Declare that the in-flight commit's mutation body stages its
    COMPLETE change set (zero staged tables = the commit changed no
    rows). record_commit attaches the pending dict to the ledger
    entry; its PRESENCE is the completeness contract table_changes
    trusts — a mutation path that cannot guarantee it simply never
    calls this, and its commits keep the state-diff fallback."""
    h = warehouse(spark, sf_dir).history
    if h.cdf_pending is None:
        h.cdf_pending = {}


def stage_changes(
    spark: SparkSession,
    sf_dir: str,
    table_name: str,
    df: DataFrame,
    change_type: str | None = None,
) -> str:
    """Persist one change frame for the in-flight commit (S23b);
    returns the stored-delta directory (the ingest path reads the
    materialized delta back from it, so a lazy delta plan evaluates
    ONCE instead of once per consuming layout refresh).
    ``df`` carries the table's fixture columns (realigned/cast here);
    ``change_type`` tags the whole frame (``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage``) — pass None if ``df``
    already carries a ``_change_type`` column. Multiple stagings for
    one (commit, table) append into the same stored-delta directory.

    The write is an EAGER action inside the caller's WarehouseTxn, so
    it sees the mutation body's pre-swing relations exactly as the
    caller built them; on rollback the txn's file cleanup removes the
    staged files and the pending dict is cleared. The delta dirs are
    TOP-LEVEL warehouse entries (``cdf_<table>_<tag>_c<n>``) like
    every versioned layout, so VACUUM's basename-keyed live set
    governs them: reachable commits keep theirs (gc_warehouse walks
    the ledger), pruned commits' become ordinary garbage.

    Scale posture: one change-sized parquet write per (commit,
    table) — the documented O(|changes|) CDF storage cost, paid at
    WRITE time exactly where Delta's CDF pays it; commits that stage
    nothing for a table cost nothing for it."""
    import os

    from pyspark.sql import functions as F

    from ..schemas import FIXTURE_SCHEMAS
    from .bucketed import _layout_paths

    mark_cdf_staged(spark, sf_dir)
    h = warehouse(spark, sf_dir).history
    pend = h.cdf_pending
    schema = FIXTURE_SCHEMAS[table_name]
    if change_type is not None:
        df = df.withColumn("_change_type", F.lit(change_type))
    df = df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ],
        F.col("_change_type").cast("string").alias("_change_type"),
    )
    path = pend.get(table_name)
    if path is None:
        tag, wh = _layout_paths(sf_dir)
        h.cdf_seq += 1
        c = h.cdf_seq
        path = os.path.join(wh, f"cdf_{table_name}_{tag}_c{c}")
        # the counter is SESSION-scoped: a new session over the same
        # warehouse (crash before VACUUM collected the old session's
        # dirs) restarts at c1, and appending into a stale dir would
        # report the old session's rows as this commit's change set
        # (round 12, r11-ADVICE item 2) — the first staging of a
        # (commit, table) owns its dir outright
        if os.path.isdir(path):
            import shutil

            shutil.rmtree(path)
        pend[table_name] = path
    df.write.mode("append").parquet(path)
    return path


def _commit_touches(note: str, table_name: str) -> bool:
    """Whether a ledger note can have changed ``table_name``'s logical
    content. OPTIMIZE/VACUUM rewrite or remove FILES but are
    row-identical by contract; ingest/delete/merge notes name their
    table(s); TTL expiry touches events; RESTORE (and any unknown
    verb) is conservative — diff it.

    Two traps fixed in round 11 (both round-10 ADVICE highs): a MIXED
    ingest batch writes a comma-joined note (``ingest
    lineitem,orders`` — refresh_warehouse's construction), so the
    name match must split; and ``delete orders`` CASCADES — it also
    removes the deleted orders' lineitem rows — so the lineitem feed
    must treat it as touching lineitem too."""
    if note in _CDF_NOOP_NOTES:
        return False
    for verb in ("ingest ", "delete ", "merge "):
        if note.startswith(verb):
            named = note[len(verb):].split(",")
            if table_name in named:
                return True
            # order DELETIONS cascade to lineitems: a deleted order
            # takes its lineitems with it (sources/retention.py
            # delete_orders), and a MERGE may carry a DELETE clause;
            # a plain orders INGEST/UPDATE never changes lineitem rows
            return (
                verb in ("delete ", "merge ")
                and table_name == "lineitem"
                and "orders" in named
            )
    if note.startswith("expire"):
        return table_name == "events"
    return True


def table_changes(
    spark: SparkSession,
    sf_dir: str,
    table_name: str,
    v1: int | str,
    v2: int | str,
) -> DataFrame:
    """Delta-CDF-shaped change rows for a maintained fact table
    between two reachable committed versions: every row the table
    gained or lost in each commit of ``(v1, v2]``, tagged with
    ``_change_type`` (``insert`` / ``delete`` — and for the keyed
    mutable tables, ``update_preimage`` / ``update_postimage`` when a
    commit replaced a key's row), ``_commit_version``, and
    ``_commit_note``. Per-commit granularity: a row inserted at one
    commit and deleted at a later one appears twice, exactly Delta's
    ``table_changes`` semantics. SQL spelling:
    ``SELECT * FROM table_changes('orders', 1, 3)``.

    S22b (round 12): either bound may be a TIMESTAMP string instead
    of a version — resolved by :func:`resolve_timestamp` (the version
    current at that wall-clock moment), so the window reads "every
    change committed in ``(ts1, ts2]``". SQL spelling:
    ``table_changes('orders', '2026-08-17 12:00:00', '2026-08-18
    12:00:00')`` (bounds may mix forms).

    Lowering: the commit ledger already holds everything needed — the
    serving state and pinned file listing of every reachable version —
    so each side of a commit's diff is the table AS OF that version
    (the same pinned read the ``as_of`` context serves, lazy: the
    explicit file lists resolve at plan time, so two versions' plans
    coexist in one diff). The diff itself is ONE full-row count join
    per commit (bag semantics, identical to ``exceptAll`` both ways —
    duplicate rows count, NULLs compare equal); only the CHANGE-sized
    frame materializes, and the insert/delete/update classification
    derives from it without touching the states again. Commits whose
    note cannot have touched the table (the other tables'
    ingests/deletes, OPTIMIZE, VACUUM) are skipped without a scan;
    each version's relation is reused as the next diff's left side.

    Scale posture (S23b, round 11 — r10-VERDICT item 1): every
    mutation body now STAGES its change rows beside the commit
    (:func:`stage_changes` — the rows were already in hand: ingest
    delta post-filters, S21 conflict pre/post images, captured
    delete/expiry rows), so a commit with a stored delta reads
    O(|changes|), no state scan at all — change-sized parquet reads,
    scale-flat in |state|. RESTORE commits carry the EMPTY staged
    set (round 12, S23c): a truncating restore's state is
    byte-identical to its reachable predecessor's, so its per-commit
    change set is ∅ by construction — O(1), replacing a full-state
    diff that always produced zero rows (restore_warehouse documents
    the analysis). The state diff below remains the FALLBACK for
    entries without staged deltas (commits predating S23b, any
    unknown verb): one full-row count join per such commit,
    O(|state|) — the audit-verb price of
    CDF-from-snapshots (measured 30 s for a 3-commit orders feed over
    7.5M orders at sf5; the first cut's two exceptAlls + an intersect
    cost 50 s). Live reads and commits pay nothing for the feed
    existing beyond the change-sized write at commit time."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField

    from ..plans.routing import current_documents, current_events
    from ..plans.routing import current_lineitem, current_orders
    from ..schemas import FIXTURE_SCHEMAS
    from .retention import TOMBSTONE_KEYS

    openers = {
        "documents": current_documents,
        "orders": current_orders,
        "events": current_events,
        "lineitem": current_lineitem,
    }
    if table_name not in openers:
        raise ValueError(
            "table_changes covers the maintained fact tables "
            f"{sorted(openers)}; got {table_name!r} (dimension/fixture "
            "tables are immutable — they have no changes to feed)"
        )
    if session_state(spark).as_of is not None:
        raise ValueError(
            "table_changes cannot run inside an AS OF snapshot read "
            "(it pins versions itself)"
        )
    if isinstance(v1, str):
        v1 = resolve_timestamp(spark, sf_dir, v1)
    if isinstance(v2, str):
        v2 = resolve_timestamp(spark, sf_dir, v2)
    if v2 < v1:
        raise ValueError(f"table_changes wants v1 <= v2; got ({v1}, {v2})")
    led = _ledger(spark, sf_dir)
    have = [e["version"] for e in led]
    for v in (v1, v2):
        if v not in have:
            raise ValueError(
                f"no reachable snapshot version {v} (reachable: "
                f"{have or 'none'}; versions expire with VACUUM "
                "retention — gc_warehouse(retain_seconds=...) controls "
                "how far back the change feed reaches)"
            )
    schema = FIXTURE_SCHEMAS[table_name]
    cols = schema.fieldNames()
    key = TOMBSTONE_KEYS.get(table_name)

    def state_at(v: int) -> DataFrame:
        # the relation is built INSIDE the pin but returned LAZY: the
        # pinned scans resolve their explicit file lists and the
        # tombstone sets' immutable paths at PLAN time, so the handle
        # stays valid outside the block (the as_of contract for
        # scan-shaped relations) — two versions' plans coexist in one
        # diff without materializing O(|state|) rows per version
        # (eager localCheckpoint here measured 51 s for a 3-commit
        # feed over 7.5M orders at sf5; lazy plans cut it to the two
        # exceptAll shuffles the diff actually needs)
        with as_of(spark, sf_dir, v):
            return openers[table_name](spark, sf_dir).select(*cols)

    staged_schema = type(schema)(
        list(schema.fields) + [StructField("_change_type", StringType())]
    )
    out_schema = type(schema)(
        list(staged_schema.fields)
        + [
            StructField("_commit_version", IntegerType()),
            StructField("_commit_note", StringType()),
        ]
    )
    parts: list[DataFrame] = []
    prev: DataFrame | None = None
    for e in led:
        v = e["version"]
        if v <= v1 or v > v2:
            continue
        if not _commit_touches(e["note"], table_name):
            continue  # state unchanged for this table: prev stays valid
        cdf = e.get("cdf")
        if cdf is not None:
            # S23b fast path: the commit staged its complete change
            # set — read the stored delta (change-sized, no state
            # scan). An absent table key means the commit verifiably
            # changed nothing for this table. The chained-diff left
            # side is invalidated either way: a later fallback commit
            # must diff against the state right before IT, not the
            # state before this staged commit.
            prev = None
            path = cdf.get(table_name)
            if path is None:
                continue
            step = (
                one_split(spark.read.schema(staged_schema).parquet(path))
                .withColumns(
                    {
                        "_commit_version": F.lit(v).cast("int"),
                        "_commit_note": F.lit(e["note"]),
                    }
                )
            )
            parts.append(step)
            continue
        if prev is None:
            # left side of the FIRST relevant diff: the table as of
            # the newest reachable version at or before this commit —
            # by construction the state this commit changed
            before = max(x["version"] for x in led if x["version"] < v)
            prev = state_at(before)
        cur = state_at(v)
        # ONE pass per commit: a full-row count diff (bag semantics —
        # exactly exceptAll's, including NULL-equals and -0.0
        # normalization in the group keys) materializes just the
        # CHANGE-sized frame; both exceptAll directions, the
        # update-key intersection, and the classification joins then
        # derive from that small frame without touching the states
        # again. The first cut ran two exceptAlls plus an intersect
        # over the full states — each state scanned ~6× per commit;
        # measured 50 s for a 3-commit feed over 7.5M orders at sf5.
        a_cnt = prev.groupBy(*cols).agg(F.count(F.lit(1)).alias("_a"))
        b_cnt = cur.groupBy(*cols).agg(F.count(F.lit(1)).alias("_b"))
        # eqNullSafe per column, not a USING join: groupBy folds NULL
        # values into ONE group on each side, so the join must pair
        # those groups too — a plain full_outer never matches NULL
        # keys and would report an unchanged NULL-bearing row as a
        # phantom delete+insert pair at every diffed commit (round-11
        # self-review, confirmed by live experiment; this is what the
        # 'NULLs compare equal' bag semantics in the docstring MEANS)
        a, b = a_cnt.alias("a"), b_cnt.alias("b")
        cond = None
        for c in cols:
            eq = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
            cond = eq if cond is None else (cond & eq)
        changed = (
            a.join(b, cond, "full_outer")
            .select(
                *[
                    F.coalesce(F.col(f"a.{c}"), F.col(f"b.{c}")).alias(c)
                    for c in cols
                ],
                F.coalesce(F.col("a._a"), F.lit(0)).alias("_a"),
                F.coalesce(F.col("b._b"), F.lit(0)).alias("_b"),
            )
            .filter(F.col("_a") != F.col("_b"))
            .localCheckpoint(eager=True)
        )
        rep = F.explode(
            F.sequence(F.lit(1), (F.col("_b") - F.col("_a")))
        ).alias("_i")
        ins = (
            changed.filter(F.col("_b") > F.col("_a"))
            .select(*cols, rep)
            .drop("_i")
        )
        rep_d = F.explode(
            F.sequence(F.lit(1), (F.col("_a") - F.col("_b")))
        ).alias("_i")
        dels = (
            changed.filter(F.col("_a") > F.col("_b"))
            .select(*cols, rep_d)
            .drop("_i")
        )
        if key is not None:
            upd = (
                ins.select(key).intersect(dels.select(key))
                .withColumn("_upd", F.lit(True))
            )
            ins = (
                ins.join(upd, key, "left")
                .withColumn(
                    "_change_type",
                    F.when(F.col("_upd"), F.lit("update_postimage"))
                    .otherwise(F.lit("insert")),
                )
                .drop("_upd")
            )
            dels = (
                dels.join(upd, key, "left")
                .withColumn(
                    "_change_type",
                    F.when(F.col("_upd"), F.lit("update_preimage"))
                    .otherwise(F.lit("delete")),
                )
                .drop("_upd")
            )
        else:
            ins = ins.withColumn("_change_type", F.lit("insert"))
            dels = dels.withColumn("_change_type", F.lit("delete"))
        step = ins.unionByName(dels).withColumns(
            {
                "_commit_version": F.lit(v).cast("int"),
                "_commit_note": F.lit(e["note"]),
            }
        )
        parts.append(step)
        prev = cur
    if not parts:
        return spark.createDataFrame([], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    order_keys = [key] if key is not None else cols
    return out.select(*[f.name for f in out_schema.fields]).orderBy(
        "_commit_version", "_change_type", *order_keys
    )


_CDF_ORACLE = """
SELECT doc_id, text, lang, source, n_chars,
  _change_type, _commit_version, _commit_note
FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang, source,
    CAST(n_chars AS BIGINT) AS n_chars,
    'insert' AS _change_type, CAST(1 AS INTEGER) AS _commit_version,
    'ingest documents' AS _commit_note
  FROM (VALUES (900000001, 'neu doc eins', 'de', 'src97', 12),
               (900000002, 'neu doc zwei', 'de', 'src97', 12))
       v(doc_id, text, lang, source, n_chars)
  UNION ALL
  SELECT doc_id, text, lang, source, n_chars,
    'delete', CAST(2 AS INTEGER), 'delete documents'
  FROM documents WHERE doc_id < 8
)
ORDER BY _commit_version, _change_type, doc_id
"""


@query(
    "q34_table_changes",
    oracle=_CDF_ORACLE,
    tags=("S23", "S22", "S19", "E1"),
)
def q34_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S23 end to end (round 10, r9-VERDICT item 2): the change data
    feed. On a sandbox corpus, an INSERT commits v1 and a predicate
    DELETE commits v2; ``SELECT * FROM table_changes('documents', 0,
    2)`` returns exactly the two inserted rows tagged (insert, 1) and
    the deleted rows tagged (delete, 2) — recomputable in DuckDB as
    the inserted literals UNION the rows the predicate removed."""
    from ..catalog import TABLES
    from ..engine import Engine
    from .retention import _demo_corpus

    demo = _demo_corpus(spark, sf_dir, TABLES, demo="cdf")
    eng = Engine(spark, demo)
    eng.sql(
        "INSERT INTO documents VALUES "
        "(900000001, 'neu doc eins', 'de', 'src97', 12), "
        "(900000002, 'neu doc zwei', 'de', 'src97', 12)"
    )
    eng.sql("DELETE FROM documents WHERE doc_id < 8")
    return eng.sql("SELECT * FROM table_changes('documents', 0, 2)")
