"""Warehouse-level refresh atomicity: ALL-OR-NOTHING ingest batches.

Every individual layout refresh is atomic on its own — aggregate
projections publish a new version and swing their entry in the
warehouse's :class:`~.state.WarehouseState` in one assignment,
row-level appends become visible at Spark's job commit. The warehouse
level is not: :func:`~.maintenance.refresh_warehouse` applies ~12
layout refreshes in sequence, so a failure mid-sequence would leave the
cubes describing "base + delta" while later layouts still describe
"base", and a re-run would apply the additive cube merges twice.

:class:`WarehouseTxn` closes that with write-ahead-then-commit:

- On entry it takes :meth:`WarehouseState.copy` of the warehouse's
  serving state and the recursive file LISTING of its warehouse
  directory (:func:`listing`).
- The batch runs as before — later refreshes read earlier refreshes'
  new versions through the live state (the dimension-first ordering
  refresh_warehouse encodes needs that).
- On ANY exception, rollback installs the entry copy
  (:func:`~.state.install`, which also drops the scan caches) and
  :func:`undo_files_since` puts the directory back: every file the
  batch wrote is deleted (the local-filesystem equivalent of an
  object-store GC of uncommitted data files), the bucketed tables'
  listings are refreshed, and the engine-owned dim views of this
  warehouse re-point at the restored versions. The exception then
  propagates.

Only the transaction's own warehouse goes back; other warehouses in
the session, and the session-wide temp-view ownership, are untouched.
After a failed ingest every router, scan path, verbatim view and user
projection serves the pre-batch epoch — never a mix — and redelivering
the batch applies it exactly once (tests/test_maintenance.py pins both
with failure injection).

Catalog-table residue: a failed batch may leave an orphan catalog
entry for a versioned table name (saveAsTable registered it before the
failure). Nothing resolves table names except through the restored
state, and a redelivered batch recreates the same versioned name with
mode("overwrite"), so the orphan is inert.

At 100 TB only the file cleanup changes: on an object store you would
delete the batch's uncommitted files by listing its write paths (all
version- or batch-suffixed, so enumerable without a tree walk); the
state restore is O(#layouts) either way.

CONTRACT FOR NEW LAYOUTS — no in-place writes. Rollback restores the
pre-batch epoch only because every layout either publishes a NEW
versioned directory (:meth:`WarehouseState.publish`) or APPENDS new
files: a pre-batch file is never overwritten or truncated, so "delete
files not in the entry listing + install the entry state" is a
complete undo. A layout that rewrote a file in place would silently
break rollback. tests/test_maintenance.py pins this: after a full
ingest batch, every pre-batch file is byte-identical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .state import WarehouseState, install, session_state, warehouse


def _walk_files(root: str) -> set[str]:
    out: set[str] = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            out.add(os.path.join(dirpath, f))
    return out


def listing(sf_dir: str) -> frozenset[str]:
    """Every file under the warehouse directory of ``sf_dir``."""
    from .bucketed import _layout_paths

    _tag, wh = _layout_paths(sf_dir)
    return frozenset(_walk_files(wh)) if os.path.isdir(wh) else frozenset()


def repoint_dim_views(spark: SparkSession, sf_dir: str) -> None:
    """Re-register the engine-owned dim temp views of ``sf_dir`` from
    its installed state."""
    from ..plans.routing import CORPUS_DIMS

    for name, owner in list(session_state(spark).dim_views.items()):
        d = CORPUS_DIMS.get(name)
        if owner == sf_dir and d is not None:
            try:
                d.open(spark, sf_dir).createOrReplaceTempView(name)
            except Exception:
                pass


def undo_files_since(
    spark: SparkSession, sf_dir: str, files: frozenset[str]
) -> None:
    """After an older state was installed: delete every file written
    under the warehouse since ``files`` was listed (staged versions,
    appends, committer temp dirs) and the directories left empty,
    refresh the restored bucketed tables' cached listings, and re-point
    the warehouse's engine-owned dim views."""
    from .bucketed import _layout_paths

    _tag, wh = _layout_paths(sf_dir)
    if os.path.isdir(wh):
        for f in _walk_files(wh) - files:
            try:
                os.remove(f)
            except OSError:
                pass
        for dirpath, dirs, fs in os.walk(wh, topdown=False):
            if not dirs and not fs and dirpath != wh:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
    for names in warehouse(spark, sf_dir).bucketed.values():
        for name in names:
            try:
                spark.catalog.refreshTable(name)
            except Exception:
                pass
    repoint_dim_views(spark, sf_dir)


class WarehouseTxn:
    """Context manager making one maintenance batch all-or-nothing.

    ``with WarehouseTxn(spark, sf_dir): <apply batch>`` — commit is a
    no-op (the batch's own swings already published), rollback on
    exception restores the pre-batch epoch. Reentrant use (a batch
    step that itself opens a txn) is a no-op inner context: the
    outermost txn owns the snapshot.
    """

    def __init__(self, spark: SparkSession, sf_dir: str, note: str = "batch"):
        self.spark = spark
        self.sf_dir = sf_dir
        self.note = note
        self._outer = False
        self._snap: WarehouseState | None = None
        self._files: frozenset[str] = frozenset()

    # -- lifecycle --------------------------------------------------------
    def __enter__(self) -> "WarehouseTxn":
        sess = session_state(self.spark)
        if sess.as_of is not None:
            raise ValueError(
                "the warehouse is read-only inside an AS OF snapshot "
                "read — run mutations outside the as_of block"
            )
        if sess.txn_active:
            return self  # inner context: outermost txn owns the snapshot
        # S22: the first mutation against a warehouse records version 0
        # (the pre-any-mutation base) so time travel can reach it
        from .snapshots import ensure_base

        ensure_base(self.spark, self.sf_dir)
        # Take the snapshot BEFORE claiming the active flag: if it
        # raises, the session must not be left with a dangling flag that
        # turns every later txn into a rollback-less inner context.
        self._snap = warehouse(self.spark, self.sf_dir).copy()
        self._files = listing(self.sf_dir)
        sess.txn_active = True
        self._outer = True
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if not self._outer:
            return False
        session_state(self.spark).txn_active = False
        if exc_type is not None:
            # S23b: a failed batch's staged change deltas must not leak
            # into the NEXT commit's ledger entry (their files go with
            # the file cleanup)
            self._snap.history.cdf_pending = None
            install(self.spark, self._snap)
            undo_files_since(self.spark, self.sf_dir, self._files)
        else:
            # S22: a committed batch is a numbered, time-travelable
            # version; a rolled-back one leaves no ledger entry
            from .snapshots import record_commit

            record_commit(self.spark, self.sf_dir, self.note)
        return False  # always propagate
