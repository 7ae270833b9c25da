"""The engine's serving state: one :class:`WarehouseState` per
(session, warehouse) and one :class:`SessionState` per session.

Every layout publishes immutable versioned files (or appends new ones)
and records where they live in the serving state; routing, scans and
the verbatim views resolve through it. Time travel, RESTORE and
transaction rollback therefore all reduce to copying a warehouse's
state and installing a copy — this module owns both steps, and it is
the only module that touches the SparkSession object itself.

- :class:`WarehouseState` — everything keyed by one warehouse (a
  fixture or sandbox directory): the layout entries, tombstones,
  retention watermarks, the ingested set, mutation epochs, the
  user-view catalog and the publish counters (the *serving*
  fields, which :meth:`WarehouseState.copy` copies), plus its commit
  :class:`History`, which every copy shares.
- :class:`SessionState` — what really is session-wide: the txn-active
  flag, the AS OF pin, the temp-view ownership ledgers (temp views are
  session-global names), the scan caches, and the catalog's conf flag
  and table cache.

Because a copy holds one warehouse, installing it (rollback, RESTORE,
AS OF) can never change what another warehouse serves.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, NamedTuple

from pyspark.sql import SparkSession

_KEY = "_bdp_state"


@dataclass
class History:
    """A warehouse's commit history: the snapshot ledger (one dict per
    reachable commit), the next version number (monotone across VACUUM
    and RESTORE), and the change-feed staging of the in-flight commit.
    Shared by every copy of the warehouse's state — installing an older
    state never rewinds history."""

    ledger: list[dict[str, Any]] = field(default_factory=list)
    seq: int = 0
    cdf_pending: dict[str, str] | None = None
    cdf_seq: int = 0


@dataclass
class WarehouseState:
    sf_dir: str
    # built-in projections: name -> path, or a (rollup, denorm) name pair
    projections: dict[str, Any] = field(default_factory=dict)
    # publish counters, keyed by base path/name + separator
    versions: dict[str, int] = field(default_factory=dict)
    # bucket count -> (lineitem table, orders table)
    bucketed: dict[int, tuple[str, str]] = field(default_factory=dict)
    zorder: str | None = None
    dated: str | None = None
    dated_events: str | None = None
    docstore: str | None = None
    tombstones: dict[str, str] = field(default_factory=dict)  # table -> path
    watermarks: dict[str, str] = field(default_factory=dict)  # table -> cutoff
    ingested: set[str] = field(default_factory=set)
    mutation_epoch: dict[str, int] = field(default_factory=dict)
    user_projections: dict[str, Any] = field(default_factory=dict)
    history: History = field(default_factory=History)

    def copy(self) -> WarehouseState:
        """An independent copy of the serving fields (catalog entries
        are copied too — their ``path`` swings on refresh); the history
        is shared."""
        return replace(
            self,
            projections=dict(self.projections),
            versions=dict(self.versions),
            bucketed=dict(self.bucketed),
            tombstones=dict(self.tombstones),
            watermarks=dict(self.watermarks),
            ingested=set(self.ingested),
            mutation_epoch=dict(self.mutation_epoch),
            user_projections={
                n: replace(u) for n, u in self.user_projections.items()
            },
        )

    def publish(self, base: str, sep: str = "_v") -> str:
        """The next version of ``base`` (a path or a table name):
        ``{base}{sep}{n}``, n counting per (base, sep). The caller
        writes it and then swings its entry."""
        key = base + sep
        n = self.versions.get(key, 0) + 1
        self.versions[key] = n
        return f"{base}{sep}{n}"

    def live_paths(self) -> list[str]:
        """Every path or table name this state serves from — VACUUM's
        live set (a table name's location is ``<warehouse>/<name>``)."""
        out: list[str] = []
        for v in (*self.projections.values(), *self.bucketed.values()):
            out.extend(v if isinstance(v, tuple) else (v,))
        out += [
            p for p in (self.zorder, self.dated, self.dated_events,
                        self.docstore) if p
        ]
        out += self.tombstones.values()
        out += [u.path for u in self.user_projections.values()]
        return out


class AsOf(NamedTuple):
    """The active snapshot read: which warehouse, its file listing at
    the pinned commit, and the commit's version number."""

    sf_dir: str
    files: frozenset[str]
    version: int


@dataclass
class SessionState:
    warehouses: dict[str, WarehouseState] = field(default_factory=dict)
    txn_active: bool = False
    as_of: AsOf | None = None
    # temp-view ownership: view name -> warehouse the engine registered
    # it for; the plan identity and mutation epoch of each fact view
    # registration; the warehouse the fixture views were registered for
    dim_views: dict[str, str] = field(default_factory=dict)
    fact_views: dict[str, str] = field(default_factory=dict)
    fact_view_ids: dict[str, Any] = field(default_factory=dict)
    fact_view_epoch: dict[str, tuple[str, int]] = field(default_factory=dict)
    views_for: str | None = None
    # scan caches: versioned path -> DataFrame, append-layout path ->
    # schema, (path, pinned file set) -> DataFrame, bucketed table
    # name -> (lineitem and orders mutation epochs, size in bytes)
    versioned_scans: dict[str, Any] = field(default_factory=dict)
    layout_schemas: dict[str, Any] = field(default_factory=dict)
    pinned_scans: dict[tuple[str, frozenset], Any] = field(default_factory=dict)
    bucketed_sizes: dict[str, tuple[tuple[int, int], int]] = field(
        default_factory=dict
    )
    conf_done: bool = False
    tables: dict[tuple[str, str], Any] = field(default_factory=dict)
    sandboxes: dict[tuple, str] = field(default_factory=dict)


def session_state(spark: SparkSession) -> SessionState:
    s = spark.__dict__.get(_KEY)
    if s is None:
        s = spark.__dict__.setdefault(_KEY, SessionState())
    return s


def warehouse(spark: SparkSession, sf_dir: str) -> WarehouseState:
    """The warehouse's installed state (created empty on first use)."""
    whs = session_state(spark).warehouses
    ws = whs.get(sf_dir)
    if ws is None:
        ws = whs.setdefault(sf_dir, WarehouseState(sf_dir))
    return ws


def install(spark: SparkSession, state: WarehouseState) -> None:
    """Make ``state`` its warehouse's serving state.

    An install outside an AS OF pin makes a copied state LIVE (txn
    rollback, RESTORE): its publish counters are behind paths that were
    written since the copy, so a later publish can reuse a path whose
    files the caller is about to remove, and its mutation epochs are
    behind appends the caller is about to undo — the versioned-scan,
    layout-schema and bucketed-size caches drop here, the one place
    they ever drop.
    Installs under the pin (AS OF entry, and the exit that re-installs
    the live object itself) keep them: nothing publishes inside a
    read-only snapshot read, so the live caches survive the block."""
    s = session_state(spark)
    s.warehouses[state.sf_dir] = state
    if s.as_of is None:
        s.versioned_scans.clear()
        s.layout_schemas.clear()
        s.bucketed_sizes.clear()


def deploy_name(spark: SparkSession, sf_dir: str, base: str) -> str:
    """The path or table name a lazy layout deploy writes. Inside an
    AS OF read of this warehouse it is the ``_asof`` twin: overwrite
    mode on the live name would destroy the live layout's appended
    batches, while the twin lands only in the installed snapshot copy
    (discarded at exit; its files are VACUUM orphans). Its content is
    epoch-correct: a missing entry means the table was never ingested
    by that commit, so the fixture IS the commit's relation."""
    pin = session_state(spark).as_of
    return f"{base}_asof" if pin is not None and pin.sf_dir == sf_dir else base
