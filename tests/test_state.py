"""The serving state: one WarehouseState per warehouse, one
SessionState per session, and sources/state.py as the only module
that touches the SparkSession object."""

from __future__ import annotations

import re
from pathlib import Path

import bigdataproj_spark
from bigdataproj_spark.sources.state import WarehouseState

_PKG = Path(bigdataproj_spark.__file__).parent
_STATE_MODULE = _PKG / "sources" / "state.py"


def test_only_the_state_module_touches_the_session_object():
    bag = re.compile(r"spark\.__dict__|[\"']_bdp_")
    gone = re.compile(r"\b(_STATE_KEYS|_USER_PROJ_ROOTS|snapshot_live_entries)\b")
    offenders = [
        f"{p.relative_to(_PKG)}:{n}: {line.strip()}"
        for p in sorted(_PKG.rglob("*.py"))
        if p != _STATE_MODULE
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if bag.search(line) or gone.search(line)
    ]
    assert not offenders, "\n".join(offenders)


# The writes into WarehouseState.projections made outside the view
# lifecycle (sources/user_projections.py): the rollup⋈denorm pair and
# the registries, as (module, key expression).
_NON_VIEW_ENTRIES = {
    ("sources/bucketed.py", '"order_revenue"'),
    ("sources/maintenance.py", '"order_revenue"'),
    ("sources/corpus_cubes.py", "key"),
}


def test_one_lifecycle_maintains_every_view():
    """Every view, built-in or user-declared, refreshes through one
    merge (``merge_partial_frames`` has one caller) and publishes
    through the one lifecycle: no other module writes a cube path into
    the state's projections. A hand-rolled cube refresh or deploy
    elsewhere fails here."""
    lifecycle = _PKG / "sources" / "user_projections.py"
    merges, writes = [], []
    for p in sorted(_PKG.rglob("*.py")):
        rel = str(p.relative_to(_PKG))
        for n, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"(?<!def )\bmerge_partial_frames\(", line):
                merges.append(f"{rel}:{n}")
            w = re.search(r"\.projections\[([^\]]+)\]\s*=(?!=)", line)
            if w and p != lifecycle and (rel, w.group(1)) not in _NON_VIEW_ENTRIES:
                writes.append(f"{rel}:{n}: {line.strip()}")
    assert len(merges) == 1, merges
    assert not writes, "\n".join(writes)


def test_copy_is_independent_and_shares_history():
    ws = WarehouseState("/w")
    ws.projections["cube"] = "/w/cube"
    ws.ingested.add("documents")
    ws.history.ledger.append({"version": 0})
    c = ws.copy()
    c.projections["cube"] = "/w/cube_v1"
    c.ingested.add("events")
    c.history.seq = 5
    assert ws.projections == {"cube": "/w/cube"}
    assert ws.ingested == {"documents"}
    assert c.history is ws.history and ws.history.seq == 5


def test_publish_counts_per_base_and_separator():
    ws = WarehouseState("/w")
    assert ws.publish("/w/cube") == "/w/cube_v1"
    assert ws.publish("/w/cube") == "/w/cube_v2"
    assert ws.publish("/w/cube", "_opt") == "/w/cube_opt1"
    assert ws.copy().publish("/w/cube") == "/w/cube_v3"
    assert ws.publish("/w/cube") == "/w/cube_v3"  # the copy's count is its own


def test_live_paths_cover_every_serving_field():
    ws = WarehouseState("/w")
    ws.projections.update(cube="/w/c", order_revenue=("roll", "den"))
    ws.bucketed[8] = ("li", "od")
    ws.zorder, ws.docstore = "/w/z", "/w/d"
    ws.tombstones["orders"] = "/w/t"
    assert sorted(ws.live_paths()) == sorted(
        ["/w/c", "roll", "den", "li", "od", "/w/z", "/w/d", "/w/t"]
    )
