"""The benchmark's workloads: seeded operation lists, how each operation
runs against the engine, and each workload's correctness gate.

An operation (:class:`Op`) is one call into the engine's public surface
(``Engine.sql``, a registry query's ``build``, a CDC consumer's
``poll``, ``Engine.table_changes``). Each workload builds its pass — an
ordered operation list — from the seed alone, so one seed always issues
the same statements; the loop in ``worker.py`` replays whole passes.

Read operations are split at the boundary the engine exposes:
``Engine.sql(text)`` (or a registry ``build``) only plans, and
``toPandas()`` executes and collects. Collecting, rather than draining
to the noop sink, keeps each answer for the correctness gate; every
answer is a small aggregate or top-N. DML executes inside
``Engine.sql``.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import tempfile
import time
from dataclasses import dataclass, field

import duckdb

import datagen
from harness import Tally, Tracer, percentile, tail_percentile

# -- operations ---------------------------------------------------------


@dataclass
class Op:
    kind: str  # routed | refused | operator | write | cdc | asof | changes
    name: str  # statement label (registry short name or verb)
    text: str  # SQL text or call description; hashed into the run record
    shadow: tuple[str, ...] = ()  # DuckDB statements mirroring a write
    extra: dict = field(default_factory=dict)

    @property
    def is_read(self) -> bool:
        return self.kind in ("routed", "refused", "operator", "asof", "changes")


def _write(name: str, sql: str, shadow: tuple[str, ...] | None = None, cdc: str | None = None) -> Op:
    """A DML statement; the DuckDB shadow runs ``shadow`` (default: the
    same text)."""
    return Op("write", name, sql, (sql,) if shadow is None else shadow,
              {"cdc": cdc} if cdc else {})


def _compare(tally: Tally, label: str, got, want) -> None:
    from bigdataproj_spark.testing import compare_frames

    try:
        compare_frames(got, want, label)
    except AssertionError as e:
        tally.wrong_(label, str(e))


# -- routed_sql ---------------------------------------------------------

# Registry statements whose oracle is the statement's own SQL text,
# routed to six layouts plus the raw plan. The registry has seven more:
# r88, q28, r176, r122 and q10 on the Z-order, dated, bucketed and
# star-date lineitem layouts and the segment cube, and q04 and r155 on
# the order-revenue star and a user projection. Their layouts take
# 30 s more to deploy on a loaded 4-core host, which the per-run time
# budget does not allow.
ROUTED = (
    "r131", "q14", "r163", "r157", "r89", "r152",
    "r164", "r165", "r154", "r162", "q36", "r172",
)
# Literal alternatives per template: (literal in the registry text,
# replacements the seed picks from).
VARIANTS = {
    "r131": ("TIMESTAMP '1999-09-01 00:00:00'",
             ("TIMESTAMP '1998-12-01 00:00:00'", "TIMESTAMP '1999-09-01 00:00:00'",
              "TIMESTAMP '2000-06-01 00:00:00'")),
    "q36": ("n_chars >= 150", ("n_chars >= 120", "n_chars >= 150", "n_chars >= 220")),
    "r154": ("TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-14 23:59:59'",
             ("TIMESTAMP '2024-01-03 00:00:00' AND TIMESTAMP '2024-01-07 23:59:59'",
              "TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-14 23:59:59'",
              "TIMESTAMP '2024-01-21 00:00:00' AND TIMESTAMP '2024-01-26 23:59:59'")),
    "q14": ("p_size >= 25", ("p_size >= 20", "p_size >= 25", "p_size >= 40")),
}
# Statements the SQL front door refuses (window functions, subqueries,
# set operations); they run verbatim through spark.sql. ``{}`` takes a
# seeded literal from the paired tuple.
REFUSED = (
    ("window_lineitem",
     "SELECT l_returnflag, l_orderkey, l_linenumber, rn FROM ("
     "SELECT l_returnflag, l_orderkey, l_linenumber, ROW_NUMBER() OVER ("
     "PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, "
     "l_linenumber) AS rn FROM lineitem) t WHERE rn <= {} "
     "ORDER BY l_returnflag, rn", ("5", "10", "20")),
    ("in_subquery",
     "SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE o_orderkey IN ("
     "SELECT l_orderkey FROM lineitem WHERE l_quantity >= {}) "
     "GROUP BY o_orderpriority ORDER BY o_orderpriority", ("45", "48", "50")),
    ("window_documents",
     "SELECT lang, doc_id, n_chars, rk FROM (SELECT lang, doc_id, n_chars, "
     "RANK() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk "
     "FROM documents) t WHERE rk <= {} ORDER BY lang, rk", ("3", "5", "8")),
    ("events_lag",
     "SELECT user_id, COUNT(*) AS n FROM (SELECT user_id, ts, LAG(ts) OVER ("
     "PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events "
     "WHERE event_type = '{}') t WHERE prev IS NOT NULL "
     "GROUP BY user_id ORDER BY user_id", ("click", "purchase", "view")),
    ("union_keys",
     "SELECT k, COUNT(*) AS n FROM (SELECT c_nationkey AS k FROM customer "
     "UNION ALL SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > {}) t "
     "GROUP BY k ORDER BY k", ("0", "2500", "5000")),
)
# An execution-heavy registry query (a shuffled five-table star join),
# the one operator-bound statement of the pass. MinHash LSH (q27) is
# left out: its time swings 0.9-3.9 s between runs on a shared host.
OPERATORS = ("q26",)


def _registry() -> dict:
    from bigdataproj_spark.registry import load_all

    return {name.split("_")[0]: q for name, q in load_all().items()}


class RoutedSql:
    """SQL text through ``Engine.sql`` with the layouts its statements
    route to deployed in setup, plus one operator-heavy registry query,
    over fact tables split into ``files`` part files so that scans run
    as several tasks."""

    name = "routed_sql"
    sf = 0.01
    files = 2
    max_passes = 64
    min_passes = 1
    extra_ops: tuple[Op, ...] = ()

    def __init__(self, seed: int):
        rng = random.Random(seed)
        reg = _registry()
        ops: list[Op] = []
        for short in ROUTED:
            text = reg[short].oracle
            if short in VARIANTS:
                old, choices = VARIANTS[short]
                assert old in text, (short, old)
                text = text.replace(old, rng.choice(choices))
            ops.append(Op("routed", short, text))
        for label, tmpl, choices in REFUSED:
            ops.append(Op("refused", label, tmpl.format(rng.choice(choices))))
        for short in OPERATORS:
            ops.append(Op("operator", short, reg[short].name))
        # The order stays fixed: the first ops of the loop pay the JVM's
        # remaining warm-up, and a seeded order moved the CPU time per
        # op of a pass by 10% between seeds.
        self.ops = ops
        self.seed = seed
        self.reg = reg

    def pass_ops(self, k: int) -> list[Op]:
        return self.ops

    def setup(self, spark, data_dir: str, step) -> None:
        from bigdataproj_spark.engine import Engine

        self.spark, self.sf_dir = spark, data_dir
        with step("datagen"):
            datagen.write(datagen.generate(self.seed, self.sf), data_dir, self.files)
        # Planning each routed registry statement once deploys the
        # layout it routes to (and declares the two user projections).
        for short in ROUTED:
            with step(f"deploy.{short}"):
                self.reg[short].build(spark, data_dir)
        self.eng = Engine(spark, data_dir)
        self.answers: dict = {}

    def loop_done(self) -> None:
        pass

    def run(self, op: Op, tr: Tracer) -> None:
        if op.kind == "operator":
            with tr.span("operators.build"):
                df = self.reg[op.name].build(self.spark, self.sf_dir)
        else:
            with tr.span("plans.sql"):
                df = self.eng.sql(op.text)
        with tr.span("exec.collect"):
            got = df.toPandas()
        self.answers.setdefault(op.name, got)

    def after(self, tally: Tally, traced: bool) -> dict[str, str]:
        """Correctness gate: each distinct statement's answer from the
        loop against DuckDB running the identical text (operator
        queries: their registry oracle). Returns the layout each
        statement routes to, or "refused"."""
        from bigdataproj_spark.plans.sqlfront import UnsupportedSQL, route_sql

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{datagen.parquet_glob(self.sf_dir, t)}')"
            )
        chosen: dict[str, str] = {}
        for op in self.ops:
            if op.name not in self.answers:
                continue  # raised in the loop; already counted
            tally.attempted += 1
            try:
                if op.kind == "operator":
                    chosen[op.name] = "operator"
                    want = con.execute(self.reg[op.name].oracle).fetchdf()
                else:
                    try:
                        chosen[op.name] = route_sql(self.spark, self.sf_dir, op.text)[1]
                    except UnsupportedSQL:
                        chosen[op.name] = "refused"
                    if (op.kind == "refused") != (chosen[op.name] == "refused"):
                        tally.wrong_(op.name, f"routing: {chosen[op.name]}")
                        continue
                    want = con.execute(op.text).fetchdf()
            except Exception as e:  # noqa: BLE001 - counted, reported
                tally.raise_(op.name, e)
                continue
            _compare(tally, op.name, self.answers[op.name], want)
        con.close()
        return chosen

    def workload_metrics(self, recs, span_ms: dict[str, list[float]]) -> dict:
        """Wall time of each operator-bound registry query."""
        return {
            f"operators.{short}_ms": (
                percentile([r.wall_ms for r in recs if r.op.name == short], 50), "ms")
            for short in OPERATORS
            if any(r.op.name == short for r in recs)
        }


# -- dml_cdc ------------------------------------------------------------

SEGMENT_READ = (
    "SELECT c_mktsegment, o_orderpriority, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) "
    "- CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue, COUNT(*) AS n "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY c_mktsegment, o_orderpriority ORDER BY c_mktsegment, o_orderpriority"
)
DOCS_READ = (
    "SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "COUNT(*) AS n FROM documents GROUP BY lang, source ORDER BY lang, source"
)
EVENTS_READ = (
    "SELECT event_type, COUNT(*) AS n FROM events "
    "GROUP BY event_type ORDER BY event_type"
)
ORDERS_COUNT_ASOF = "SELECT COUNT(*) AS n FROM orders FOR SYSTEM_VERSION AS OF {v}"
_KEY0 = 50_000_000  # first key of inserted orders / documents / events


def _ts(day: int, sec: int) -> str:
    return f"TIMESTAMP '2024-01-{day:02d} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}'"


class DmlCdc:
    """A seeded stream of small mutations through ``Engine.sql`` on a
    warehouse with the docs and events cubes and two CDC consumers, each
    write followed by a CDC poll or a routed read.

    Every cycle has the same shape (:meth:`_cycle`), so every seed times
    the same mix of verbs and only keys and values change. Writes to
    orders and lineitem (:meth:`_heavy`) take 5-18 s each on a loaded
    4-core host, so they run in traced runs only, after the cycle; for
    the same reason the segment cube, which takes 15-25 s to build and
    which only they would refresh, is not deployed. The DuckDB shadow
    replays every write that succeeded after the loop, outside the
    timed window."""

    name = "dml_cdc"
    sf = 0.01
    files = 1
    max_passes = 16
    # The first cycle of a session runs 2-3x slower than later ones
    # (JIT compilation and codegen of every verb's plans), and how much
    # of that compilation lands in it depends on how fast the host ran
    # set-up. Timing it alone, or one cycle after an untimed warm-up
    # cycle, spread the CPU time per op 0.06-0.19 (IQR / median) over
    # seeds; two timed cycles keep the compilation inside the window.
    min_passes = 2

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(seed)
        n_ord = max(1_500, int(1_500_000 * self.sf))
        n_doc = max(500, int(50_000 * self.sf))
        self.n_cust = max(150, int(150_000 * self.sf))
        # disjoint keys: 4 deleted documents per cycle; 4 updated, 3
        # merged and 5 deleted orders for the heavy verbs
        doc_pool = rng.sample(range(n_doc), 4 * self.max_passes)
        self.passes = [
            self._cycle(k, rng, doc_pool[4 * k : 4 * k + 4]) for k in range(self.max_passes)
        ]
        self.extra_ops = self._heavy(rng, rng.sample(range(n_ord), 12))

    def _cycle(self, k, rng, doc_keys) -> list[Op]:
        ops: list[Op] = []
        docs = [
            (_KEY0 + 4 * k + i,
             f"bench doc {k} {i} " + " ".join(rng.choice(datagen.WORDS) for _ in range(6)),
             rng.choice(datagen.LANGS), f"src{rng.randrange(20)}")
            for i in range(3)
        ]
        rows = ", ".join(
            f"({d}, '{text}', '{lang}', '{src}', {len(text)})" for d, text, lang, src in docs
        )
        ops.append(_write(
            "insert_documents",
            f"INSERT INTO documents (doc_id, text, lang, source, n_chars) VALUES {rows}",
            cdc="docs",
        ))
        ops.append(Op("cdc", "poll_documents", "CdcConsumer(documents).poll()"))
        ops.append(Op("routed", "read_documents", DOCS_READ))
        keys = ", ".join(map(str, doc_keys))
        ops.append(_write(
            "delete_documents", f"DELETE FROM documents WHERE doc_id IN ({keys})", cdc="docs"
        ))
        ops.append(Op("cdc", "poll_documents", "CdcConsumer(documents).poll()"))
        ops.append(Op("routed", "read_documents", DOCS_READ))
        rows = ", ".join(
            f"({_KEY0 + 4 * k + i}, {_ts(rng.randrange(1, 31), rng.randrange(86_400))}, "
            f"{rng.randrange(150)}, '{rng.choice(datagen.EVENT_TYPES)}', "
            f"{rng.randrange(0, 50_000) / 100:.2f}, '{{\"k\": {rng.randrange(100)}}}')"
            for i in range(4)
        )
        ops.append(_write(
            "insert_events",
            f"INSERT INTO events (event_id, ts, user_id, event_type, value, props) VALUES {rows}",
            cdc="events",
        ))
        ops.append(Op("cdc", "poll_events", "CdcProjectionConsumer(events).poll()"))
        ops.append(Op("routed", "read_events", EVENTS_READ))
        ops.append(Op("asof", "asof_orders", ORDERS_COUNT_ASOF))
        ops.append(Op("changes", "table_changes", "table_changes('documents', v, head)"))
        return ops

    def _heavy(self, rng, order_keys) -> list[Op]:
        """Three new orders, an UPDATE of four orders, a MERGE of three
        orders plus one new order, and a DELETE of five orders that
        cascades to their line items. A line-item INSERT is left out: at
        10-18 s it alone would take a traced run past its time limit on
        a loaded host."""
        ops: list[Op] = []
        new_orders = [_KEY0 + i for i in range(3)]
        rows = ", ".join(
            f"({o}, {rng.randrange(self.n_cust)}, '{rng.choice('FOP')}', "
            f"{rng.randrange(100_000, 50_000_000) / 100:.2f}, "
            f"TIMESTAMP '199{rng.randrange(5, 9)}-0{rng.randrange(1, 10)}-1{rng.randrange(0, 9)} 00:00:00', "
            f"'{rng.choice(datagen.PRIORITIES)}')"
            for o in new_orders
        )
        ops.append(_write("insert_orders", f"INSERT INTO orders VALUES {rows}"))
        keys = ", ".join(map(str, order_keys[:4]))
        ops.append(_write(
            "update_orders",
            f"UPDATE orders SET o_orderpriority = '9-BENCH-{rng.randrange(3)}' "
            f"WHERE o_orderkey IN ({keys})",
        ))
        prio = f"9-BENCH-{rng.randrange(3)}"
        mrg = ", ".join(map(str, order_keys[4:7]))
        new_row = (
            f"CAST({_KEY0 + 3} AS BIGINT), "
            f"CAST({rng.randrange(self.n_cust)} AS BIGINT), "
            "'O', CAST(999.5 AS DOUBLE), TIMESTAMP '1996-03-03 00:00:00'"
        )
        sql = (
            "MERGE INTO orders USING (SELECT o_orderkey, o_custkey, o_orderstatus, "
            f"o_totalprice, o_orderdate, '{prio}' AS o_orderpriority FROM orders "
            f"WHERE o_orderkey IN ({mrg}) UNION ALL SELECT {new_row}, '{prio}'"
            ") s ON o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        ops.append(_write("merge_orders", sql, shadow=(
            f"UPDATE orders SET o_orderpriority = '{prio}' WHERE o_orderkey IN ({mrg})",
            f"INSERT INTO orders VALUES ({new_row}, '{prio}')",
        )))
        dele = ", ".join(map(str, order_keys[7:]))
        sql = f"DELETE FROM orders WHERE o_orderkey IN ({dele})"
        ops.append(_write("delete_orders", sql, shadow=(
            f"DELETE FROM lineitem WHERE l_orderkey IN ({dele})", sql,
        )))
        return ops

    @property
    def ops(self) -> list[Op]:
        return [op for p in self.passes for op in p] + self.extra_ops

    def pass_ops(self, k: int) -> list[Op]:
        return self.passes[k]

    def setup(self, spark, data_dir: str, step) -> None:
        from bigdataproj_spark.engine import Engine
        from bigdataproj_spark.sources.corpus_cubes import (
            docs_stats_cube_table,
            events_hourly_cube_table,
        )
        from bigdataproj_spark.sources.snapshots import ensure_base
        from bigdataproj_spark.streaming.cdc import CdcConsumer, CdcProjectionConsumer

        self.spark, self.sf_dir = spark, data_dir
        with step("datagen"):
            datagen.write(datagen.generate(self.seed, self.sf), data_dir, self.files)
        with step("deploy.docs_stats_cube"):
            docs_stats_cube_table(spark, data_dir)
        with step("deploy.events_hourly_cube"):
            events_hourly_cube_table(spark, data_dir)
        self.eng = Engine(spark, data_dir)
        with step("deploy.snapshot_base"):
            ensure_base(spark, data_dir)
        cdc_root = self.cdc_root = os.path.join(os.path.dirname(data_dir), "cdc")
        with step("deploy.cdc_documents"):
            self.cdc_docs = CdcConsumer(spark, data_dir, os.path.join(cdc_root, "docs"))
            self.cdc_docs.bootstrap()
        with step("deploy.cdc_events"):
            self.cdc_events = CdcProjectionConsumer(
                spark, data_dir, os.path.join(cdc_root, "events"), "bench_events",
                table="events", keys=("event_type",),
            )
            self.cdc_events.bootstrap()
        self.applied: list[tuple[int, Op]] = []  # (cycle, write) in commit order
        self.asof_checks: list[tuple[int, int]] = []  # (cycle, engine count)
        self.cdc_visible: list[float] = []
        self.rows_per_poll: list[int] = []
        self._pending_cdc: dict[str, float] = {}
        self.cycle = -1
        self.head0 = self._head()
        self.tree0 = self._tree()

    def _head(self) -> int:
        return int(self.eng.history().collect()[-1]["version"])

    def _tree(self) -> tuple[int, int]:
        """(files, bytes) under the engine's warehouse and the CDC tables."""
        files = size = 0
        roots = glob.glob(os.path.join(tempfile.gettempdir(), "bigdataproj_*"))
        for root in roots + [self.cdc_root]:
            for d, _s, fs in os.walk(root):
                files += len(fs)
                size += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
        return files, size

    def begin_pass(self) -> None:
        """Pin the cycle's time-travel version (untimed bookkeeping)."""
        self.cycle += 1
        self.pass_version = self._head()

    def run(self, op: Op, tr: Tracer) -> None:
        if op.kind == "write":
            t0 = time.perf_counter()
            with tr.span(f"plans.ddl.{op.name}"):
                self.eng.sql(op.text)
            self.applied.append((self.cycle, op))
            if "cdc" in op.extra:
                self._pending_cdc[op.extra["cdc"]] = t0
        elif op.kind == "cdc":
            table = "docs" if op.name == "poll_documents" else "events"
            consumer = self.cdc_docs if table == "docs" else self.cdc_events
            with tr.span("cdc.poll"):
                n = consumer.poll()
            self.rows_per_poll.append(n)
            t0 = self._pending_cdc.pop(table, None)
            if t0 is not None:
                self.cdc_visible.append((time.perf_counter() - t0) * 1000.0)
        elif op.kind == "asof":
            with tr.span("sources.asof_read"):
                df = self.eng.sql(op.text.format(v=self.pass_version))
                n = df.collect()[0]["n"]
            self.asof_checks.append((self.cycle, n))
        elif op.kind == "changes":
            with tr.span("sources.table_changes"):
                self.eng.table_changes("documents", self.pass_version, self._head()).toPandas()
        else:
            with tr.span("plans.sql"):
                df = self.eng.sql(op.text)
            with tr.span("exec.collect"):
                df.toPandas()

    def loop_done(self) -> None:
        self.head1 = self._head()
        self.tree1 = self._tree()

    def _replay_shadow(self) -> dict[int, int]:
        """Apply the writes the engine committed to a DuckDB copy of the
        base tables, in order. Returns the shadow's order count at the
        start of each cycle."""
        self.con = con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_parquet("
                f"'{datagen.parquet_glob(self.sf_dir, t)}')"
            )
        counts: dict[int, int] = {}
        for cycle, op in self.applied:
            if cycle not in counts:
                counts[cycle] = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
            for s in op.shadow:
                con.execute(s)
        return counts

    def _check_reads(self, tally: Tally) -> dict[str, str]:
        from bigdataproj_spark.plans.sqlfront import route_sql

        reads = [("read_documents", DOCS_READ), ("read_events", EVENTS_READ)]
        if any(op.name.endswith(("_orders", "_lineitem")) for _c, op in self.applied):
            reads.append(("read_segment", SEGMENT_READ))
        chosen = {}
        for label, sql in reads:
            tally.attempted += 1
            try:
                chosen[label] = route_sql(self.spark, self.sf_dir, sql)[1]
                got = self.eng.sql(sql).toPandas()
            except Exception as e:  # noqa: BLE001 - counted, reported
                tally.raise_(label, e)
                continue
            _compare(tally, label, got, self.con.execute(sql).fetchdf())
        return chosen

    def _check_all(self, tally: Tally) -> dict[str, str]:
        """Routed reads, the CDC-derived tables and the time-travel reads
        against the shadow. Returns the layout each routed read uses."""
        start_counts = self._replay_shadow()
        chosen = self._check_reads(tally)
        tally.attempted += 2
        try:
            self.cdc_docs.poll()
            self.cdc_events.poll()
            got_docs = self.cdc_docs.derived().toPandas()
            got_ev = self.cdc_events.derived().select("event_type", "cnt").toPandas()
        except Exception as e:  # noqa: BLE001 - counted, reported
            tally.raise_("cdc_derived", e)
            return chosen
        _compare(
            tally, "cdc_documents", got_docs,
            self.con.execute(
                "SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total, COUNT(*) AS n "
                "FROM documents GROUP BY lang"
            ).fetchdf(),
        )
        _compare(
            tally, "cdc_events", got_ev,
            self.con.execute(
                "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type"
            ).fetchdf(),
        )
        tally.attempted += 1
        bad = [(c, n, start_counts.get(c)) for c, n in self.asof_checks
               if n != start_counts.get(c)]
        if bad:
            tally.wrong_("asof_orders", f"(cycle, engine, shadow) {bad[:3]}")
        return chosen

    def after(self, tally: Tally, traced: bool) -> dict[str, str]:
        """Correctness gate; in traced runs then OPTIMIZE and VACUUM as
        background work and a second check of the routed reads. VACUUM
        drops every superseded version, so the CDC consumers are
        compared before it. Maintenance (5-9 s) is left out of untraced
        runs, where no figure uses it, to keep them inside the time
        budget."""
        chosen = self._check_all(tally)
        if not traced:
            return chosen
        tally.attempted += 1
        try:
            before = self._tree()[0]
            t0 = time.perf_counter()
            self.eng.sql("OPTIMIZE")
            t1 = time.perf_counter()
            self.eng.sql("VACUUM")
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - counted, reported
            tally.raise_("maintenance", e)
            return chosen
        self.maintenance = {
            "sources.warehouse_files": (before, "count"),
            "sources.optimize_ms": ((t1 - t0) * 1000.0, "ms"),
            "sources.vacuum_ms": ((t2 - t1) * 1000.0, "ms"),
            "sources.vacuum_files_removed": (before - self._tree()[0], "count"),
        }
        self._check_reads(tally)
        return chosen

    def workload_metrics(self, recs, span_ms: dict[str, list[float]]) -> dict:
        """Figures only this workload has: write and freshness latency
        over ``recs``, and per-layer figures from the traced spans."""
        out: dict[str, tuple[float, str]] = {}
        writes = [r.wall_ms for r in recs if r.op.kind == "write"]
        if writes:
            p, v, _beyond = tail_percentile(writes)
            out |= {
                "write_p50_ms": (percentile(writes, 50), "ms"),
                "write_tail_ms": (v, "ms"),
                "write_tail_percentile": (p, "%"),
            }
            n_writes = sum(1 for cycle, _op in self.applied if cycle >= 0)
            out["sources.commits_per_write"] = ((self.head1 - self.head0) / n_writes, "count")
            out["sources.bytes_written_per_write"] = (
                (self.tree1[1] - self.tree0[1]) / n_writes, "bytes")
        if self.cdc_visible:
            out["cdc_visible_p50_ms"] = (percentile(self.cdc_visible, 50), "ms")
        if self.rows_per_poll:
            out["cdc.rows_per_poll"] = (statistics.median(self.rows_per_poll), "count")
        for name, xs in sorted(span_ms.items()):
            if name.startswith(("plans.ddl.", "cdc.", "sources.")):
                out[f"{name}_ms"] = (percentile(xs, 50), "ms")
        out |= getattr(self, "maintenance", {})
        return out


WORKLOADS = {RoutedSql.name: RoutedSql, DmlCdc.name: DmlCdc}
