"""Differential fuzz over DML SEQUENCES: random interleavings of
INSERT / key-list DELETE / predicate DELETE / TTL expiry applied as
IDENTICAL statement text to the engine (Engine.sql, all layouts
deployed and routed) and to a mutable DuckDB database — after every
statement, the routed profile answers must match the model exactly.

This is the composition gate for the round-9 DML trio: each verb is
oracle-checked individually by the registry rows; what a single-verb
oracle cannot catch is state carried BETWEEN verbs (a delete's
tombstones corrupting a later insert's cube merge, an expiry watermark
mis-filtering a later batch, affected-group rebuilds drifting after
many splices). Sequences are drawn deterministically from a seeded
RNG — no flaky reruns.

Two deliberate semantic asymmetries are modeled explicitly, because
the engine's retention semantics are STRONGER than plain SQL DELETE:

- a tombstoned key stays deleted (re-inserting it is dropped), so the
  fuzzer draws monotonically fresh doc_ids for inserts;
- event rows below the committed watermark are dropped at ingest, so
  the model-side INSERT excludes them (the engine-side statement keeps
  them, proving the drop).
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdataproj_spark.catalog import TABLES, table
from bigdataproj_spark.engine import Engine

_LANGS = ("en", "fr", "de", "es")
_PROFILE = (
    "SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "COUNT(*) AS n FROM documents GROUP BY lang, source "
    "ORDER BY lang, source"
)
_EVENTS_ROLLUP = (
    "SELECT event_type, COUNT(*) AS n FROM events "
    "GROUP BY event_type ORDER BY event_type"
)


def _setup(spark, sf_dir, tmp_path):
    work = tmp_path / "w"
    work.mkdir()
    for t in TABLES:
        table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
    eng = Engine(spark, str(work))
    # deploy the routed layouts so every profile check exercises the
    # cube maintenance the DML rides on
    from bigdataproj_spark.sources.corpus_cubes import (
        docs_stats_cube_table,
        events_hourly_cube_table,
    )

    docs_stats_cube_table(spark, str(work))
    events_hourly_cube_table(spark, str(work))

    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM "
            f"read_parquet('{work}/{t}.parquet/*.parquet', "
            "hive_partitioning=false)"
        )
    return eng, con


def _check(eng, con, routed_sql, label):
    from bigdataproj_spark.testing import compare_frames

    got = eng.sql(routed_sql).toPandas()
    want = con.execute(routed_sql).fetchdf()
    compare_frames(got, want, label)


@pytest.mark.parametrize("seed", [7, 23])
def test_dml_sequence_matches_duckdb_model(spark, sf_dir, tmp_path, seed):
    rng = random.Random(seed)
    eng, con = _setup(spark, sf_dir, tmp_path)
    next_doc_id = 900_000_000
    watermark = None  # committed events expiry cutoff (day string)
    days = [f"2024-01-{d:02d}" for d in range(5, 15)]

    def both(stmt):
        eng.sql(stmt)
        con.execute(stmt)

    for step in range(8):
        op = rng.choice(
            ["insert_docs", "delete_keys", "delete_pred", "expire",
             "insert_events"]
        )
        if op == "insert_docs":
            k = rng.randint(1, 5)
            rows = []
            for _ in range(k):
                rows.append(
                    f"({next_doc_id}, 'fuzz doc {next_doc_id}', "
                    f"'{rng.choice(_LANGS)}', 'src{rng.randint(1, 30)}', "
                    f"{rng.randint(1, 500)})"
                )
                next_doc_id += 1
            stmt = (
                "INSERT INTO documents (doc_id, text, lang, source, "
                "n_chars) VALUES " + ", ".join(rows)
            )
            both(stmt)
        elif op == "delete_keys":
            ids = [
                r[0]
                for r in con.execute(
                    "SELECT doc_id FROM documents "
                    f"WHERE doc_id % {rng.randint(37, 53)} = 1 LIMIT 20"
                ).fetchall()
            ]
            if not ids:
                continue
            both(
                "DELETE FROM documents WHERE doc_id IN ("
                + ", ".join(str(i) for i in ids)
                + ")"
            )
        elif op == "delete_pred":
            col, lit = rng.choice(
                [
                    ("n_chars", str(rng.randint(50, 400))),
                    ("doc_id", str(rng.randint(100, 400))),
                    ("lang", f"'{rng.choice(_LANGS)}'"),
                ]
            )
            opr = rng.choice(["<", "<=", "=", ">"]) if col != "lang" else "="
            both(f"DELETE FROM documents WHERE {col} {opr} {lit}")
        elif op == "expire":
            day = rng.choice(days)
            # monotone on both sides: an older cutoff deletes nothing
            # in the model and no-ops in the engine
            both(f"DELETE FROM events WHERE ts < TIMESTAMP '{day} 00:00:00'")
            if watermark is None or day > watermark:
                watermark = day
        else:  # insert_events
            k = rng.randint(1, 3)
            eng_rows, model_rows = [], []
            for i in range(k):
                day = rng.choice(days)
                row = (
                    f"({next_doc_id + i}, TIMESTAMP '{day} "
                    f"{rng.randint(0, 23):02d}:15:00', "
                    f"{rng.randint(1, 50)}, "
                    f"'{rng.choice(('click', 'view', 'purchase'))}', "
                    f"{rng.randint(1, 100)}.5, '{{}}')"
                )
                eng_rows.append(row)
                # the engine drops sub-watermark rows at ingest; the
                # model must exclude them for the states to agree
                if watermark is None or day >= watermark:
                    model_rows.append(row)
            next_doc_id += k
            cols = "(event_id, ts, user_id, event_type, value, props)"
            eng.sql(
                f"INSERT INTO events {cols} VALUES " + ", ".join(eng_rows)
            )
            if model_rows:
                con.execute(
                    f"INSERT INTO events {cols} VALUES "
                    + ", ".join(model_rows)
                )
        _check(eng, con, _PROFILE, f"seed={seed} step={step} op={op} docs")
        _check(
            eng, con, _EVENTS_ROLLUP, f"seed={seed} step={step} op={op} events"
        )
    # end state: the verbatim path agrees with the routed path too
    routed = eng.sql(_PROFILE).toPandas()
    verbatim = eng.sql(_PROFILE, routed=False).toPandas()
    assert routed.equals(verbatim)


_SEGMENT_PROFILE = (
    "SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY c_mktsegment, o_orderpriority "
    "ORDER BY c_mktsegment, o_orderpriority"
)


@pytest.mark.parametrize("seed", [11, 19])
def test_orders_update_delete_sequence_matches_duckdb(
    spark, sf_dir, tmp_path, seed
):
    """The S21/E1e composition gate: random interleavings of order
    UPDATEs (key-list and predicate forms) and cascading order DELETEs,
    applied as identical statement text to the engine and to a mutable
    DuckDB model, with the SEGMENT-CUBE-ROUTED chain-4 profile compared
    after every statement. This drives the reattribution machinery
    through states no single-statement oracle reaches: update a group,
    delete part of it, update it again, verify the spliced cube still
    equals a from-scratch computation."""
    rng = random.Random(seed)
    work = tmp_path / "w"
    work.mkdir()
    for t in TABLES:
        table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
    eng = Engine(spark, str(work))
    from bigdataproj_spark.sources.bucketed import segment_cube_table

    segment_cube_table(spark, str(work))

    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation", "region"):
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM "
            f"read_parquet('{work}/{t}.parquet/*.parquet', "
            "hive_partitioning=false)"
        )

    def both(stmt):
        eng.sql(stmt)
        con.execute(stmt)

    from bigdataproj_spark.plans.sqlfront import route_sql
    from bigdataproj_spark.testing import compare_frames

    next_ok = 900_000_100  # fresh keys for MERGE's insert side
    for step in range(6):
        op = rng.choice(
            ["update_keys", "update_pred", "delete_keys", "merge_upsert",
             "update_conj", "update_arith", "merge_cdc"]
        )
        if op == "merge_cdc":
            # round 11: conditional MERGE clauses — ONE statement
            # applies a changelog slice (matched DELETE by the source's
            # op column, unconditional UPDATE for the rest, predicated
            # INSERT); the model applies the equivalent
            # DELETE+UPDATE+INSERT decomposition
            mod = rng.randint(101, 149)
            d_keys = [
                r[0]
                for r in con.execute(
                    "SELECT o_orderkey FROM orders "
                    f"WHERE o_orderkey % {mod} = 5 LIMIT 8"
                ).fetchall()
            ]
            u_keys = [
                r[0]
                for r in con.execute(
                    "SELECT o_orderkey FROM orders "
                    f"WHERE o_orderkey % {mod} = 6 LIMIT 8"
                ).fetchall()
            ]
            if not d_keys or not u_keys:
                continue
            dks = ", ".join(str(k) for k in d_keys)
            uks = ", ".join(str(k) for k in u_keys)
            prio = rng.choice(("9-CDC-A", "9-CDC-B"))
            eng.sql(
                "MERGE INTO orders USING ("
                "SELECT o_orderkey, o_custkey, o_orderstatus, "
                "o_totalprice, o_orderdate, o_orderpriority, 'D' AS op "
                f"FROM orders WHERE o_orderkey IN ({dks}) "
                "UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, "
                f"o_totalprice, o_orderdate, '{prio}', 'U' "
                f"FROM orders WHERE o_orderkey IN ({uks}) "
                f"UNION ALL SELECT CAST({next_ok} AS BIGINT), "
                "CAST(1 AS BIGINT), 'O', CAST(88.0 AS DOUBLE), "
                f"TIMESTAMP '1996-04-04 00:00:00', '{prio}', 'I'"
                ") s ON o_orderkey = s.o_orderkey "
                "WHEN MATCHED AND s.op = 'D' THEN DELETE "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *"
            )
            con.execute(f"DELETE FROM lineitem WHERE l_orderkey IN ({dks})")
            con.execute(f"DELETE FROM orders WHERE o_orderkey IN ({dks})")
            con.execute(
                f"UPDATE orders SET o_orderpriority = '{prio}' "
                f"WHERE o_orderkey IN ({uks})"
            )
            con.execute(
                f"INSERT INTO orders VALUES ({next_ok}, 1, 'O', 88.0, "
                f"TIMESTAMP '1996-04-04 00:00:00', '{prio}')"
            )
            next_ok += 1
        elif op == "merge_upsert":
            # the engine runs ONE MERGE; the model (DuckDB 1.0 has no
            # MERGE) applies the equivalent UPDATE + INSERT — the
            # exact decomposition E1f's lowering claims
            keys = [
                r[0]
                for r in con.execute(
                    "SELECT o_orderkey FROM orders "
                    f"WHERE o_orderkey % {rng.randint(43, 71)} = 4 LIMIT 10"
                ).fetchall()
            ]
            if not keys:
                continue
            ks = ", ".join(str(k) for k in keys)
            prio = rng.choice(("9-MRG-A", "9-MRG-B", "1-URGENT"))
            eng.sql(
                "MERGE INTO orders USING ("
                "SELECT o_orderkey, o_custkey, o_orderstatus, "
                f"o_totalprice, o_orderdate, '{prio}' AS o_orderpriority "
                f"FROM orders WHERE o_orderkey IN ({ks}) "
                f"UNION ALL SELECT CAST({next_ok} AS BIGINT), "
                "CAST(1 AS BIGINT), 'O', CAST(99.0 AS DOUBLE), "
                f"TIMESTAMP '1996-03-03 00:00:00', '{prio}'"
                ") s ON o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            con.execute(
                f"UPDATE orders SET o_orderpriority = '{prio}' "
                f"WHERE o_orderkey IN ({ks})"
            )
            con.execute(
                f"INSERT INTO orders VALUES ({next_ok}, 1, 'O', 99.0, "
                f"TIMESTAMP '1996-03-03 00:00:00', '{prio}')"
            )
            next_ok += 1
        elif op == "update_keys":
            keys = [
                r[0]
                for r in con.execute(
                    "SELECT o_orderkey FROM orders "
                    f"WHERE o_orderkey % {rng.randint(41, 59)} = 2 LIMIT 15"
                ).fetchall()
            ]
            if not keys:
                continue
            prio = rng.choice(("9-FUZZ-A", "9-FUZZ-B", "1-URGENT"))
            both(
                f"UPDATE orders SET o_orderpriority = '{prio}' "
                "WHERE o_orderkey IN ("
                + ", ".join(str(k) for k in keys)
                + ")"
            )
        elif op == "update_pred":
            cut = rng.randint(150_000, 350_000)
            both(
                "UPDATE orders SET o_orderstatus = "
                f"'{rng.choice(('X', 'Y'))}' WHERE o_totalprice > {cut}"
            )
        elif op == "update_conj":
            # round 10: AND-conjunction predicate — identical text on
            # both sides (DuckDB evaluates the conjunction natively)
            lo = rng.randint(80_000, 180_000)
            hi = lo + rng.randint(20_000, 120_000)
            prio = rng.choice(("9-CONJ-A", "9-CONJ-B"))
            both(
                f"UPDATE orders SET o_orderpriority = '{prio}' "
                f"WHERE o_totalprice >= {lo} AND o_totalprice < {hi} "
                f"AND o_orderpriority <> '{prio}'"
            )
        elif op == "update_arith":
            # round 10: row-column-arithmetic SET. The cube profile
            # validates the priority move; the totalprice arithmetic
            # itself is checked ROW-LEVEL below (IEEE doubles are
            # bit-identical per row; a decimal-cast SUM would stack
            # the engines' different double→DECIMAL rounding)
            lo = rng.randint(60_000, 120_000)
            both(
                "UPDATE orders SET o_totalprice = o_totalprice * 1.01 "
                f"+ {rng.randint(1, 9)}, o_orderpriority = '9-ARITH' "
                f"WHERE o_totalprice >= {lo} "
                f"AND o_totalprice < {lo + rng.randint(5_000, 20_000)}"
            )
            compare_frames(
                eng.sql(
                    "SELECT o_orderkey, o_totalprice FROM orders "
                    "ORDER BY o_orderkey LIMIT 300", routed=False
                ).toPandas(),
                con.execute(
                    "SELECT o_orderkey, o_totalprice FROM orders "
                    "ORDER BY o_orderkey LIMIT 300"
                ).fetchdf(),
                f"seed={seed} step={step} arith row-level",
            )
        else:
            keys = [
                r[0]
                for r in con.execute(
                    "SELECT o_orderkey FROM orders "
                    f"WHERE o_orderkey % {rng.randint(61, 97)} = 3 LIMIT 10"
                ).fetchall()
            ]
            if not keys:
                continue
            ks = ", ".join(str(k) for k in keys)
            # the engine cascades to lineitems; mirror it in the model
            eng.sql(f"DELETE FROM orders WHERE o_orderkey IN ({ks})")
            con.execute(f"DELETE FROM lineitem WHERE l_orderkey IN ({ks})")
            con.execute(f"DELETE FROM orders WHERE o_orderkey IN ({ks})")
        df, chosen = route_sql(spark, str(work), _SEGMENT_PROFILE)
        assert chosen == "segment_cube", chosen
        compare_frames(
            df.toPandas(),
            con.execute(_SEGMENT_PROFILE).fetchdf(),
            f"seed={seed} step={step} op={op}",
        )


_TT_PROFILE = (
    "SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "COUNT(*) AS n FROM {T} GROUP BY lang, source ORDER BY lang, source"
)


@pytest.mark.parametrize("seed", [17])
def test_time_travel_matches_versioned_duckdb_model(
    spark, sf_dir, tmp_path, seed
):
    """The S22 composition gate: random documents DML (INSERT /
    key-list DELETE / predicate DELETE) interleaved with RESTORE and
    AS OF probes, run against the engine and a VERSIONED DuckDB model
    (one snapshot table per committed version). After every step, a
    randomly chosen reachable version's profile must match the model's
    snapshot of that version exactly — and RESTORE must leave the
    LIVE state equal to the restored snapshot with later versions
    unreachable on both sides."""
    from bigdataproj_spark.sources.snapshots import _ledger
    from bigdataproj_spark.testing import compare_frames

    rng = random.Random(seed)
    eng, con = _setup(spark, sf_dir, tmp_path)
    live_profile = _TT_PROFILE.format(T="documents")
    next_doc_id = 910_000_000

    def versions():
        return [e["version"] for e in _ledger(spark, eng.sf_dir)]

    def snap_model():
        # version 0 (the base, recorded by the engine at the FIRST
        # mutation whatever its verb) snapshots from the immutable
        # staged parquet, exactly once
        if not con.execute(
            "SELECT 1 FROM information_schema.tables "
            "WHERE table_name = 'documents_v0'"
        ).fetchall():
            con.execute(
                "CREATE TABLE documents_v0 AS SELECT * FROM "
                f"read_parquet('{eng.sf_dir}/documents.parquet/"
                "*.parquet', hive_partitioning=false)"
            )
        v = versions()[-1]
        con.execute(
            f"CREATE TABLE documents_v{v} AS SELECT * FROM documents"
        )

    for step in range(8):
        op = rng.choice(["insert", "delete_keys", "delete_pred", "restore"])
        if op == "restore" and len(versions()) < 2:
            op = "insert"
        if op == "insert":
            k = rng.randint(1, 4)
            rows = ", ".join(
                f"({next_doc_id + i}, 'tt doc {next_doc_id + i}', "
                f"'{rng.choice(_LANGS)}', 'src{rng.randint(1, 30)}', "
                f"{rng.randint(1, 500)})"
                for i in range(k)
            )
            next_doc_id += k
            stmt = (
                "INSERT INTO documents (doc_id, text, lang, source, "
                "n_chars) VALUES " + rows
            )
            eng.sql(stmt)
            con.execute(stmt)
            snap_model()
        elif op == "delete_keys":
            ids = [
                r[0]
                for r in con.execute(
                    "SELECT doc_id FROM documents "
                    f"WHERE doc_id % {rng.randint(37, 53)} = 1 LIMIT 15"
                ).fetchall()
            ]
            if not ids:
                continue
            stmt = "DELETE FROM documents WHERE doc_id IN (" + ", ".join(
                str(i) for i in ids
            ) + ")"
            eng.sql(stmt)
            con.execute(stmt)
            snap_model()
        elif op == "delete_pred":
            col, opr, lit = rng.choice(
                [
                    ("n_chars", "<", str(rng.randint(30, 120))),
                    ("doc_id", "<=", str(rng.randint(50, 300))),
                    ("lang", "=", f"'{rng.choice(_LANGS)}'"),
                ]
            )
            stmt = f"DELETE FROM documents WHERE {col} {opr} {lit}"
            eng.sql(stmt)
            con.execute(stmt)
            snap_model()
        else:  # restore
            target = rng.choice(versions())
            eng.sql(f"RESTORE TO VERSION AS OF {target}")
            con.execute("DELETE FROM documents")
            con.execute(
                f"INSERT INTO documents SELECT * FROM documents_v{target}"
            )
            # later model snapshots become unreachable, like the ledger
            for r in con.execute("SHOW TABLES").fetchall():
                name = r[0]
                if name.startswith("documents_v") and int(
                    name.split("_v")[1]
                ) > target:
                    con.execute(f"DROP TABLE {name}")
            snap_model()  # the restore commit itself
        # live states agree
        compare_frames(
            eng.sql(live_profile).toPandas(),
            con.execute(live_profile).fetchdf(),
            f"seed={seed} step={step} op={op} live",
        )
        # a random reachable version replays exactly
        v = rng.choice(versions())
        got = eng.sql(
            live_profile + f" FOR SYSTEM_VERSION AS OF {v}"
        ).toPandas()
        want = con.execute(
            _TT_PROFILE.format(T=f"documents_v{v}")
        ).fetchdf()
        compare_frames(got, want, f"seed={seed} step={step} as_of={v}")
        # S22b: the TIMESTAMP spelling resolves to the same version —
        # probe a wall-clock moment strictly inside v's validity
        # window (after v's commit, before the next commit's wall)
        from datetime import datetime as _dt

        walls = {x["version"]: x["wall"] for x in _ledger(spark, eng.sf_dir)}
        later = [w for x, w in walls.items() if x > v]
        hi_w = min(later) if later else walls[v] + 7200
        ts = _dt.fromtimestamp(
            walls[v] + (hi_w - walls[v]) * rng.uniform(0.1, 0.9)
        ).isoformat(sep=" ", timespec="microseconds")
        got_ts = eng.sql(
            live_profile + f" FOR SYSTEM_TIMESTAMP AS OF '{ts}'"
        ).toPandas()
        compare_frames(
            got_ts, want, f"seed={seed} step={step} ts_as_of={v}"
        )
        # S23: the change feed between two random reachable versions
        # matches the model's per-commit snapshot diffs (documents are
        # immutable by key, so every change is an insert or a delete)
        vs_all = versions()
        lo, hi = sorted((rng.choice(vs_all), rng.choice(vs_all)))
        got_cdf = (
            eng.table_changes("documents", lo, hi)
            .drop("_commit_note")
            .toPandas()
        )
        vs_rng = [x for x in vs_all if lo <= x <= hi]
        parts = []
        for a, b in zip(vs_rng, vs_rng[1:]):
            for ctype, left, right in (
                ("insert", b, a), ("delete", a, b),
            ):
                parts.append(
                    f"SELECT *, '{ctype}' AS _change_type, "
                    f"CAST({b} AS INTEGER) AS _commit_version FROM "
                    f"(SELECT * FROM documents_v{left} EXCEPT ALL "
                    f"SELECT * FROM documents_v{right})"
                )
        if parts:
            want_cdf = con.execute(
                "SELECT * FROM (" + " UNION ALL ".join(parts) + ") "
                "ORDER BY _commit_version, _change_type, doc_id"
            ).fetchdf()
            compare_frames(
                got_cdf, want_cdf,
                f"seed={seed} step={step} cdf {lo}->{hi}",
            )
        else:
            assert got_cdf.empty


@pytest.mark.parametrize("seed", [29])
def test_orders_time_travel_matches_versioned_duckdb(
    spark, sf_dir, tmp_path, seed
):
    """S21 × S22 composition: random order UPDATEs / MERGEs /
    cascading DELETEs interleaved with RESTORE, against a VERSIONED
    DuckDB model (orders+lineitem snapshot per commit). After every
    step the SEGMENT-CUBE-ROUTED chain-4 profile must match the model
    both LIVE and AS OF a random reachable version — driving the cube
    reattribution machinery through restore/travel states no
    single-verb oracle reaches."""
    from bigdataproj_spark.plans.sqlfront import route_sql
    from bigdataproj_spark.sources.snapshots import _ledger
    from bigdataproj_spark.testing import compare_frames

    rng = random.Random(seed)
    work = tmp_path / "w"
    work.mkdir()
    for t in TABLES:
        table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
    eng = Engine(spark, str(work))
    from bigdataproj_spark.sources.bucketed import segment_cube_table

    segment_cube_table(spark, str(work))
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation", "region"):
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM "
            f"read_parquet('{work}/{t}.parquet/*.parquet', "
            "hive_partitioning=false)"
        )

    def versions():
        return [e["version"] for e in _ledger(spark, eng.sf_dir)]

    def snap_model():
        if not con.execute(
            "SELECT 1 FROM information_schema.tables "
            "WHERE table_name = 'orders_v0'"
        ).fetchall():
            for t in ("orders", "lineitem"):
                con.execute(
                    f"CREATE TABLE {t}_v0 AS SELECT * FROM read_parquet("
                    f"'{work}/{t}.parquet/*.parquet', "
                    "hive_partitioning=false)"
                )
        v = versions()[-1]
        for t in ("orders", "lineitem"):
            con.execute(f"CREATE TABLE {t}_v{v} AS SELECT * FROM {t}")

    def model_profile(suffix=""):
        return con.execute(
            _SEGMENT_PROFILE.replace(
                "FROM lineitem JOIN orders",
                f"FROM lineitem{suffix} JOIN orders{suffix}",
            )
        ).fetchdf()

    next_ok = 920_000_000
    for step in range(6):
        op = rng.choice(["update_pred", "merge", "delete_keys", "restore"])
        if op == "restore" and len(versions()) < 2:
            op = "update_pred"
        if op == "update_pred":
            cut = rng.randint(150_000, 350_000)
            prio = rng.choice(("9-TTA", "9-TTB"))
            stmt = (
                f"UPDATE orders SET o_orderpriority = '{prio}' "
                f"WHERE o_totalprice > {cut}"
            )
            eng.sql(stmt)
            con.execute(stmt)
            snap_model()
        elif op == "merge":
            keys = [
                r[0]
                for r in con.execute(
                    "SELECT o_orderkey FROM orders "
                    f"WHERE o_orderkey % {rng.randint(43, 71)} = 4 LIMIT 10"
                ).fetchall()
            ]
            if not keys:
                continue
            ks = ", ".join(str(k) for k in keys)
            prio = rng.choice(("9-TTM", "2-HIGH"))
            eng.sql(
                "MERGE INTO orders USING ("
                "SELECT o_orderkey, o_custkey, o_orderstatus, "
                f"o_totalprice, o_orderdate, '{prio}' AS o_orderpriority "
                f"FROM orders WHERE o_orderkey IN ({ks}) "
                f"UNION ALL SELECT CAST({next_ok} AS BIGINT), "
                "CAST(1 AS BIGINT), 'O', CAST(42.0 AS DOUBLE), "
                f"TIMESTAMP '1996-04-04 00:00:00', '{prio}'"
                ") s ON o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            con.execute(
                f"UPDATE orders SET o_orderpriority = '{prio}' "
                f"WHERE o_orderkey IN ({ks})"
            )
            con.execute(
                f"INSERT INTO orders VALUES ({next_ok}, 1, 'O', 42.0, "
                f"TIMESTAMP '1996-04-04 00:00:00', '{prio}')"
            )
            next_ok += 1
            snap_model()
        elif op == "delete_keys":
            keys = [
                r[0]
                for r in con.execute(
                    "SELECT o_orderkey FROM orders "
                    f"WHERE o_orderkey % {rng.randint(61, 97)} = 3 LIMIT 8"
                ).fetchall()
            ]
            if not keys:
                continue
            ks = ", ".join(str(k) for k in keys)
            eng.sql(f"DELETE FROM orders WHERE o_orderkey IN ({ks})")
            con.execute(f"DELETE FROM lineitem WHERE l_orderkey IN ({ks})")
            con.execute(f"DELETE FROM orders WHERE o_orderkey IN ({ks})")
            snap_model()
        else:  # restore
            target = rng.choice(versions())
            eng.sql(f"RESTORE TO VERSION AS OF {target}")
            for t in ("orders", "lineitem"):
                con.execute(f"DELETE FROM {t}")
                con.execute(
                    f"INSERT INTO {t} SELECT * FROM {t}_v{target}"
                )
                for r in con.execute("SHOW TABLES").fetchall():
                    name = r[0]
                    if name.startswith(f"{t}_v") and int(
                        name.split("_v")[1]
                    ) > target:
                        con.execute(f"DROP TABLE {name}")
            snap_model()
        # live: the segment-cube-routed profile vs the mutable model
        df, chosen = route_sql(spark, str(work), _SEGMENT_PROFILE)
        assert chosen == "segment_cube", chosen
        compare_frames(
            df.toPandas(), model_profile(),
            f"seed={seed} step={step} op={op} live",
        )
        # a random reachable version replays exactly (routed, AS OF)
        v = rng.choice(versions())
        got = eng.sql(
            _SEGMENT_PROFILE + f" FOR SYSTEM_VERSION AS OF {v}"
        ).toPandas()
        compare_frames(
            got, model_profile(f"_v{v}"),
            f"seed={seed} step={step} as_of={v}",
        )
        # S23 on the KEYED mutable table: the change feed's
        # update_preimage/update_postimage classification matches the
        # model's per-commit snapshot diffs through UPDATE / MERGE /
        # cascade-DELETE / RESTORE states
        vs_all = versions()
        lo, hi = sorted((rng.choice(vs_all), rng.choice(vs_all)))
        got_cdf = (
            eng.table_changes("orders", lo, hi)
            .drop("_commit_note")
            .toPandas()
        )
        vs_rng = [x for x in vs_all if lo <= x <= hi]
        parts = []
        for a, b in zip(vs_rng, vs_rng[1:]):
            parts.append(f"""
              WITH ins AS (SELECT * FROM orders_v{b} EXCEPT ALL
                           SELECT * FROM orders_v{a}),
                   del AS (SELECT * FROM orders_v{a} EXCEPT ALL
                           SELECT * FROM orders_v{b}),
                   upd AS (SELECT o_orderkey FROM ins
                           INTERSECT SELECT o_orderkey FROM del)
              SELECT i.*, CASE WHEN u.o_orderkey IS NOT NULL
                    THEN 'update_postimage' ELSE 'insert' END
                  AS _change_type,
                CAST({b} AS INTEGER) AS _commit_version
              FROM ins i LEFT JOIN upd u USING (o_orderkey)
              UNION ALL
              SELECT d.*, CASE WHEN u.o_orderkey IS NOT NULL
                    THEN 'update_preimage' ELSE 'delete' END,
                CAST({b} AS INTEGER)
              FROM del d LEFT JOIN upd u USING (o_orderkey)
            """)
        if parts:
            want_cdf = con.execute(
                "SELECT * FROM ("
                + " UNION ALL ".join(f"({p})" for p in parts)
                + ") ORDER BY _commit_version, _change_type, o_orderkey"
            ).fetchdf()
            compare_frames(
                got_cdf, want_cdf,
                f"seed={seed} step={step} orders cdf {lo}->{hi}",
            )
        else:
            assert got_cdf.empty


@pytest.mark.parametrize("seed", [41, 43])
def test_update_grammar_fuzz_matches_duckdb(spark, sf_dir, tmp_path, seed):
    """Round 10 grammar fuzz: random AND-conjunction predicates
    (1-3 comparisons over numeric / string / timestamp columns) and
    random SET lists (literals — some containing AND / commas /
    escaped quotes — and row-column arithmetic), applied as IDENTICAL
    statement text to the engine and to a mutable DuckDB orders
    table. After every statement the states must agree row-level (the
    arithmetic check: per-row IEEE doubles are bit-identical) and on
    exact-integer global profiles (the conjunction check: no row
    matched or missed that the model didn't)."""
    from bigdataproj_spark.testing import compare_frames

    rng = random.Random(seed)
    work = tmp_path / "w"
    work.mkdir()
    for t in TABLES:
        table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
    eng = Engine(spark, str(work))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders AS SELECT * FROM "
        f"read_parquet('{work}/orders.parquet/*.parquet', "
        "hive_partitioning=false)"
    )

    def draw_pred() -> str:
        kind = rng.choice(["price", "cust", "status", "prio", "date"])
        if kind == "price":
            return (
                f"o_totalprice {rng.choice(('<', '<=', '>', '>='))} "
                f"{rng.randint(50_000, 350_000)}"
            )
        if kind == "cust":
            return (
                f"o_custkey {rng.choice(('<', '>', '<=', '>='))} "
                f"{rng.randint(10, 1400)}"
            )
        if kind == "status":
            return f"o_orderstatus {rng.choice(('=', '<>'))} " \
                f"'{rng.choice(('O', 'F', 'P', 'Z1'))}'"
        if kind == "prio":
            tricky = ("1-URGENT", "x AND y, z", "it''s")
            return f"o_orderpriority <> '{rng.choice(tricky)}'"
        return (
            "o_orderdate "
            f"{rng.choice(('<', '>='))} "
            f"TIMESTAMP '199{rng.randint(5, 7)}-0{rng.randint(1, 9)}-01 "
            "00:00:00'"
        )

    def draw_set() -> str:
        kind = rng.choice(["prio_lit", "status_lit", "price_arith",
                           "cust_arith", "price_lit"])
        if kind == "prio_lit":
            vals = ("9-FZ", "a AND b, c", "q''q", "9 WHERE 9")
            return f"o_orderpriority = '{rng.choice(vals)}'"
        if kind == "status_lit":
            return f"o_orderstatus = '{rng.choice(('X', 'Y', 'Z'))}'"
        if kind == "price_arith":
            return rng.choice(
                [
                    f"o_totalprice = o_totalprice * 1.0{rng.randint(1, 9)} "
                    f"+ {rng.randint(1, 9)}",
                    "o_totalprice = o_totalprice + o_custkey",
                    f"o_totalprice = (o_totalprice + {rng.randint(2, 8)}) "
                    f"/ {rng.choice((2, 4))}",
                ]
            )
        if kind == "cust_arith":
            return f"o_custkey = o_custkey + {rng.randint(1, 5)}"
        return f"o_totalprice = {rng.randint(100, 900)}.25"

    profile = (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        "CAST(SUM(o_custkey) AS BIGINT) AS ck "
        "FROM orders GROUP BY o_orderstatus, o_orderpriority "
        "ORDER BY o_orderstatus, o_orderpriority"
    )
    rows = (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderpriority FROM orders ORDER BY o_orderkey LIMIT 400"
    )
    for step in range(8):
        set_items = []
        seen_targets: set[str] = set()
        while len(set_items) < rng.randint(1, 2):
            item = draw_set()
            target = item.split(" =")[0]
            if target in seen_targets:
                continue
            seen_targets.add(target)
            set_items.append(item)
        preds = [draw_pred() for _ in range(rng.randint(1, 3))]
        stmt = (
            "UPDATE orders SET " + ", ".join(set_items)
            + " WHERE " + " AND ".join(preds)
        )
        eng.sql(stmt)
        con.execute(stmt)
        compare_frames(
            eng.sql(profile, routed=False).toPandas(),
            con.execute(profile).fetchdf(),
            f"seed={seed} step={step} profile :: {stmt}",
        )
        compare_frames(
            eng.sql(rows, routed=False).toPandas(),
            con.execute(rows).fetchdf(),
            f"seed={seed} step={step} rows :: {stmt}",
        )


@pytest.mark.parametrize("seed", [37, 41])
def test_scan_memo_never_serves_stale(
    spark, sf_dir, tmp_path, seed, monkeypatch
):
    """The scan-memo staleness invariant (round 13, r12-VERDICT item
    6): the versioned-scan / layout-schema / pinned-scan memos are pure
    fixed-cost caches — a memoized routed answer must ALWAYS equal the
    answer a memo-disabled session computes. The fuzzer interleaves
    every memo-touching mutation class (INSERT / DELETE / UPDATE /
    MERGE, RESTORE, VACUUM, OPTIMIZE, and an injected mid-refresh crash
    whose WarehouseTxn rollback must clear the memos) with routed
    reads; after every step each routed profile is computed twice in
    the same session — memos ACTIVE (the default), then with every scan
    memo dropped (forcing fresh listings + inference) — and the two
    answers must match exactly. A memo entry surviving a mutation it
    should not survive shows up as the first pair that differs."""
    import pytest as _pytest

    from bigdataproj_spark.sources import maintenance as maint_mod
    from bigdataproj_spark.testing import compare_frames

    rng = random.Random(seed)
    eng, con = _setup(spark, sf_dir, tmp_path)
    con.close()  # self-differential: no model needed
    from bigdataproj_spark.sources.bucketed import segment_cube_table
    from bigdataproj_spark.sources.snapshots import _ledger

    segment_cube_table(spark, eng.sf_dir)
    profiles = (_PROFILE, _EVENTS_ROLLUP, _SEGMENT_PROFILE)
    next_doc_id = 930_000_000
    next_event_id = 930_000_000
    next_ok = 930_000_000

    def versions():
        return [e["version"] for e in _ledger(spark, eng.sf_dir)]

    from bigdataproj_spark.sources.state import session_state

    sess = session_state(spark)

    def check(label):
        memoized = [eng.sql(p).toPandas() for p in profiles]
        # every scan memo dropped: versioned-scan, layout-schema, pinned
        for memo in (sess.versioned_scans, sess.layout_schemas, sess.pinned_scans):
            memo.clear()
        for i, p in enumerate(profiles):
            fresh = eng.sql(p).toPandas()
            compare_frames(memoized[i], fresh, f"{label} profile#{i}")

    for step in range(7):
        op = rng.choice(
            ["insert_docs", "delete_docs", "update_orders", "merge",
             "restore", "vacuum", "optimize", "crash"]
        )
        if op == "restore" and len(versions()) < 2:
            op = "insert_docs"
        if op == "insert_docs":
            eng.sql(
                "INSERT INTO documents (doc_id, text, lang, source, "
                f"n_chars) VALUES ({next_doc_id}, 'memo fuzz', "
                f"'{rng.choice(_LANGS)}', 'src{rng.randint(1, 30)}', "
                f"{rng.randint(1, 500)})"
            )
            next_doc_id += 1
        elif op == "delete_docs":
            col, opr, lit = rng.choice(
                [
                    ("n_chars", "<", str(rng.randint(30, 120))),
                    ("doc_id", "<=", str(rng.randint(50, 300))),
                    ("lang", "=", f"'{rng.choice(_LANGS)}'"),
                ]
            )
            eng.sql(f"DELETE FROM documents WHERE {col} {opr} {lit}")
        elif op == "update_orders":
            eng.sql(
                "UPDATE orders SET o_orderpriority = "
                f"'9-MEMO-{step}' WHERE o_totalprice > "
                f"{rng.randint(150_000, 350_000)}"
            )
        elif op == "merge":
            eng.sql(
                "MERGE INTO orders USING ("
                f"SELECT CAST({next_ok} AS BIGINT) AS o_orderkey, "
                "CAST(1 AS BIGINT) AS o_custkey, 'O' AS o_orderstatus, "
                "CAST(55.0 AS DOUBLE) AS o_totalprice, "
                "TIMESTAMP '1996-05-05 00:00:00' AS o_orderdate, "
                "'9-MEMO' AS o_orderpriority"
                ") s ON o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            next_ok += 1
        elif op == "restore":
            eng.sql(
                f"RESTORE TO VERSION AS OF {rng.choice(versions())}"
            )
        elif op == "vacuum":
            eng.sql("VACUUM")
        elif op == "optimize":
            eng.sql("OPTIMIZE WAREHOUSE").collect()
        else:  # crash: injected mid-refresh failure -> full rollback.
            # The boom fires AFTER the events-cube leg completed and
            # after a reader in the same session planned against the
            # just-swung version — exactly the entry whose survival
            # across rollback would serve deleted files once the
            # redelivery below REUSES the rolled-back version path
            # (the round-12 path-reuse hazard, reproduced on purpose:
            # neutering txn.py's memo clear makes this op fail).
            real_refresh = maint_mod.refresh_projection

            def boom(spark_, sf_dir_, name, *a, **kw):
                out = real_refresh(spark_, sf_dir_, name, *a, **kw)
                if name != "events_hourly_cube":
                    return out
                eng.sql(_EVENTS_ROLLUP).toPandas()
                raise RuntimeError("injected memo-fuzz crash")

            stmt = (
                "INSERT INTO events (event_id, ts, user_id, "
                "event_type, value, props) VALUES "
                f"({next_event_id}, TIMESTAMP '2024-01-13 12:00:00', "
                "7, 'click', 1.5, '{}')"
            )
            next_event_id += 1
            monkeypatch.setattr(maint_mod, "refresh_projection", boom)
            with _pytest.raises(RuntimeError, match="memo-fuzz crash"):
                eng.sql(stmt)
            monkeypatch.undo()
            eng.sql(stmt)  # redelivery recreates the rolled-back path
        check(f"seed={seed} step={step} op={op}")
