"""S22: snapshot reads (time travel) — the commit ledger, the as_of
context, the SQL spellings, and the VACUUM-retention contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataproj_spark.catalog import TABLES, table
from bigdataproj_spark.engine import Engine
from bigdataproj_spark.sources.snapshots import _ledger

_PROFILE = (
    "SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang"
)


def _sandbox(spark, sf_dir, tmp_path) -> Engine:
    work = tmp_path / "w"
    work.mkdir()
    for t in TABLES:
        table(spark, sf_dir, t).write.parquet(str(work / f"{t}.parquet"))
    return Engine(spark, str(work))


class TestCommitLedger:
    def test_every_verb_records_a_version(self, spark, sf_dir, tmp_path):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello', 'en', 'src1', 5)"
        )
        e.sql("DELETE FROM documents WHERE doc_id IN (3)")
        e.sql(
            "UPDATE orders SET o_orderstatus = 'X' WHERE o_orderkey IN (1)"
        )
        e.sql(
            "MERGE INTO orders USING (VALUES (CAST(2 AS BIGINT), 'Y')) "
            "AS s(k, st) ON o_orderkey = s.k "
            "WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st"
        )
        e.sql("DELETE FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'")
        hist = {r.version: r.note for r in e.sql("DESCRIBE HISTORY").collect()}
        assert hist[0] == "base"
        assert hist[1] == "ingest documents"
        assert hist[2] == "delete documents"
        assert hist[3] == "ingest orders"  # UPDATE rides refresh
        assert hist[4] == "merge orders"   # MERGE: one outer commit (r11)
        assert hist[5] == "expire events"

    def test_rolled_back_batch_leaves_no_version(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.txn import WarehouseTxn

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello', 'en', 'src1', 5)"
        )
        before = e.history().collect()
        with pytest.raises(RuntimeError, match="mid-batch"):
            with WarehouseTxn(spark, e.sf_dir, note="doomed"):
                raise RuntimeError("mid-batch failure")
        after = e.history().collect()
        assert [tuple(r) for r in before] == [tuple(r) for r in after]

    def test_optimize_records_a_version(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.maintenance import optimize_warehouse

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (5)")
        optimize_warehouse(spark, e.sf_dir)
        notes = [r.note for r in e.history().collect()]
        assert notes[-1] == "optimize"


class TestAsOfReads:
    def test_versions_replay_exactly(self, spark, sf_dir, tmp_path):
        e = _sandbox(spark, sf_dir, tmp_path)
        base = e.sql(_PROFILE).toPandas()
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello world', 'en', 'src1', 11)"
        )
        v1 = e.sql(_PROFILE).toPandas()
        e.sql("DELETE FROM documents WHERE doc_id <= 50")
        v2 = e.sql(_PROFILE).toPandas()
        assert e.sql(
            _PROFILE + " FOR SYSTEM_VERSION AS OF 0"
        ).toPandas().equals(base)
        assert e.sql(
            _PROFILE + " FOR SYSTEM_VERSION AS OF 1"
        ).toPandas().equals(v1)
        # the live state is untouched by the snapshot reads
        assert e.sql(_PROFILE).toPandas().equals(v2)
        assert not v2.equals(v1)

    def test_routed_answer_comes_from_snapshot_cube(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.plans.sqlfront import route_sql
        from bigdataproj_spark.sources.corpus_cubes import (
            docs_stats_cube_table,
        )

        e = _sandbox(spark, sf_dir, tmp_path)
        docs_stats_cube_table(spark, e.sf_dir)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello world', 'en', 'src1', 11)"
        )
        v1 = e.sql(_PROFILE).toPandas()
        e.sql("DELETE FROM documents WHERE doc_id <= 50")
        with e.as_of(1):
            df, chosen = route_sql(spark, e.sf_dir, _PROFILE)
            assert chosen == "docs_stats_cube"
            got = df.toPandas()
        assert got.equals(v1)

    def test_verbatim_views_repoint_both_directions(
        self, spark, sf_dir, tmp_path
    ):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello world', 'en', 'src1', 11)"
        )
        v1 = e.sql(_PROFILE, routed=False).toPandas()
        e.sql("DELETE FROM documents WHERE doc_id <= 50")
        v2 = e.sql(_PROFILE, routed=False).toPandas()
        with e.as_of(1):
            assert e.sql(_PROFILE, routed=False).toPandas().equals(v1)
        assert e.sql(_PROFILE, routed=False).toPandas().equals(v2)

    def test_user_projection_reads_its_snapshot_version(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.plans.sqlfront import route_sql

        e = _sandbox(spark, sf_dir, tmp_path)
        # a per-user events profile — the shape the BUILT-IN hourly
        # cube refuses (user_id is not stored), so routing must come
        # from the user view at both versions
        sel = (
            "SELECT user_id, event_type, "
            "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tv, "
            "COUNT(*) AS n FROM events GROUP BY user_id, event_type "
            "ORDER BY user_id, event_type"
        )
        e.sql(
            "CREATE MATERIALIZED VIEW snap_user_spend AS "
            "SELECT user_id, event_type, "
            "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tv, "
            "COUNT(*) AS n FROM events GROUP BY user_id, event_type"
        )
        before = e.sql(sel).toPandas()
        e.sql(
            "INSERT INTO events VALUES "
            "(900000001, TIMESTAMP '2024-01-09 10:15:00', 1, 'click', "
            "42.5, '{}')"
        )
        hist = e.history().collect()
        v_pre_insert = hist[-2].version
        after = e.sql(sel).toPandas()
        assert not after.equals(before)
        with e.as_of(v_pre_insert):
            df, chosen = route_sql(spark, e.sf_dir, sel)
            assert chosen == "user:snap_user_spend"
            got = df.toPandas()
        assert got.equals(before)
        # the live view still serves the post-insert refresh
        df2, chosen2 = route_sql(spark, e.sf_dir, sel)
        assert chosen2 == "user:snap_user_spend"
        assert df2.toPandas().equals(after)

    def test_refusals(self, spark, sf_dir, tmp_path):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (9)")
        with pytest.raises(ValueError, match="read-only inside"):
            with e.as_of(0):
                e.sql("DELETE FROM documents WHERE doc_id IN (10)")
        with pytest.raises(ValueError, match="no reachable snapshot"):
            e.sql(_PROFILE + " FOR SYSTEM_VERSION AS OF 99")
        with pytest.raises(ValueError, match="one snapshot version"):
            e.sql(
                "SELECT * FROM documents FOR SYSTEM_VERSION AS OF 0 "
                "JOIN events FOR SYSTEM_VERSION AS OF 1 ON doc_id = event_id"
            )
        with pytest.raises(ValueError, match="do not nest"):
            with e.as_of(0):
                with e.as_of(1):
                    pass
        from bigdataproj_spark.sources.maintenance import (
            gc_warehouse,
            optimize_warehouse,
        )

        with pytest.raises(ValueError, match="read-only inside"):
            with e.as_of(0):
                optimize_warehouse(spark, e.sf_dir)
        with pytest.raises(ValueError, match="read-only inside"):
            with e.as_of(0):
                gc_warehouse(spark, e.sf_dir)

    def test_exit_repoint_failure_never_wedges_session(
        self, spark, sf_dir, tmp_path
    ):
        """Round-9 ADVICE item 1: if the EXIT re-point raises, the
        active flag and the pinned listing must still clear — a
        wedged flag would make every future mutation refuse as
        'read-only inside an AS OF snapshot read' forever."""
        import bigdataproj_spark.sources.snapshots as snap

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000011, 'hello', 'en', 'src1', 5)"
        )
        real = snap._repoint_views
        calls = {"n": 0}

        def flaky(sp, sfd, names):
            calls["n"] += 1
            if calls["n"] == 2:  # the exit re-point
                raise RuntimeError("injected exit re-point failure")
            return real(sp, sfd, names)

        snap._repoint_views = flaky
        try:
            with pytest.raises(RuntimeError, match="injected exit"):
                with e.as_of(0):
                    e.sql(_PROFILE).collect()
        finally:
            snap._repoint_views = real
        from bigdataproj_spark.sources.state import session_state

        # neither the read-only flag nor the pinned listing survives:
        # both are the one AS OF pin
        assert session_state(spark).as_of is None
        assert snap.pinned_files(spark) is None
        # the session is NOT stuck: mutations still work
        out = e.sql("DELETE FROM documents WHERE doc_id IN (900000011)")
        assert out.collect()[0]["n_keys"] == 1

    def test_same_version_twice_in_statement_is_fine(
        self, spark, sf_dir, tmp_path
    ):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (9)")
        n = e.sql(
            "SELECT COUNT(*) AS n FROM documents FOR SYSTEM_VERSION AS OF 0"
            " WHERE doc_id IN (SELECT doc_id FROM documents "
            "FOR SYSTEM_VERSION AS OF 0 WHERE doc_id = 9)"
        ).collect()[0].n
        assert n == 1


class TestTimestampTravel:
    """S22b (round 12, r11-VERDICT item 2): timestamp-based time
    travel over the ledger's per-commit wall clocks."""

    def _commits(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.snapshots import _ledger

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello', 'en', 'src1', 5)"
        )
        e.sql("DELETE FROM documents WHERE doc_id <= 50")
        led = _ledger(spark, e.sf_dir)
        return e, {x["version"]: x["wall"] for x in led}

    @staticmethod
    def _fmt(epoch):
        from datetime import datetime

        return datetime.fromtimestamp(epoch).isoformat(
            sep=" ", timespec="microseconds"
        )

    def test_resolution_rules(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.snapshots import resolve_timestamp

        e, walls = self._commits(spark, sf_dir, tmp_path)
        versions = sorted(walls)
        v_ins, v_del = versions[-2], versions[-1]
        between = (walls[v_ins] + walls[v_del]) / 2
        # between two commits → the older; exactly at a commit's wall
        # → that commit; after the newest → the newest
        assert resolve_timestamp(spark, e.sf_dir, self._fmt(between)) == v_ins
        # just past a commit's wall (the wall itself truncates at
        # microsecond formatting) → that commit
        assert (
            resolve_timestamp(
                spark, e.sf_dir, self._fmt(walls[v_del] + 0.01)
            )
            == v_del
        )
        assert (
            resolve_timestamp(
                spark, e.sf_dir, self._fmt(walls[v_del] + 3600)
            )
            == v_del
        )
        # pre-history refuses with the earliest-reachable hint
        with pytest.raises(ValueError, match="earliest reachable commit"):
            resolve_timestamp(
                spark, e.sf_dir, self._fmt(walls[versions[0]] - 3600)
            )
        with pytest.raises(ValueError, match="unparseable timestamp"):
            resolve_timestamp(spark, e.sf_dir, "not-a-time")

    def test_sql_spelling_matches_version_pin(self, spark, sf_dir, tmp_path):
        e, walls = self._commits(spark, sf_dir, tmp_path)
        versions = sorted(walls)
        v_ins, v_del = versions[-2], versions[-1]
        between = self._fmt((walls[v_ins] + walls[v_del]) / 2)
        by_ts = e.sql(
            f"{_PROFILE} FOR SYSTEM_TIMESTAMP AS OF '{between}'"
        ).collect()
        by_v = e.sql(f"{_PROFILE} FOR SYSTEM_VERSION AS OF {v_ins}").collect()
        assert by_ts == by_v
        # the context-manager twin and the as_of= kwarg agree
        with e.as_of(timestamp=between):
            in_block = e.sql(_PROFILE, routed=False).collect()
        assert in_block == by_v
        assert e.sql(_PROFILE, as_of=between).collect() == by_v
        # mixing the two clause families refuses
        with pytest.raises(ValueError, match="cannot mix"):
            e.sql(
                f"{_PROFILE} FOR SYSTEM_VERSION AS OF {v_ins} "
                f"FOR SYSTEM_TIMESTAMP AS OF '{between}'"
            )
        # the phrase inside a string literal is data, never a pin
        live = e.sql(
            "SELECT COUNT(*) AS n FROM documents "
            "WHERE text <> 'FOR SYSTEM_TIMESTAMP AS OF ''2026-01-01'''"
        ).collect()[0].n
        assert (
            live
            == e.sql("SELECT COUNT(*) AS n FROM documents").collect()[0].n
        )
        with pytest.raises(ValueError, match="exactly one of"):
            e.as_of()
        with pytest.raises(ValueError, match="exactly one of"):
            e.as_of(v_ins, between)

    def test_table_changes_timestamp_bounds(self, spark, sf_dir, tmp_path):
        e, walls = self._commits(spark, sf_dir, tmp_path)
        versions = sorted(walls)
        v0, v_del = versions[0], versions[-1]
        # just past each wall: the wall itself truncates at
        # microsecond formatting (commits are far more than 10ms apart)
        ts0 = self._fmt(walls[v0] + 0.01)
        ts2 = self._fmt(walls[v_del] + 0.01)
        by_v = e.table_changes("documents", v0, v_del).collect()
        by_ts = e.table_changes("documents", ts0, ts2).collect()
        assert by_ts == by_v
        # mixed bounds + the SQL spelling with quoted timestamps
        assert e.table_changes("documents", v0, ts2).collect() == by_v
        sql_rows = e.sql(
            "SELECT * FROM table_changes('documents', "
            f"'{ts0}', '{ts2}')"
        ).collect()
        assert sql_rows == by_v
        with pytest.raises(ValueError, match="earliest reachable commit"):
            e.table_changes(
                "documents", self._fmt(walls[v0] - 3600), ts2
            )


class TestVacuumRetention:
    def test_retained_snapshot_keeps_its_files(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.corpus_cubes import (
            docs_stats_cube_table,
        )
        from bigdataproj_spark.sources.maintenance import gc_warehouse

        e = _sandbox(spark, sf_dir, tmp_path)
        docs_stats_cube_table(spark, e.sf_dir)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello world', 'en', 'src1', 11)"
        )
        v1 = e.sql(_PROFILE).toPandas()
        # the delete publishes a NEW cube version; version 1's cube
        # files become superseded — exactly what eager GC would eat
        e.sql("DELETE FROM documents WHERE doc_id <= 50")
        gc_warehouse(spark, e.sf_dir, retain_seconds=3600)
        got = e.sql(_PROFILE + " FOR SYSTEM_VERSION AS OF 1").toPandas()
        assert got.equals(v1)

    def test_eager_gc_expires_time_travel(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.maintenance import gc_warehouse

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello world', 'en', 'src1', 11)"
        )
        e.sql("DELETE FROM documents WHERE doc_id <= 50")
        live = e.sql(_PROFILE).toPandas()
        gc_warehouse(spark, e.sf_dir, retain_seconds=0)
        with pytest.raises(ValueError, match="VACUUM retention"):
            e.sql(_PROFILE + " FOR SYSTEM_VERSION AS OF 1")
        # the pruned versions are gone; the pass's own "vacuum" commit
        # is the one reachable entry
        hist = [(r.version, r.note) for r in e.sql("DESCRIBE HISTORY").collect()]
        assert hist == [(3, "vacuum")]
        # the live state is untouched by the expiry
        assert e.sql(_PROFILE).toPandas().equals(live)


class TestMaintenanceSQL:
    """Round 10: OPTIMIZE / VACUUM statement spellings — the last two
    API-only maintenance verbs, lowered onto optimize_warehouse /
    gc_warehouse with the guards those already have."""

    def test_optimize_statement_compacts_and_records_history(
        self, spark, sf_dir, tmp_path
    ):
        from bigdataproj_spark.sources.bucketed import (
            bucketed_fact_tables,
        )

        e = _sandbox(spark, sf_dir, tmp_path)
        bucketed_fact_tables(spark, e.sf_dir)  # deploy a row layout
        e.sql(
            "INSERT INTO orders VALUES (900000051, 1, 'O', 10.0, "
            "TIMESTAMP '1996-01-01 00:00:00', '1-URGENT')"
        )
        out = e.sql("OPTIMIZE WAREHOUSE").collect()
        assert "bucketed_lineitem" in {r.layout for r in out}
        notes = [r.note for r in e.sql("DESCRIBE HISTORY").collect()]
        assert notes[-1] == "optimize"

    def test_vacuum_statement_prunes_and_records_history(
        self, spark, sf_dir, tmp_path
    ):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (5)")
        e.sql("DELETE FROM documents WHERE doc_id IN (6)")
        # a retention window long enough that nothing is collectable
        kept = e.sql("VACUUM RETAIN 24 HOURS").collect()[0]
        assert kept.removed == 0
        assert kept.retain_seconds == 24 * 3600.0
        # versions survive a windowed pass
        assert e.sql(
            "SELECT COUNT(*) AS n FROM documents FOR SYSTEM_VERSION "
            "AS OF 1"
        ).count() == 1
        # eager pass: versions expire, the pass records itself
        e.sql("VACUUM")
        notes = [r.note for r in e.sql("DESCRIBE HISTORY").collect()]
        assert notes[-1] == "vacuum"
        with pytest.raises(ValueError, match="no reachable snapshot"):
            e.sql(_PROFILE + " FOR SYSTEM_VERSION AS OF 1")

    def test_maintenance_statements_refuse_inside_as_of(
        self, spark, sf_dir, tmp_path
    ):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (9)")
        with pytest.raises(ValueError, match="read-only inside"):
            with e.as_of(0):
                e.sql("OPTIMIZE")
        with pytest.raises(ValueError, match="read-only inside"):
            with e.as_of(0):
                e.sql("VACUUM RETAIN 1 HOURS")

    def test_malformed_spellings_refuse_with_reason(
        self, spark, sf_dir, tmp_path
    ):
        e = _sandbox(spark, sf_dir, tmp_path)
        with pytest.raises(ValueError, match="warehouse-wide"):
            e.sql("OPTIMIZE lineitem")
        with pytest.raises(ValueError, match="malformed VACUUM"):
            e.sql("VACUUM documents RETAIN 1 HOURS")
        with pytest.raises(ValueError, match="malformed VACUUM"):
            e.sql("VACUUM RETAIN soon")


class TestStreamingComposition:
    def test_streamed_ingest_versions_replay(self, spark, sf_dir, tmp_path):
        """ST10 × S22: a foreachBatch ingest loop calling
        refresh_warehouse per micro-batch produces one commit per
        batch, and every intermediate corpus state stays reachable —
        AS OF k answers exactly what the warehouse answered right
        after the k-th micro-batch landed."""
        from bigdataproj_spark.sources.maintenance import refresh_warehouse
        from bigdataproj_spark.streaming.replay import (
            DOCUMENTS_DDL,
            _drive_stream,
            stage_document_batches,
        )

        e = _sandbox(spark, sf_dir, tmp_path)
        work = e.sf_dir
        bdir = tmp_path / "batches"
        bdir.mkdir()
        paths = stage_document_batches(spark, sf_dir, str(bdir), n_batches=3)
        expected = []  # the live profile right after each commit

        def attach(stream, ckpt):
            def apply(batch_df, batch_id):
                delta = batch_df.select(
                    (F.col("doc_id") + 10_000_000).cast("long").alias(
                        "doc_id"
                    ),
                    "text", "lang", "source", "n_chars",
                ).localCheckpoint(eager=True)
                refresh_warehouse(spark, work, documents=delta)
                expected.append(e.sql(_PROFILE).toPandas())

            q = (
                stream.writeStream.foreachBatch(apply)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            return q, lambda: None

        _drive_stream(spark, paths, DOCUMENTS_DDL, attach)
        hist = e.sql("DESCRIBE HISTORY").collect()
        assert [r.note for r in hist] == ["base"] + ["ingest documents"] * 3
        for k, prof in enumerate(expected, start=1):
            got = e.sql(
                _PROFILE + f" FOR SYSTEM_VERSION AS OF {k}"
            ).toPandas()
            assert got.equals(prof), f"AS OF {k} drifted from commit {k}"


class TestRestore:
    def test_restore_undoes_delete_and_truncates_history(
        self, spark, sf_dir, tmp_path
    ):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello world', 'en', 'src1', 11)"
        )
        v1 = e.sql(_PROFILE).toPandas()
        e.sql("DELETE FROM documents WHERE doc_id IN (7, 8)")
        assert not e.sql(_PROFILE).toPandas().equals(v1)
        e.sql("RESTORE TO VERSION AS OF 1")
        # the live state IS version 1 again, rows back
        assert e.sql(_PROFILE).toPandas().equals(v1)
        n = e.sql(
            "SELECT COUNT(*) AS n FROM documents WHERE doc_id IN (7, 8)",
            routed=False,
        ).collect()[0].n
        assert n == 2
        # history truncated to the restored version + the restore
        # commit, in the ORIGINAL numbering (2 is gone, 3 records it)
        hist = [(r.version, r.note) for r in e.sql("DESCRIBE HISTORY").collect()]
        assert hist == [
            (0, "base"), (1, "ingest documents"), (3, "restore to 1"),
        ]
        # the undone version is no longer reachable
        with pytest.raises(ValueError, match="no reachable snapshot"):
            e.sql(_PROFILE + " FOR SYSTEM_VERSION AS OF 2")
        # the erasure was undone, so the key is insertable again —
        # and a NEW delete works on the restored state
        e.sql("DELETE FROM documents WHERE doc_id IN (7)")
        n = e.sql(
            "SELECT COUNT(*) AS n FROM documents WHERE doc_id IN (7, 8)",
            routed=False,
        ).collect()[0].n
        assert n == 1

    def test_restore_removes_undone_files(self, spark, sf_dir, tmp_path):
        import os

        from bigdataproj_spark.sources.bucketed import _layout_paths
        from bigdataproj_spark.sources.snapshots import _ledger
        from bigdataproj_spark.sources.txn import _walk_files

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'hello world', 'en', 'src1', 11)"
        )
        entry = _ledger(spark, e.sf_dir)[-1]
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000002, 'zwei', 'de', 'src1', 4)"
        )
        wh = _layout_paths(e.sf_dir)[1]
        assert _walk_files(wh) - set(entry["files"])  # the appends exist
        e.sql(f"RESTORE TO VERSION AS OF {entry['version']}")
        # byte-level rollback: exactly the undone commits' files went
        assert _walk_files(wh) == set(entry["files"])
        rows = e.sql(
            "SELECT doc_id FROM documents WHERE doc_id >= 900000000",
            routed=False,
        ).collect()
        assert [r.doc_id for r in rows] == [900000001]

    def test_restore_commit_is_change_free_and_staged_empty(
        self, spark, sf_dir, tmp_path
    ):
        """S23c (round 12, r11-VERDICT item 4): a feed spanning a
        RESTORE commit reads change-sized — the restore entry stages
        the EMPTY change set, which is correct BY CONSTRUCTION under
        truncating restore: its state is byte-identical to its
        reachable predecessor's (the restore target), so the
        per-commit diff is ∅ — and this replaces an O(|state|)
        full-row diff that always produced zero rows. Equivalence
        with that fallback is asserted by stripping the staged
        record; the feed as a whole still folds base → head exactly
        (only the REACHABLE commits' changes appear — undone commits
        left the ledger, Delta-divergence documented in
        docs/DECISIONS.md)."""
        from bigdataproj_spark.sources.snapshots import _ledger
        from bigdataproj_spark.testing import compare_frames

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'aaa', 'en', 'src1', 3), "
            "(900000002, 'bbbb', 'de', 'src1', 4)"
        )
        v_ins = _ledger(spark, e.sf_dir)[-1]["version"]
        e.sql("DELETE FROM documents WHERE doc_id <= 20")
        e.sql(f"RESTORE TO VERSION AS OF {v_ins}")
        entry = _ledger(spark, e.sf_dir)[-1]
        head = entry["version"]
        assert entry["note"] == f"restore to {v_ins}"
        assert entry["cdf"] == {}  # staged empty: O(1), no state diff
        fast = e.table_changes("documents", 0, head).toPandas()
        # the whole-window feed holds exactly the REACHABLE commits'
        # changes: the insert's two rows, nothing from the undone
        # delete, nothing from the restore commit itself
        assert set(fast._commit_version) == {v_ins}
        assert sorted(fast[fast._change_type == "insert"].doc_id) == [
            900000001, 900000002,
        ]
        # byte-identical to the diff fallback for the restore commit
        del entry["cdf"]
        try:
            slow = e.table_changes("documents", 0, head).toPandas()
        finally:
            entry["cdf"] = {}
        compare_frames(fast, slow, "restore-empty-cdf-vs-fallback")
        # a consumer folding the feed from base lands on the head
        # state: base rows + the restored insert, delete undone
        n_live = e.sql(
            "SELECT COUNT(*) AS n FROM documents", routed=False
        ).collect()[0].n
        n_base = table(spark, sf_dir, "documents").count()
        assert n_live == n_base + 2

    def test_restore_refusals(self, spark, sf_dir, tmp_path):
        from bigdataproj_spark.sources.txn import WarehouseTxn

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (9)")
        with pytest.raises(ValueError, match="no reachable snapshot"):
            e.sql("RESTORE TO VERSION AS OF 42")
        with pytest.raises(ValueError, match="read-only inside"):
            with e.as_of(0):
                e.sql("RESTORE TO VERSION AS OF 0")
        with pytest.raises(ValueError, match="inside a warehouse"):
            with WarehouseTxn(spark, e.sf_dir):
                e.sql("RESTORE TO VERSION AS OF 0")


class TestAppendLayoutPinning:
    def test_pinned_marker_only_directory_reads_empty_not_live(
        self, spark, tmp_path
    ):
        """Round-9 ADVICE item 3: a path PRESENT in the pinned listing
        but with no data files (marker-only commit) must read as an
        EMPTY relation at that version — falling back to the live scan
        would serve post-commit rows. A path absent from the listing
        entirely (deployed inside the block) still reads live (None)."""
        from bigdataproj_spark.sources.snapshots import pinned_parquet
        from bigdataproj_spark.sources.state import AsOf, session_state

        p = tmp_path / "layout"
        spark.range(5).selectExpr("id AS k").write.parquet(str(p))
        sess = session_state(spark)
        try:
            # marker-only under the pinned listing → empty, live schema
            sess.as_of = AsOf(str(tmp_path), frozenset({str(p / "_SUCCESS")}), 0)
            df = pinned_parquet(spark, str(p))
            assert df is not None
            assert df.columns == ["k"]
            assert df.count() == 0
            # path absent from the listing → live read (None sentinel)
            sess.as_of = AsOf(str(tmp_path), frozenset(
                {str(tmp_path / "elsewhere" / "part-0.parquet")}
            ), 0)
            assert pinned_parquet(spark, str(p)) is None
        finally:
            sess.as_of = None

    def test_row_level_as_of_excludes_later_appends(
        self, spark, sf_dir, tmp_path
    ):
        """The append-style row stores share directories across
        commits, so snapshot reads must scan only the pinned commit's
        files — found as a real leak by direct probe (a row-level
        AS OF 1 read served batch 2's appended rows; the cube-routed
        twin was correct, which is why aggregate checks missed it).
        One insert pair per fact table: the first batch's row is
        visible at its commit, the second batch's is not."""
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'batch one', 'en', 'src1', 9)"
        )  # v1
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000002, 'batch two', 'en', 'src1', 9)"
        )  # v2
        e.sql(
            "INSERT INTO orders VALUES (900000011, 1, 'O', 10.0, "
            "TIMESTAMP '1996-01-01 00:00:00', '1-URGENT')"
        )  # v3
        e.sql(
            "INSERT INTO orders VALUES (900000012, 1, 'O', 10.0, "
            "TIMESTAMP '1996-01-01 00:00:00', '1-URGENT')"
        )  # v4
        e.sql(
            "INSERT INTO lineitem VALUES (900000011, 1, 1, 1, 1.0, "
            "100.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-02 00:00:00')"
        )  # v5
        e.sql(
            "INSERT INTO lineitem VALUES (900000012, 1, 1, 1, 1.0, "
            "100.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-02 00:00:00')"
        )  # v6
        e.sql(
            "INSERT INTO events VALUES (900000021, "
            "TIMESTAMP '2024-01-09 10:15:00', 1, 'click', 1.5, '{}')"
        )  # v7
        e.sql(
            "INSERT INTO events VALUES (900000022, "
            "TIMESTAMP '2024-01-09 11:15:00', 1, 'click', 1.5, '{}')"
        )  # v8
        probes = [
            ("doc_id", "documents", 1, 900000001),
            ("o_orderkey", "orders", 3, 900000011),
            ("l_orderkey", "lineitem", 5, 900000011),
            ("event_id", "events", 7, 900000021),
        ]
        for col, t, v, want in probes:
            rows = e.sql(
                f"SELECT {col} FROM {t} FOR SYSTEM_VERSION AS OF {v} "
                f"WHERE {col} >= 900000000 ORDER BY {col}"
            ).collect()
            assert [r[col] for r in rows] == [want], (t, v, rows)
        # routed and verbatim agree at a pinned version
        n_asof = e.sql(
            "SELECT COUNT(*) AS n FROM lineitem FOR SYSTEM_VERSION AS OF 5"
        ).collect()[0].n
        with e.as_of(5):
            n_vb = e.sql(
                "SELECT COUNT(*) AS n FROM lineitem", routed=False
            ).collect()[0].n
        assert n_asof == n_vb


class TestInBlockDeploys:
    def test_lazy_deploy_inside_as_of_never_writes_live_paths(
        self, spark, sf_dir, tmp_path
    ):
        """Found by direct probe: an as_of(0) scan whose layout was
        missing from the snapshot memos lazily deployed it with
        mode("overwrite") onto the LIVE layout path — wiping the live
        layout's appended batches. In-block deploys now write
        _asof-suffixed twins (discarded memo, VACUUM-orphan files);
        this pins that the live layouts survive and both epochs
        answer correctly."""
        from bigdataproj_spark.plans.sqlfront import route_sql

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO lineitem VALUES (900000011, 1, 1, 1, 1.0, "
            "100.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-02 00:00:00')"
        )
        sql = (
            "SELECT l_orderkey, l_partkey FROM lineitem "
            "WHERE l_partkey >= 1 AND l_partkey <= 2 "
            "AND l_orderkey >= 900000000"
        )
        live1, _ = route_sql(spark, e.sf_dir, sql)
        assert live1.count() == 1
        with e.as_of(0):
            df0, chosen0 = route_sql(spark, e.sf_dir, sql)
            assert chosen0 == "zorder_lineitem"
            assert df0.count() == 0  # pre-ingest epoch
        live2, _ = route_sql(spark, e.sf_dir, sql)
        assert live2.count() == 1  # the live layout survived


class TestTableChanges:
    """S23 (round 10): the change data feed over the commit ledger."""

    def test_per_commit_rows_and_update_classification(
        self, spark, sf_dir, tmp_path
    ):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO orders VALUES (900000061, 1, 'O', 10.0, "
            "TIMESTAMP '1996-01-01 00:00:00', '1-URGENT')"
        )  # v1
        e.sql(
            "UPDATE orders SET o_orderpriority = '5-LOW' "
            "WHERE o_orderkey IN (900000061)"
        )  # v2
        e.sql("DELETE FROM orders WHERE o_orderkey IN (900000061)")  # v3
        rows = [
            (r._commit_version, r._change_type, r.o_orderpriority)
            for r in e.table_changes("orders", 0, 3).collect()
        ]
        # the SAME key appears in every commit that touched it —
        # per-commit granularity, Delta's table_changes semantics
        assert rows == [
            (1, "insert", "1-URGENT"),
            (2, "update_postimage", "5-LOW"),
            (2, "update_preimage", "1-URGENT"),
            (3, "delete", "5-LOW"),
        ]
        # a sub-range sees only its commits
        sub = [
            (r._commit_version, r._change_type)
            for r in e.table_changes("orders", 1, 2).collect()
        ]
        assert sub == [(2, "update_postimage"), (2, "update_preimage")]

    def test_untouched_commits_are_skipped_without_changes(
        self, spark, sf_dir, tmp_path
    ):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000071, 'hello', 'en', 'src1', 5)"
        )  # v1 docs
        e.sql(
            "INSERT INTO orders VALUES (900000071, 1, 'O', 10.0, "
            "TIMESTAMP '1996-01-01 00:00:00', '1-URGENT')"
        )  # v2 orders
        docs = e.table_changes("documents", 0, 2).collect()
        assert [(r._commit_version, r._change_type) for r in docs] == [
            (1, "insert")
        ]
        orders = e.table_changes("orders", 0, 2).collect()
        assert [(r._commit_version, r._change_type) for r in orders] == [
            (2, "insert")
        ]
        # an empty range (no relevant commits) is an empty feed with
        # the full schema
        empty = e.sql("SELECT * FROM table_changes('events', 0, 2)")
        assert empty.count() == 0
        assert empty.columns[-3:] == [
            "_change_type", "_commit_version", "_commit_note",
        ]

    def test_keyless_tables_feed_inserts_and_expiry_deletes(
        self, spark, sf_dir, tmp_path
    ):
        """events have no mutable identity key: the feed classifies
        only insert (appends) and delete (TTL expiry) — never update
        images."""
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO events VALUES (900000081, "
            "TIMESTAMP '2024-01-09 10:15:00', 1, 'click', 1.5, '{}')"
        )  # v1
        e.sql(
            "DELETE FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'"
        )  # v2
        rows = e.table_changes("events", 0, 2).collect()
        by_commit = {}
        for r in rows:
            by_commit.setdefault(r._commit_version, set()).add(r._change_type)
        assert by_commit[1] == {"insert"}
        assert by_commit[2] == {"delete"}
        assert {r._change_type for r in rows} <= {"insert", "delete"}

    def test_mixed_batch_ingest_feeds_every_named_table(
        self, spark, sf_dir, tmp_path
    ):
        """A MIXED ingest batch writes a comma-joined ledger note
        ('ingest lineitem,orders' — refresh_warehouse's construction);
        each named table's feed must carry its rows. Round-10 ADVICE
        high #1: the single-name match classified such a commit as
        touching NO table, silently dropping its rows from the feed."""
        import datetime as dt

        from bigdataproj_spark.schemas import FIXTURE_SCHEMAS

        e = _sandbox(spark, sf_dir, tmp_path)
        d = dt.datetime(1996, 1, 2)
        li = spark.createDataFrame(
            [(900000091, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", d)],
            FIXTURE_SCHEMAS["lineitem"],
        )
        od = spark.createDataFrame(
            [(900000091, 1, "O", 10.0, d, "1-URGENT")],
            FIXTURE_SCHEMAS["orders"],
        )
        e.ingest(lineitem=li, orders=od)  # ONE commit
        hist = e.history().collect()
        assert hist[-1].note == "ingest lineitem,orders"
        v = hist[-1].version
        li_rows = e.table_changes("lineitem", 0, v).collect()
        assert [
            (r._commit_version, r._change_type, r.l_orderkey)
            for r in li_rows
        ] == [(v, "insert", 900000091)]
        od_rows = e.table_changes("orders", 0, v).collect()
        assert [
            (r._commit_version, r._change_type, r.o_orderkey)
            for r in od_rows
        ] == [(v, "insert", 900000091)]

    def test_delete_orders_cascade_appears_in_lineitem_feed(
        self, spark, sf_dir, tmp_path
    ):
        """'delete orders' CASCADES — the deleted orders' lineitem
        rows go too (sources/retention.py delete_orders) — so the
        LINEITEM feed must carry the cascaded deletions. Round-10
        ADVICE high #2: _commit_touches('delete orders', 'lineitem')
        returned False and the feed silently omitted them."""
        e = _sandbox(spark, sf_dir, tmp_path)
        k = table(spark, sf_dir, "lineitem").first().l_orderkey
        n_li = (
            table(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") == k)
            .count()
        )
        assert n_li >= 1
        e.sql(f"DELETE FROM orders WHERE o_orderkey IN ({k})")
        v = e.history().collect()[-1].version
        li_rows = e.table_changes("lineitem", 0, v).collect()
        assert len(li_rows) == n_li
        assert {
            (r._commit_version, r._change_type, r._commit_note, r.l_orderkey)
            for r in li_rows
        } == {(v, "delete", "delete orders", k)}
        od_rows = e.table_changes("orders", 0, v).collect()
        assert [
            (r._change_type, r.o_orderkey) for r in od_rows
        ] == [("delete", k)]

    def test_stored_deltas_match_state_diff_fallback(
        self, spark, sf_dir, tmp_path
    ):
        """S23b (round 11, r10-VERDICT item 1): every mutation verb
        stages its change rows beside the commit, and table_changes
        reads them O(|changes|). Stripping the stored deltas — forcing
        the round-10 state-diff path — must yield the IDENTICAL feed
        for every table: the storage swap changes cost, not content."""
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO orders VALUES (900000097, 1, 'O', 10.0, "
            "TIMESTAMP '1996-01-01 00:00:00', '1-URGENT')"
        )
        e.sql(
            "UPDATE orders SET o_totalprice = o_totalprice * 2 "
            "WHERE o_orderkey = 900000097"
        )
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000098, 'hallo welt', 'de', 'src97', 10)"
        )
        e.sql(
            "INSERT INTO events VALUES (900000098, "
            "TIMESTAMP '2024-01-09 10:15:00', 1, 'click', 1.5, '{}')"
        )
        e.sql("DELETE FROM orders WHERE o_orderkey IN (900000097)")
        e.sql("DELETE FROM documents WHERE doc_id IN (900000098, 5)")
        e.sql(
            "DELETE FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'"
        )
        led = _ledger(spark, e.sf_dir)
        # every mutation commit carries its staged delta
        assert all(
            "cdf" in en
            for en in led
            if en["note"].startswith(("ingest", "delete", "expire"))
        )
        v = led[-1]["version"]

        def feeds():
            return {
                t: sorted(
                    tuple(r) for r in e.table_changes(t, 0, v).collect()
                )
                for t in ("orders", "documents", "events", "lineitem")
            }

        fast = feeds()
        assert fast["orders"]  # sanity: the feed is not vacuously equal
        stripped = {
            en["version"]: en.pop("cdf") for en in led if "cdf" in en
        }
        try:
            assert feeds() == fast
        finally:
            for en in led:
                if en["version"] in stripped:
                    en["cdf"] = stripped[en["version"]]

    def test_null_fields_never_phantom_in_fallback_diff(
        self, spark, sf_dir, tmp_path
    ):
        """Round-11 self-review regression: the fallback state diff's
        count join must pair NULL-bearing rows (groupBy folds NULLs
        into one group per side — eqNullSafe, not a USING join), or an
        UNCHANGED row with a NULL field phantom-reports as an
        update_preimage/postimage pair at every diffed commit."""
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000411, NULL, 'en', 'src1', 0)"
        )  # v1: a NULL text field
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000412, 'x', 'en', 'src1', 1)"
        )  # v2: unrelated commit — must NOT re-report 900000411
        led = _ledger(spark, e.sf_dir)
        v = led[-1]["version"]
        stripped = {
            en["version"]: en.pop("cdf") for en in led if "cdf" in en
        }
        try:
            rows = e.table_changes("documents", 0, v).collect()
        finally:
            for en in led:
                if en["version"] in stripped:
                    en["cdf"] = stripped[en["version"]]
        assert [
            (r._commit_version, r._change_type, r.doc_id) for r in rows
        ] == [(1, "insert", 900000411), (2, "insert", 900000412)]

    def test_refusals(self, spark, sf_dir, tmp_path):
        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (3)")
        with pytest.raises(ValueError, match="maintained fact tables"):
            e.table_changes("customer", 0, 1)
        with pytest.raises(ValueError, match="v1 <= v2"):
            e.table_changes("documents", 1, 0)
        with pytest.raises(ValueError, match="no reachable snapshot"):
            e.table_changes("documents", 0, 99)
        with pytest.raises(ValueError, match="inside an AS OF"):
            with e.as_of(0):
                e.table_changes("documents", 0, 1)
        with pytest.raises(ValueError, match="change-feed spelling"):
            e.sql(
                "SELECT doc_id FROM table_changes('documents', 0, 1) "
                "WHERE lang = 'en'"
            )
        # the name inside a string literal is data, not the verb
        got = e.sql("SELECT 'table_changes(x)' AS s").collect()[0].s
        assert got == "table_changes(x)"


class TestVersionMonotonicity:
    def test_numbers_never_reuse_after_vacuum(self, spark, sf_dir, tmp_path):
        """A remembered version number must resolve to the state it
        always meant or ERROR — never silently mean a different state.
        After VACUUM prunes the ledger, new commits continue the
        monotone sequence (the post-prune state re-enters as the
        fresh-numbered 'vacuum' commit the pass itself records)."""
        from bigdataproj_spark.sources.maintenance import gc_warehouse

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql("DELETE FROM documents WHERE doc_id IN (5)")   # 0 base, 1
        e.sql("DELETE FROM documents WHERE doc_id IN (6)")   # 2
        gc_warehouse(spark, e.sf_dir)  # eager: prior versions expire
        e.sql("DELETE FROM documents WHERE doc_id IN (7)")
        hist = [(r.version, r.note) for r in e.sql("DESCRIBE HISTORY").collect()]
        assert hist == [(3, "vacuum"), (4, "delete documents")]
        # the vacuum commit carries the accumulated state, not the base
        n = e.sql(
            "SELECT COUNT(*) AS n FROM documents "
            "FOR SYSTEM_VERSION AS OF 3 WHERE doc_id IN (5, 6, 7)"
        ).collect()[0].n
        assert n == 1  # 5 and 6 already deleted at the vacuum commit
        # and the vacuumed numbers stay errors forever
        with pytest.raises(ValueError, match="no reachable snapshot"):
            e.sql("SELECT COUNT(*) FROM documents FOR SYSTEM_VERSION AS OF 1")

    def test_pinned_memo_stays_bounded_by_reachable_versions(
        self, spark, sf_dir, tmp_path
    ):
        """Round-10 VERDICT item 6 / ADVICE item 5: the pinned-scan
        memo used to grow for the session's lifetime, holding plans
        for versions VACUUM/RESTORE had made unreachable (keys that
        can never be probed again). After either verb, every surviving
        memo key must match a file set some REACHABLE ledger entry
        (any fixture's — the memo is session-global) still pins."""
        from bigdataproj_spark.sources.maintenance import gc_warehouse

        e = _sandbox(spark, sf_dir, tmp_path)
        e.sql(
            "INSERT INTO documents VALUES "
            "(900000095, 'hello', 'en', 'src1', 5)"
        )  # v1
        e.sql("DELETE FROM documents WHERE doc_id IN (3)")  # v2
        # row-level snapshot reads populate the pinned-scan memo
        for v in (1, 2):
            with e.as_of(v):
                e.sql(
                    "SELECT COUNT(*) AS n FROM documents "
                    "WHERE doc_id >= 900000000"
                ).collect()
        from bigdataproj_spark.sources.state import session_state

        sess = session_state(spark)

        def _dangling() -> list:
            memo = sess.pinned_scans
            reachable = {
                en["files"]
                for ws in sess.warehouses.values()
                for en in ws.history.ledger
            }
            return [k for k in memo if k[1] not in reachable]

        e.sql("RESTORE TO VERSION AS OF 1")  # v2's plans unreachable
        assert _dangling() == []
        gc_warehouse(spark, e.sf_dir)  # ledger cleared: all old keys go
        assert _dangling() == []


class TestPairAppendPinning:
    def test_rollup_denorm_pure_appends_pin_and_stay_unversioned(
        self, spark, sf_dir, tmp_path
    ):
        """Round 9 made pure-new-key refreshes of the rollup/denorm
        pair bucket-preserving APPENDS (the unconditional merge-
        rewrite was the ingest path's one O(|orders|) term — 121 s
        for a 1000-row insert at sf20). Appends share the table name
        across commits, so the pair's reads must pin inside as_of
        like every other append layout — and the fast path must be
        REAL: the serving names stay unversioned across the inserts."""
        from bigdataproj_spark.plans.routing import (
            _open_order_revenue_star,
        )
        from bigdataproj_spark.sources.bucketed import (
            order_revenue_projection,
        )

        e = _sandbox(spark, sf_dir, tmp_path)
        names0 = order_revenue_projection(spark, e.sf_dir)
        e.sql(
            "INSERT INTO orders VALUES (900000021, 1, 'O', 10.0, "
            "TIMESTAMP '1996-01-01 00:00:00', '1-URGENT')"
        )  # v1
        e.sql(
            "INSERT INTO lineitem VALUES (900000021, 1, 1, 1, 1.0, "
            "500.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-02 00:00:00')"
        )  # v2
        e.sql(
            "INSERT INTO orders VALUES (900000022, 1, 'O', 10.0, "
            "TIMESTAMP '1996-01-01 00:00:00', '1-URGENT')"
        )  # v3
        e.sql(
            "INSERT INTO lineitem VALUES (900000022, 1, 1, 1, 1.0, "
            "500.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-02 00:00:00')"
        )  # v4
        # the fast path was taken: same serving names, no new version
        assert order_revenue_projection(spark, e.sf_dir) == names0
        with e.as_of(2):
            star = _open_order_revenue_star(spark, e.sf_dir)
            keys = sorted(
                r.l_orderkey
                for r in star.filter(
                    F.col("l_orderkey") >= 900000000
                ).select("l_orderkey").collect()
            )
        assert keys == [900000021]  # order B's append is invisible at v2
        star_live = _open_order_revenue_star(spark, e.sf_dir)
        keys_live = sorted(
            r.l_orderkey
            for r in star_live.filter(
                F.col("l_orderkey") >= 900000000
            ).select("l_orderkey").collect()
        )
        assert keys_live == [900000021, 900000022]


class TestWarehouseIsolation:
    """RESTORE, AS OF and rollback act on ONE warehouse: two sandboxes
    in one session keep separate serving states and histories."""

    _COUNT = "SELECT COUNT(*) AS n FROM documents"

    def _pair(self, spark, sf_dir, tmp_path):
        (tmp_path / "a").mkdir()
        (tmp_path / "b").mkdir()
        a = _sandbox(spark, sf_dir, tmp_path / "a")
        b = _sandbox(spark, sf_dir, tmp_path / "b")
        a.sql(
            "INSERT INTO documents VALUES "
            "(900000001, 'in a', 'en', 'src1', 4)"
        )
        v_a = a.history().collect()[-1].version
        b.sql(
            "INSERT INTO documents VALUES "
            "(900000002, 'in b', 'en', 'src1', 4)"
        )
        return a, b, v_a

    def test_restore_leaves_other_warehouse_alone(
        self, spark, sf_dir, tmp_path
    ):
        a, b, v_a = self._pair(spark, sf_dir, tmp_path)
        n_b = b.sql(self._COUNT).collect()[0].n
        hist_b = [tuple(r) for r in b.history().collect()]
        a.sql(f"RESTORE TO VERSION AS OF {v_a}")
        assert b.sql(self._COUNT).collect()[0].n == n_b
        assert b.sql(self._COUNT, routed=False).collect()[0].n == n_b
        assert [tuple(r) for r in b.history().collect()] == hist_b

    def test_as_of_leaves_other_warehouse_live(
        self, spark, sf_dir, tmp_path
    ):
        a, b, v_a = self._pair(spark, sf_dir, tmp_path)
        n_b = b.sql(self._COUNT).collect()[0].n
        with a.as_of(v_a):
            assert b.sql(self._COUNT).collect()[0].n == n_b
        assert b.sql(self._COUNT).collect()[0].n == n_b
