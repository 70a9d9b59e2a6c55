"""Crash-window and concurrency durability of the repository sink:
parked-table recovery, rollup checkpoint identity, partition-moving
merge keys, partition-preserving compaction."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from db2pq_spark.core import Engine
from db2pq_spark.sinks.parquet_sink import (
    parked_path,
    recover_parked,
    table_path,
)


class TestParkedRecovery:
    def test_crash_between_renames_is_healed_on_read(self, spark, tmp_path):
        """Simulate a crash after park-old but before promote-new: the
        table directory is missing, the parked copy holds the data.
        read_pq must restore it transparently."""
        eng = Engine(spark, tmp_path)
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        eng.df_to_pq(df, "s", "t")
        final = table_path(tmp_path, "s", "t")
        parked = parked_path(tmp_path, "s", "t")
        os.replace(final, parked)       # the crash window, frozen
        # age the artifact past the reader-side guard (a real crash
        # leaves it old; a live swap is microseconds)
        old = os.stat(parked).st_mtime - 60
        os.utime(parked, (old, old))

        back = eng.read_pq("s", "t")
        assert back.count() == 2
        assert final.exists() and not parked.exists()

    def test_crash_between_renames_is_healed_on_write(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        eng.df_to_pq(df, "s", "t")
        final = table_path(tmp_path, "s", "t")
        os.replace(final, parked_path(tmp_path, "s", "t"))

        # next write must treat the parked copy as the live table
        # (archive semantics etc. act on the recovered data)
        eng.df_to_pq(spark.createDataFrame([(2, "b")], "k long, v string"),
                     "s", "t")
        assert eng.read_pq("s", "t").count() == 1
        assert not parked_path(tmp_path, "s", "t").exists()

    def test_stale_parked_beside_live_table_is_cleaned(self, spark, tmp_path):
        """Crash AFTER promote but before cleanup: both exist; the
        parked copy is stale and must be dropped, not restored."""
        eng = Engine(spark, tmp_path)
        eng.df_to_pq(spark.createDataFrame([(1, "new")], "k long, v string"),
                     "s", "t")
        parked = parked_path(tmp_path, "s", "t")
        parked.mkdir()
        (parked / "junk.txt").write_text("stale")

        assert recover_parked(tmp_path, "s", "t") is False
        assert not parked.exists()
        assert eng.read_pq("s", "t").first()["v"] == "new"


class TestCrashWindowVsIncrementalPaths:
    def test_merge_pq_heals_parked_table_before_branching(self, spark,
                                                          tmp_path):
        """merge_pq on a parked-but-missing table must merge into the
        RECOVERED table, not treat the upsert batch as a brand-new
        table (which would destroy all prior rows)."""
        eng = Engine(spark, tmp_path)
        base = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string")
        eng.merge_pq(base, "s", "t", key_cols=["id"])
        final = table_path(tmp_path, "s", "t")
        os.replace(final, parked_path(tmp_path, "s", "t"))

        eng.merge_pq(spark.createDataFrame([(1, "a2")], "id long, v string"),
                     "s", "t", key_cols=["id"])
        rows = {(r["id"], r["v"]) for r in eng.read_pq("s", "t").collect()}
        assert rows == {(1, "a2"), (2, "b"), (3, "c")}

    def test_refresh_rollup_heals_parked_table_before_branching(
            self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        d1 = spark.createDataFrame([("a", 1.0), ("a", 2.0)],
                                   "k string, x double")
        eng.refresh_rollup(d1, "s", "r", ["k"], {"x": "sum"})
        final = table_path(tmp_path, "s", "r")
        os.replace(final, parked_path(tmp_path, "s", "r"))

        eng.refresh_rollup(
            spark.createDataFrame([("a", 4.0)], "k string, x double"),
            "s", "r", ["k"], {"x": "sum"})
        row = eng.read_pq("s", "r").first()
        assert row["n"] == 3 and row["sum_x"] == 7.0

    def test_crash_mid_partition_swap_loses_no_rows(self, spark, tmp_path,
                                                    monkeypatch):
        """A partition-scoped merge that crashes between parking a live
        partition and promoting its replacement must not lose the
        parked rows: the next read restores them, and the next merge
        of the same update completes it."""
        eng = Engine(spark, tmp_path)
        df = spark.createDataFrame([(i, f"p{i % 2}", "old")
                                    for i in range(10)],
                                   "k long, part string, v string")
        eng.df_to_pq(df, "s", "t", partition_by=["part"])
        upd = spark.createDataFrame([(0, "p0", "new")],
                                    "k long, part string, v string")
        real_replace, calls = os.replace, [0]

        def crash_on_second(src, dst, *a, **kw):
            calls[0] += 1
            if calls[0] == 2:
                raise OSError("simulated crash")
            return real_replace(src, dst, *a, **kw)

        monkeypatch.setattr(os, "replace", crash_on_second)
        with pytest.raises(OSError, match="simulated crash"):
            eng.merge_pq(upd, "s", "t", ["k"], partition_cols=["part"])
        monkeypatch.setattr(os, "replace", real_replace)
        # age the parked partition past the reader-side guard
        parts = table_path(tmp_path, "s", "t") / ".old_parts"
        assert parts.exists()
        old = time.time() - 60
        os.utime(parts, (old, old))
        assert eng.read_pq("s", "t").count() == 10
        assert not parts.exists()

        eng.merge_pq(upd, "s", "t", ["k"], partition_cols=["part"])
        rows = {r["k"]: r["v"] for r in eng.read_pq("s", "t").collect()}
        assert len(rows) == 10 and rows[0] == "new"
        assert sum(v == "old" for v in rows.values()) == 9

    def test_crash_mid_partition_swap_is_healed_by_merge(
            self, spark, tmp_path, monkeypatch):
        """The writer-side heal needs no age: a merge right after the
        crash restores the parked partition before it reads."""
        eng = Engine(spark, tmp_path)
        df = spark.createDataFrame([(i, f"p{i % 2}") for i in range(10)],
                                   "k long, part string")
        eng.df_to_pq(df, "s", "t", partition_by=["part"])
        upd = spark.createDataFrame([(20, "p1")], "k long, part string")
        real_replace, calls = os.replace, [0]

        def crash_on_second(src, dst, *a, **kw):
            calls[0] += 1
            if calls[0] == 2:
                raise OSError("simulated crash")
            return real_replace(src, dst, *a, **kw)

        monkeypatch.setattr(os, "replace", crash_on_second)
        with pytest.raises(OSError, match="simulated crash"):
            eng.merge_pq(upd, "s", "t", ["k"], partition_cols=["part"])
        monkeypatch.setattr(os, "replace", real_replace)
        eng.merge_pq(upd, "s", "t", ["k"], partition_cols=["part"])
        assert eng.read_pq("s", "t").count() == 11

    def test_fresh_parked_copy_is_left_alone_by_readers(self, spark,
                                                        tmp_path):
        """A just-created parked dir (a live writer mid-swap) must not
        be touched by the reader-side age-guarded recovery."""
        from db2pq_spark.sinks.parquet_sink import recover_parked

        eng = Engine(spark, tmp_path)
        eng.df_to_pq(spark.createDataFrame([(1,)], "k long"), "s", "t")
        final = table_path(tmp_path, "s", "t")
        os.replace(final, parked_path(tmp_path, "s", "t"))
        assert recover_parked(tmp_path, "s", "t",
                              min_age_seconds=3600) is False
        assert parked_path(tmp_path, "s", "t").exists()
        # writer-side (no age guard) still heals it
        assert recover_parked(tmp_path, "s", "t") is True

    def test_age_guard_protects_old_tables_via_park_time_stamp(
            self, spark, tmp_path):
        """rename(2) preserves the directory's content mtime, which for
        a long-lived table is arbitrarily old — the writer must stamp
        the actual park time (os.utime) or the age guard would treat
        every mid-swap park of an old table as crashed and race the
        live writer's second rename."""
        from db2pq_spark.sinks.parquet_sink import recover_parked

        eng = Engine(spark, tmp_path)
        eng.df_to_pq(spark.createDataFrame([(1,)], "k long"), "s", "t")
        final = table_path(tmp_path, "s", "t")
        old = time.time() - 7 * 86400
        os.utime(final, (old, old))                 # week-old table
        parked = parked_path(tmp_path, "s", "t")
        os.replace(final, parked)                   # park…
        os.utime(parked)                            # …as write_parquet does
        assert recover_parked(tmp_path, "s", "t",
                              min_age_seconds=3600) is False
        assert parked.exists()

    def test_overwrite_swap_stamps_park_time(self, spark, tmp_path):
        """End-to-end: after an overwrite of a backdated table, the
        transient park must have carried a fresh mtime. Verified by
        patching os.replace to capture the parked dir's mtime at the
        moment of the second rename."""
        import db2pq_spark.sinks.parquet_sink as sink

        eng = Engine(spark, tmp_path)
        eng.df_to_pq(spark.createDataFrame([(1,)], "k long"), "s", "t")
        final = table_path(tmp_path, "s", "t")
        old = time.time() - 7 * 86400
        os.utime(final, (old, old))

        parked = parked_path(tmp_path, "s", "t")
        seen: list[float] = []
        real_replace = os.replace

        def spy(src, dst, *a, **kw):
            # sample around every rename: at the second rename
            # (tmp → final) the parked dir exists with its stamped mtime
            if parked.exists():
                seen.append(parked.stat().st_mtime)
            r = real_replace(src, dst, *a, **kw)
            if parked.exists():
                seen.append(parked.stat().st_mtime)
            return r

        sink.os.replace = spy
        try:
            eng.df_to_pq(spark.createDataFrame([(2,)], "k long"),
                         "s", "t")
        finally:
            sink.os.replace = real_replace
        assert seen, "swap never parked the old table"
        assert max(seen) > time.time() - 60

    def test_merge_null_partition_value_raises_cleanly(self, spark,
                                                       tmp_path):
        eng = Engine(spark, tmp_path)
        base = spark.createDataFrame([(1, "a", 1.0)],
                                     "id long, part string, amt double")
        eng.merge_pq(base, "s", "t", key_cols=["id"],
                     partition_cols=["part"])
        bad = spark.createDataFrame([(2, None, 2.0)],
                                    "id long, part string, amt double")
        with pytest.raises(ValueError, match="NULL partition values"):
            eng.merge_pq(bad, "s", "t", key_cols=["id"],
                         partition_cols=["part"])


class TestRollupCheckpointIdentity:
    def _stream(self, spark, src):
        from db2pq_spark.streaming.windows import read_events_stream

        return read_events_stream(spark, src)

    def test_checkpoint_switch_fails_loudly(self, spark, sf_dir, tmp_path):
        """A rollup maintained from checkpoint A must refuse batches
        from checkpoint B (fresh ids restart at 0 — skipping loses
        data, folding double-counts)."""
        from pyspark.errors.exceptions.captured import StreamingQueryException

        from db2pq_spark.streaming.rollup import stream_rollup

        src = tmp_path / "events_src"
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .repartition(2).write.parquet(str(src)))
        eng = Engine(spark, tmp_path / "repo")

        q = stream_rollup(self._stream(spark, str(src)), eng, "s", "roll",
                          ["event_type"], {"value": "sum"},
                          checkpoint_dir=tmp_path / "ckptA")
        q.awaitTermination()
        n_before = eng.read_pq("s", "roll").agg(F.sum("n")).first()[0]

        q2 = stream_rollup(self._stream(spark, str(src)), eng, "s", "roll",
                           ["event_type"], {"value": "sum"},
                           checkpoint_dir=tmp_path / "ckptB")
        with pytest.raises(StreamingQueryException, match="checkpoint"):
            q2.awaitTermination()
        # and the table was not corrupted by the refused batch
        assert eng.read_pq("s", "roll").agg(F.sum("n")).first()[0] == n_before


class TestPartitionMovingMerge:
    def test_moved_key_leaves_no_stale_copy(self, spark, tmp_path):
        """An update that changes a key's partition column must remove
        the row from its old partition directory."""
        eng = Engine(spark, tmp_path)
        base = spark.createDataFrame(
            [(1, "open", 10.0), (2, "open", 20.0), (3, "closed", 30.0)],
            "id long, status string, amt double")
        eng.merge_pq(base, "s", "fact", key_cols=["id"],
                     partition_cols=["status"])

        moved = spark.createDataFrame(
            [(1, "closed", 11.0)], "id long, status string, amt double")
        eng.merge_pq(moved, "s", "fact", key_cols=["id"],
                     partition_cols=["status"])

        out = eng.read_pq("s", "fact")
        assert out.count() == 3                      # no duplicate of id=1
        rows = {(r["id"], r["status"], r["amt"]) for r in out.collect()}
        assert rows == {(1, "closed", 11.0), (2, "open", 20.0),
                        (3, "closed", 30.0)}

    def test_partition_emptied_by_move_is_removed(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        base = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)],
            "id long, part string, amt double")
        eng.merge_pq(base, "s", "fact", key_cols=["id"],
                     partition_cols=["part"])
        eng.merge_pq(
            spark.createDataFrame([(1, "b", 1.5)],
                                  "id long, part string, amt double"),
            "s", "fact", key_cols=["id"], partition_cols=["part"])
        final = table_path(tmp_path, "s", "fact")
        assert not (final / "part=a").exists()
        assert eng.read_pq("s", "fact").count() == 2


class TestPartitionedCompact:
    def test_compact_preserves_hive_layout(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        df = spark.createDataFrame(
            [(i, "x" if i % 2 else "y", float(i)) for i in range(100)],
            "id long, part string, amt double")
        # fragment: many small files per partition
        eng.df_to_pq(df.repartition(8), "s", "fact", partition_by=["part"])
        before, after = eng.compact("s", "fact")

        final = table_path(tmp_path, "s", "fact")
        assert (final / "part=x").exists() and (final / "part=y").exists()
        assert after < before
        out = eng.read_pq("s", "fact")
        assert out.count() == 100
        # pruning still works: a partition filter reads one directory
        plan = (out.filter(F.col("part") == "x")
                ._jdf.queryExecution().executedPlan().toString())
        assert "part=y" not in plan

    def test_compact_partitioned_honors_target_files(self, spark, tmp_path):
        """An explicit file target above the partition-value count must
        split big partition values across multiple files (no
        one-task-per-value funnel)."""
        eng = Engine(spark, tmp_path)
        df = spark.createDataFrame(
            [(i, "only", float(i)) for i in range(10_000)],
            "id long, part string, amt double")
        eng.df_to_pq(df.repartition(6), "s", "big", partition_by=["part"])
        _, after = eng.compact("s", "big", target_files=4)
        assert after > 1                       # salted: not one giant file
        out = eng.read_pq("s", "big")
        assert out.count() == 10_000
        assert (table_path(tmp_path, "s", "big") / "part=only").exists()

    def test_compact_partitioned_rejects_cluster_by(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        df = spark.createDataFrame([(1, "a", 1.0)],
                                   "id long, part string, amt double")
        eng.df_to_pq(df, "s", "fact", partition_by=["part"])
        with pytest.raises(ValueError, match="hive-partitioned"):
            eng.compact("s", "fact", cluster_by="amt")
