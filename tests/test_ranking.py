"""Two-stage distributed global rank / prefix sum
(operators/ranking.py): exact parity with the single-window semantics,
under skew, ties-adjacent keys, and empty input."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db2pq_spark.operators import ranking
from db2pq_spark.operators.ranking import (
    global_rank_with_total,
    ntile_expr,
    with_global_prefix_sum,
)
from db2pq_spark.staging import stage


class TestGlobalRank:
    def test_dense_and_order_correct_under_skew(self, spark):
        df = spark.createDataFrame(
            [(i % 7, i) for i in range(1000)], "k long, uid long")
        ranked, total = global_rank_with_total(
            df, [F.desc("k"), F.asc("uid")], "r")
        rows = sorted((r["r"], r["k"], r["uid"]) for r in ranked.collect())
        assert total == 1000
        assert [r[0] for r in rows] == list(range(1, 1001))
        expected = sorted(((-(i % 7), i) for i in range(1000)))
        assert [(-(r[1]), r[2]) for r in rows] == expected

    def test_empty_input(self, spark):
        df = spark.createDataFrame([], "k long, uid long")
        ranked, total = global_rank_with_total(df, [F.asc("uid")])
        assert total == 0 and ranked.count() == 0

    def test_single_row(self, spark):
        df = spark.createDataFrame([(5, 1)], "k long, uid long")
        ranked, total = global_rank_with_total(df, [F.asc("uid")], "r")
        assert total == 1
        assert ranked.first()["r"] == 1


class TestStageFirstConsumer:
    """``_stage`` is lazy; its pinning guarantee holds only because the
    sizes/offsets collect is the staged relation's first consumer. So by
    the time a two-stage call returns — before anyone reads the ranked
    output — the staged blocks must already be materialized."""

    @pytest.mark.parametrize("call", [
        lambda df: global_rank_with_total(df, [F.asc("k"), F.asc("uid")])[0],
        lambda df: with_global_prefix_sum(df, "k", [F.asc("uid")]),
    ], ids=["rank", "prefix_sum"])
    def test_staged_blocks_exist_when_call_returns(self, spark, monkeypatch,
                                                   call):
        staged = []

        def spy(df, eager=False):
            staged.append(stage(df, eager=eager))
            return staged[-1]

        monkeypatch.setattr(ranking, "stage", spy)
        call(spark.createDataFrame([(i % 7, i) for i in range(500)],
                                   "k long, uid long"))
        assert len(staged) == 1, "the two-stage path must stage its input"
        rdd = staged[0]._jdf.queryExecution().analyzed().rdd()
        assert rdd.isCheckpointed()
        sc = spark.sparkContext._jsc.sc()
        cached = {i.id(): i.numCachedPartitions()
                  for i in sc.getRDDStorageInfo()}
        assert cached.get(rdd.id()) == rdd.getNumPartitions()


class TestPrefixSum:
    def test_matches_sequential_fold(self, spark):
        df = spark.createDataFrame(
            [(i % 7, i) for i in range(1000)], "sz long, uid long")
        ps = with_global_prefix_sum(df, "sz", [F.asc("uid")], "off")
        got = {r["uid"]: r["off"] for r in ps.collect()}
        acc = 0
        for i in range(1000):
            assert got[i] == acc
            acc += i % 7


class TestPrefixSumTypes:
    def test_double_sizes_are_not_truncated(self, spark):
        """Fractional sizes must accumulate exactly like the grouped
        window path (no per-row bigint truncation)."""
        df = spark.createDataFrame(
            [(0.75, i) for i in range(8)], "sz double, uid long")
        ps = with_global_prefix_sum(df, "sz", [F.asc("uid")], "off")
        got = {r["uid"]: r["off"] for r in ps.collect()}
        assert got == {i: 0.75 * i for i in range(8)}

    def test_pack_offsets_grouped_vs_global_agree_on_doubles(self, spark):
        from db2pq_spark.operators.chunking import pack_offsets

        df = spark.createDataFrame(
            [(i, "g", 2.5) for i in range(40)],
            "seq long, g string, sz double")
        a = {r["seq"]: r["bin"] for r in
             pack_offsets(df, "sz", "seq", budget=10).collect()}
        b = {r["seq"]: r["bin"] for r in
             pack_offsets(df, "sz", "seq", budget=10,
                          group_col="g").collect()}
        assert a == b


class TestInterleavedResults:
    def test_two_unmaterialized_ranks_both_exact(self, spark):
        """Two rank results built before either is collected must both
        be exact — the checkpoint pins each call's partitioning, so a
        later call can no longer invalidate an earlier result's
        driver-collected offsets (pre-fix failure mode: duplicate or
        gapped ranks after recompute re-sampled range bounds)."""
        from db2pq_spark.operators.ranking import with_global_rank

        a = spark.createDataFrame(
            [(i % 13, i) for i in range(2000)], "k long, uid long")
        b = spark.createDataFrame(
            [(i % 5, i) for i in range(1500)], "k long, uid long")
        ra = with_global_rank(a, [F.asc("k"), F.asc("uid")], "r")
        rb = with_global_rank(b, [F.desc("k"), F.asc("uid")], "r")
        # collect in reverse build order, then re-collect the first
        got_b = sorted(r["r"] for r in rb.collect())
        got_a = sorted(r["r"] for r in ra.collect())
        got_a2 = sorted(r["r"] for r in ra.collect())
        assert got_a == list(range(1, 2001))
        assert got_b == list(range(1, 1501))
        assert got_a2 == got_a


class TestThreadConcurrency:
    def test_concurrent_rank_calls_are_exact(self, spark):
        """Two threads ranking different inputs simultaneously — the
        checkpoint-pinned design shares no module state, so neither
        call can disturb the other's partitioning or offsets."""
        import threading

        from db2pq_spark.operators.ranking import with_global_rank

        outs: dict[int, list[int]] = {}
        errs: list[Exception] = []

        def work(tag: int, n: int, mod: int) -> None:
            try:
                df = spark.createDataFrame(
                    [(i % mod, i) for i in range(n)], "k long, uid long")
                ranked = with_global_rank(
                    df, [F.asc("k"), F.asc("uid")], "r")
                outs[tag] = sorted(r["r"] for r in ranked.collect())
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        threads = [threading.Thread(target=work, args=(0, 1200, 11)),
                   threading.Thread(target=work, args=(1, 900, 7))]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
        assert not errs, errs
        assert outs[0] == list(range(1, 1201))
        assert outs[1] == list(range(1, 901))


class TestBoundedFastPath:
    def test_bounded_rank_matches_two_stage(self, spark):
        from db2pq_spark.operators.ranking import with_global_rank

        df = spark.createDataFrame(
            [(i % 7, i) for i in range(200)], "k long, uid long")
        order = [F.desc("k"), F.asc("uid")]
        fast = {(r["k"], r["uid"]): r["r"]
                for r in with_global_rank(df, order, "r",
                                          bounded=200).collect()}
        slow = {(r["k"], r["uid"]): r["r"]
                for r in with_global_rank(df, order, "r").collect()}
        assert fast == slow

    def test_bounded_skips_range_exchange(self, spark):
        from db2pq_spark.operators.ranking import with_global_rank

        df = spark.createDataFrame([(i,) for i in range(50)], "uid long")
        plan = (with_global_rank(df, [F.asc("uid")], "r", bounded=50)
                ._jdf.queryExecution().executedPlan().toString())
        assert "rangepartitioning" not in plan.lower()

    def test_bounded_total_counts_actual_rows(self, spark):
        df = spark.createDataFrame([(i,) for i in range(30)], "uid long")
        ranked, total = global_rank_with_total(
            df, [F.asc("uid")], "r", bounded=1000)
        assert total == 30
        assert sorted(r["r"] for r in ranked.collect()) == \
            list(range(1, 31))

    def test_bound_exceeded_raises(self, spark):
        # a wrong bound must not silently funnel a data-sized input
        # through one partition
        import pytest

        df = spark.createDataFrame([(i,) for i in range(30)], "uid long")
        with pytest.raises(ValueError, match="bounded=10"):
            global_rank_with_total(df, [F.asc("uid")], "r", bounded=10)

    def test_windowexec_warning_suppressed(self, spark):
        # the bounded fast path's coalesce(1) window is the intended
        # plan, but WindowExec's single-partition warning pollutes
        # bench/driver logs; get_spark raises that class's threshold
        jvm = spark.sparkContext._jvm
        lvl = jvm.org.apache.logging.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec").getLevel()
        assert str(lvl) == "ERROR"

    def test_bounded_prefix_sum_matches(self, spark):
        df = spark.createDataFrame(
            [(i % 7, i) for i in range(200)], "sz long, uid long")
        fast = {r["uid"]: r["off"] for r in with_global_prefix_sum(
            df, "sz", [F.asc("uid")], "off", bounded=200).collect()}
        slow = {r["uid"]: r["off"] for r in with_global_prefix_sum(
            df, "sz", [F.asc("uid")], "off").collect()}
        assert fast == slow


class TestNtileExpr:
    def test_matches_sql_ntile(self, spark):
        """ntile_expr over a global rank must be row-for-row equal to
        the window NTILE for sizes that do and don't divide evenly."""
        for n, k in ((100, 10), (103, 10), (7, 10), (10, 10)):
            df = spark.createDataFrame(
                [(i,) for i in range(n)], "uid long")
            ranked, total = global_rank_with_total(
                df, [F.asc("uid")], "r")
            got = {r["uid"]: r["t"] for r in ranked.select(
                "uid", ntile_expr(F.col("r"), total, k).alias("t"))
                .collect()}
            want = {r["uid"]: r["t"] for r in spark.sql(
                f"SELECT uid, NTILE({k}) OVER (ORDER BY uid) AS t "
                f"FROM VALUES {','.join(f'({i})' for i in range(n))} "
                "AS v(uid)").collect()}
            assert got == want, (n, k)
