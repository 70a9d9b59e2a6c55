"""Integer-deterministic PageRank (operators/graph.py)."""
from __future__ import annotations

import pytest

from db2pq_spark.operators.graph import pagerank


def _pr(spark, edges, **kw):
    e = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank_units"]
            for r in pagerank(e, **kw).collect()}


class TestPagerank:
    def test_hub_outranks_spokes(self, spark):
        # 1,2,3 all link to 4; 4 links back to 1
        got = _pr(spark, [(1, 4), (2, 4), (3, 4), (4, 1)])
        assert got[4] == max(got.values())
        assert got[2] == got[3]          # symmetric spokes tie
        assert got[1] > got[2]           # 1 gets 4's back-link

    def test_symmetric_pair_ties(self, spark):
        got = _pr(spark, [(1, 2), (2, 1)])
        assert got[1] == got[2]

    def test_dangling_mass_redistributes(self, spark):
        # 2 is dangling (no out-edges): its mass must flow back into
        # the graph rather than vanish — with damping 17/20 and 2
        # nodes, total mass stays within floor-loss of 2 * unit
        got = _pr(spark, [(1, 2)])
        total = sum(got.values())
        assert 2_000_000 - 50 <= total <= 2_000_000

    def test_isolated_node_via_nodes_param(self, spark):
        e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        nodes = spark.createDataFrame([(1,), (2,), (9,)], "node long")
        got = {r["node"]: r["rank_units"]
               for r in pagerank(e, nodes=nodes).collect()}
        assert set(got) == {1, 2, 9}
        assert got[9] < got[1]           # 9 only ever gets teleport+share

    def test_nodes_missing_endpoint_raises(self, spark):
        # a `nodes` universe that omits an edge endpoint would leak
        # mass silently — must refuse up front
        e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        nodes = spark.createDataFrame([(1,), (2,)], "node long")
        with pytest.raises(ValueError, match="superset"):
            pagerank(e, nodes=nodes)

    def test_zero_iterations_is_uniform(self, spark):
        got = _pr(spark, [(1, 2), (2, 3)], iterations=0)
        assert set(got.values()) == {1_000_000}

    def test_bad_damping_raises(self, spark):
        e = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="damping"):
            pagerank(e, damping=(21, 20))

    def test_empty_graph_raises(self, spark):
        e = spark.createDataFrame([], "src long, dst long")
        with pytest.raises(ValueError, match="empty graph"):
            pagerank(e)

    def test_parallel_edges_double_contribution(self, spark):
        # duplicate edge 1->2 doubles 2's share of 1's mass relative
        # to 3's single edge
        got = _pr(spark, [(1, 2), (1, 2), (1, 3), (2, 1), (3, 1)])
        assert got[2] > got[3]


class TestHostRankWeights:
    def _fix(self, spark):
        docs = spark.createDataFrame(
            [(1, "a.com"), (2, "a.com"), (3, "a.com"),
             (4, "b.org"), (5, "c.net")],
            "doc_id long, host string")
        # a -> b twice (parallel edges), b -> c, c -> a
        edges = spark.createDataFrame(
            [("a.com", "b.org"), ("a.com", "b.org"),
             ("b.org", "c.net"), ("c.net", "a.com")],
            "src_host string, dst_host string")
        return docs, edges

    def test_weight_split_preserves_host_mass(self, spark):
        from db2pq_spark.operators.graph import (host_rank_weights,
                                                 pagerank)

        docs, edges = self._fix(spark)
        got = {r["doc_id"]: r for r in
               host_rank_weights(docs, edges).collect()}
        assert set(got) == {1, 2, 3, 4, 5}
        ranks = {r["node"]: r["rank_units"] for r in
                 pagerank(edges, src="src_host",
                          dst="dst_host").collect()}
        for d, r in got.items():
            assert r["host_rank_units"] == ranks[r["host"]]
            assert r["weight_units"] == ranks[r["host"]] \
                // r["host_doc_count"]
        # per host: sum of doc weights = rank mass minus floor loss
        a_docs = [got[d] for d in (1, 2, 3)]
        assert all(r["host_doc_count"] == 3 for r in a_docs)
        s = sum(r["weight_units"] for r in a_docs)
        assert ranks["a.com"] - 3 < s <= ranks["a.com"]

    def test_target_only_host_gets_mass_not_docs(self, spark):
        from db2pq_spark.operators.graph import host_rank_weights

        docs = spark.createDataFrame([(1, "a.com")],
                                     "doc_id long, host string")
        edges = spark.createDataFrame([("a.com", "ghost.io")],
                                      "src_host string, dst_host string")
        out = host_rank_weights(docs, edges).collect()
        # ghost.io ranks (it is in the node universe) but emits no
        # document rows — docs drive the output
        assert [r["doc_id"] for r in out] == [1]

    def test_url_extraction(self, spark):
        from db2pq_spark.operators.graph import host_rank_weights

        docs = spark.createDataFrame(
            [(1, "https://A.com/x?y=1"), (2, "http://user@a.com:8080/")],
            "doc_id long, url string")
        edges = spark.createDataFrame([("a.com", "a.com")],
                                      "src_host string, dst_host string")
        got = {r["doc_id"]: r["host"] for r in
               host_rank_weights(docs, edges,
                                 url_col="url").collect()}
        assert got == {1: "a.com", 2: "a.com"}


class TestExtractHost:
    def test_shapes(self, spark):
        from db2pq_spark.operators.graph import extract_host

        rows = [("https://Example.COM/path",),
                ("http://u:p@h.net:443/x",),
                ("ftp://files.org",),
                ("no-scheme.com/path",),
                (None,)]
        df = spark.createDataFrame(rows, "url string")
        got = [r[0] for r in
               df.select(extract_host("url")).collect()]
        assert got == ["example.com", "h.net", "files.org", "", None]


class TestBroadcastAutoDegrade:
    """r14 (VERDICT r13 item 8): the broadcast-rank hints must degrade
    automatically when the MEASURED node count exceeds the cap — a
    page-level graph would otherwise OOM the driver building the hash
    relation. With the cap patched below the graph's node count, the
    per-step contribution join must plan WITHOUT the broadcast hint
    (sort-merge or AQE's own choice) and the ranks must be unchanged
    bit-for-bit."""

    EDGES = [(1, 4), (2, 4), (3, 4), (4, 1), (5, 1), (4, 5)]

    @staticmethod
    def _step_plans(monkeypatch):
        """Spy on DataFrame.localCheckpoint: the per-step rank state
        is checkpointed eagerly, so its AQE-final executed plan is
        available right after the call — the only window where the
        iteration's join strategy is visible (the returned DataFrame
        is just a scan of the checkpoint)."""
        try:  # Spark 4: the concrete class overrides the ABC's method
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pragma: no cover — older Spark
            from pyspark.sql import DataFrame
        plans: list[str] = []
        real = DataFrame.localCheckpoint

        def spy(self, eager=True, **kw):
            out = real(self, eager=eager, **kw)
            if eager:
                plans.append(
                    self._jdf.queryExecution().executedPlan().toString())
            return out

        monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
        return plans

    def test_over_cap_degrades_and_result_unchanged(self, spark,
                                                    monkeypatch):
        from db2pq_spark.operators import graph as G
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        want = {r["node"]: r["rank_units"]
                for r in G.pagerank(e, iterations=3).collect()}

        monkeypatch.setattr(G, "_BROADCAST_NODE_CAP", 2)
        # disable the planner's own auto-broadcast so the assertion
        # sees what the CAP decided, not what AQE's runtime stats
        # would happily re-broadcast for this tiny fixture (at real
        # over-cap scale those stats would exceed the threshold too)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        plans = self._step_plans(monkeypatch)
        try:
            got = {r["node"]: r["rank_units"]
                   for r in G.pagerank(e, iterations=3).collect()}
            assert got == want
            # the hint is gone: the per-step contribution join must
            # not be a broadcast-hash join of the rank state — the
            # planner falls back to its shuffle strategies
            steps = [p for p in plans if "div" in p]
            assert steps, "no step plans captured"
            for p in steps:
                assert "BroadcastHashJoin" not in \
                    p.split("== Initial Plan ==")[0]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold")

    def test_step_reuses_node_keyed_exchange(self, spark, monkeypatch):
        # the next dangling sum is aggregated off the SAME node-keyed
        # exchange the new ranks come from — the edge-sized contribution
        # join runs once per step only while that exchange is reused
        from db2pq_spark.operators import graph as G
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        plans = self._step_plans(monkeypatch)
        G.pagerank(e, iterations=2).collect()
        steps = [p for p in plans if "div" in p]
        assert steps, "no step plans captured"
        for p in steps:
            assert "ReusedExchange" in p.split("== Initial Plan ==")[0]

    def test_under_cap_keeps_broadcast(self, spark, monkeypatch):
        from db2pq_spark.operators import graph as G
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        plans = self._step_plans(monkeypatch)
        G.pagerank(e, iterations=2).collect()
        steps = [p for p in plans if "div" in p]
        assert steps, "no step plans captured"
        for p in steps:
            assert "BroadcastHashJoin" in p.split("== Initial Plan ==")[0]
