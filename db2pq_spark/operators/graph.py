"""Distributed PageRank — integer-deterministic power iteration.

Web-crawl curation weights sources by link centrality (Common Crawl
publishes harmonic-centrality and PageRank rankings of its hosts and
uses them for seed prioritization; Fortunato & Flammini 2007 for the
estimator family). This module is the repo's general graph-centrality
operator: the classic damped power iteration, expressed relationally so
every step is one edge-relation join plus one destination-keyed
aggregate — the same distributed-iteration discipline as the hash-min
connected-components operator (:mod:`.components`), with a fixed
iteration count for a bounded, replayable plan.

Reference repo has no graph surface (ETL/sync only,
``/root/reference/README.md:1-17``); [extension] per the driver
charter.

Cross-engine determinism: ranks are int64 MICRO-UNITS of the uniform
start mass (``r₀ = 10⁶`` per node — PageRank scaled by N·10⁶). All
rank quantities are non-negative, so every division is a plain integer
floor division (Spark ``div``, DuckDB ``//`` — identical on
non-negatives), and every sum is an exact int64 aggregate: no float
enters the recurrence, so engines replay each other bit-for-bit with
no rounding escape hatch needed. Floor losses leak ≤1 unit of mass per
edge per iteration — deterministic, and irrelevant to the ranking use.

The recurrence (damping d = num/den, default 17/20 = 0.85):

    r'(v) = (10⁶ − (10⁶·num) div den)
          + (num · (Σ_{u→v} r(u) div outdeg(u) + dangling div N)) div den

with the dangling mass (nodes with no out-edges) redistributed
uniformly, as in the classic formulation.

Scale shape per iteration: one (rank ⋈ edges) join keyed on the source
node, one destination-keyed partial+final SUM, one 1-row dangling
aggregate broadcast back. The edge relation is the corpus-sized input;
ranks are node-sized. Nothing node- or edge-sized is ever collected —
the node count rides as a 1-row broadcast relation. The rank relation
is staged eagerly per step (the :mod:`.components` iteration
discipline — each rank state is referenced three times by the next
step, so an unchecked lineage re-derives the whole prefix 3^k times),
and the edge/degree relations once up front. Skewed in-degree (a hub
page) is an AQE skew-join case, not an operator redesign:
contributions are partially aggregated map-side before the hub's
partition sees them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db2pq_spark.staging import stage

__all__ = ["pagerank", "host_rank_weights", "extract_host"]

#: micro-unit start mass per node
_UNIT = 1_000_000

#: auto-degrade threshold for the broadcast-rank hints: past this many
#: nodes the rank state is no longer a safe broadcast build side (the
#: hard broadcast cap is 512 M rows / 8 GB; 2·10⁸ nodes × ~24 B of
#: (node, deg, ru) ≈ 5 GB leaves headroom for wide node keys), so the
#: hints are dropped and the planner's sort-merge is the honest
#: strategy. Checked against the MEASURED node count (base.count(), a
#: job the operator runs anyway).
_BROADCAST_NODE_CAP = 200_000_000


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    iterations: int = 5, damping: tuple[int, int] = (17, 20),
    nodes: DataFrame | None = None, node_col: str = "node",
    validate_nodes: bool = True,
) -> DataFrame:
    """(node, rank_units) after ``iterations`` damped power steps.

    ``edges`` is a directed edge relation (duplicate edges count as
    parallel edges — pre-``distinct`` if that is not wanted).
    ``nodes`` optionally supplies the full node universe (one column
    ``node_col``); nodes absent from ``edges`` are dangling and their
    mass redistributes uniformly. Defaults to the nodes present in
    the edge relation; must be a SUPERSET of edge endpoints, checked
    with one anti-join count unless ``validate_nodes=False`` (for
    callers whose construction guarantees it). ``damping`` is an
    exact rational num/den.

    The node-sized relations are broadcast-hinted where they meet the
    edge relation — the per-iteration rank⋈edges contribution join
    and the validation anti-join — so the corpus-sized edge relation
    is NEVER shuffled: without the hint the checkpointed rank side
    reports unknown statistics and the planner sort-merges,
    re-exchanging the edges EVERY iteration (measured: the static
    plan carried one ``Exchange hashpartitioning(_src)`` of the edge
    relation per step). Rank state is node-sized by construction (the
    crawl-scale design point: ~10⁷ hosts vs ~10¹⁰ pages). The hints
    are dropped when the measured node count exceeds
    ``_BROADCAST_NODE_CAP`` (the ≈512 M-row / 8 GB broadcast cap with
    headroom), so an over-cap graph falls back to the planner's
    shuffle strategies instead of OOMing the driver. (The degree
    attach needs no hint: its build side arrives through an
    aggregation exchange, so AQE sizes it from runtime statistics.)"""
    num, den = (int(damping[0]), int(damping[1]))
    if not 0 < num <= den:
        raise ValueError(f"damping {damping} must satisfy 0 < num <= den")
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    if nodes is None:
        node_rel = (e.select(F.col("_src").alias("node"))
                    .union(e.select(F.col("_dst").alias("node")))
                    .distinct())
    else:
        node_rel = nodes.select(F.col(node_col).alias("node")).distinct()
    # NOTE (r13, measured): pre-partitioning the edge relation by
    # _src buys nothing here — staging under AQE erases
    # outputPartitioning, and a persist()-based variant that does
    # preserve it measured slower and far noisier at bench scale
    # (memory pressure) than the plain stage. The per-iteration
    # rank side is node-sized and broadcast-eligible anyway.
    e = stage(e, eager=True)
    # degree attach: no manual hint needed here — outdeg arrives
    # through its own aggregation exchange, so AQE sees its ACTUAL
    # size at runtime and picks the broadcast join itself when it
    # fits (the manual hints below exist for the relations AQE cannot
    # size: checkpoint scans report unknown statistics). Dropping the
    # r13 hint also makes this join safe for over-cap node counts
    # before the count below has measured them.
    outdeg = e.groupBy(F.col("_src").alias("node")) \
        .agg(F.count("*").alias("deg"))
    base = stage(node_rel.join(outdeg, "node", "left")
                 .select("node",
                         F.coalesce(F.col("deg"), F.lit(0))
                         .cast("bigint").alias("deg")))
    # base is staged LAZILY (r14): the 1-row stats collect below is
    # sequenced strictly first among its consumers, so it
    # materializes the blocks inside its own job — one init job
    # instead of an eager-stage job plus the collect. N and the
    # initial dangling mass (Σ start mass over out-degree-0 nodes)
    # ride the same collect.
    stats = base.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.when(F.col("deg") == 0, _UNIT)), F.lit(0))
        .alias("dang0")).first()
    n_nodes, dang0 = int(stats["n"]), int(stats["dang0"])
    if n_nodes == 0:
        raise ValueError("pagerank: empty graph")
    # the broadcast-rank hints degrade once the MEASURED node count
    # exceeds the cap: an over-cap graph falls back to sort-merge
    bcast = n_nodes <= _BROADCAST_NODE_CAP
    if nodes is not None and validate_nodes:
        # an explicit universe that misses edge endpoints would
        # silently leak mass: contributions into absent destinations
        # vanish at the seed aggregate and absent sources never
        # contribute — validate (one anti-join count on the already
        # checkpointed edge relation) instead of mis-ranking.
        # r13: no `.distinct()` on the endpoint stream — it cost an
        # edge-sized exchange just to shrink an error-path count; the
        # anti-join against the (broadcast, node-sized) universe is
        # exchange-free on the raw stream, and the count now reports
        # stray endpoint OCCURRENCES (error path only). (Runs after
        # base.count() since r14 so the hint obeys the measured cap.)
        nr = node_rel.hint("broadcast") if bcast else node_rel
        stray = (e.select(F.col("_src").alias("node"))
                 .union(e.select(F.col("_dst").alias("node")))
                 .join(nr, "node", "left_anti")
                 .count())
        if stray:
            raise ValueError(
                f"pagerank: {stray} edge endpoint occurrence(s) missing"
                " from the explicit `nodes` relation — it must be a"
                " superset of all edge sources and destinations")
    teleport = _UNIT - (_UNIT * num) // den

    # r14 (VERDICT r13 item 2): the rank state carries the CURRENT
    # dangling sum as a column on every row, so the per-step dangling
    # aggregate is no longer a standalone broadcast sub-job
    # re-scanning the rank state:
    #  - the seed branch injects each node's share of it
    #    (`dang div N`) as its union contribution, so the node-keyed
    #    SUM itself produces `s + dang div N` — bit-identical integer
    #    adds, no 1-row cross join against a separately-aggregated
    #    dangling relation;
    #  - the NEXT dangling sum is aggregated from the SAME node-keyed
    #    exchange the new ranks come from (ReusedExchange — the
    #    edge-sized map work runs once) and attached to every row by
    #    one 1-row broadcast nested loop INSIDE the step job.
    # dang_0 piggybacks the base-relation count (one first(), no
    # extra job).
    r = base.select(
        "node", "deg", F.lit(_UNIT).cast("bigint").alias("ru"),
        F.lit(dang0).cast("bigint").alias("dang"))
    for _ in range(int(iterations)):
        # (r13) the per-step in-sum and the node⋈in-sum recombination
        # fold into ONE node-keyed aggregate: seed rows (one per node,
        # carrying deg and its dangling share) union the edge
        # contributions (deg NULL), so max(deg) recovers the degree
        # and sum(_c) equals the former
        # ``coalesce(SUM, 0) + dang div N`` exactly (integer adds
        # commute). Stray destinations outside the node universe —
        # possible only when an unvalidated explicit `nodes` violates
        # the superset contract — surface as max(deg) NULL groups and
        # are dropped, reproducing the former left join bit-for-bit.
        rside = r.where(F.col("deg") > 0).select("node", "deg", "ru")
        if bcast:
            # node-sized rank state builds the hash side; the edge
            # relation streams through unshuffled (guide §3.1 — the
            # unhinted plan sort-merged, shuffling the edges per step)
            rside = rside.hint("broadcast")
        contrib = (rside
                   .join(e, F.col("node") == F.col("_src"))
                   .select(F.col("_dst").alias("node"),
                           F.lit(None).cast("bigint").alias("deg"),
                           F.expr("ru div deg").alias("_c")))
        seeds = r.select("node", "deg",
                         F.expr(f"dang div {n_nodes}").alias("_c"))
        upd = (contrib.union(seeds)
               .groupBy("node")
               .agg(F.max("deg").alias("deg"), F.sum("_c").alias("_s"))
               .where(F.col("deg").isNotNull())
               .select("node", "deg",
                       (F.lit(teleport).cast("bigint")
                        + F.expr(f"({num} * coalesce(_s, 0)) div {den}")
                        .cast("bigint")).alias("ru")))
        ndang = upd.where(F.col("deg") == 0) \
            .agg(F.coalesce(F.sum("ru"), F.lit(0)).cast("bigint")
                 .alias("dang"))
        # eager: cuts the per-step lineage before the next iteration
        r = stage(upd.crossJoin(F.broadcast(ndang)), eager=True)
    return r.select("node", F.col("ru").alias("rank_units"))


def extract_host(url) -> "F.Column":
    """Lowercased host of a URL column: the authority between the
    scheme separator and the first ``/ : ? #``, userinfo stripped —
    a plain regexp, no UDF. Scheme-less inputs yield ''."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(
        c, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@]*@)?([^/:?#]+)", 1))


def host_rank_weights(
    docs: DataFrame, edges: DataFrame,
    host_col: str = "host", url_col: str | None = None,
    doc_id_col: str = "doc_id",
    src_col: str = "src_host", dst_col: str = "dst_host",
    iterations: int = 5, damping: tuple[int, int] = (17, 20),
) -> DataFrame:
    """Per-document curation weights from host-graph centrality — the
    Common Crawl practice: rank HOSTS by PageRank over the host link
    graph, then weight each document by its host's rank share.

    ``docs`` carries one row per document with its host (``host_col``,
    or extracted from ``url_col`` via :func:`extract_host` when
    given); ``edges`` is the host→host link relation (build it from
    per-document outlinks upstream — explode links, extract target
    host; duplicate pairs count as parallel edges, i.e. link
    multiplicity weights the edge). The PageRank node universe is the
    union of document hosts and edge endpoints, so hosts that only
    ever appear as link targets still receive mass and hosts with no
    links are dangling — :func:`pagerank`'s superset validation is
    satisfied by construction.

    Returns ``(doc_id, host, host_rank_units, host_doc_count,
    weight_units)`` with ``weight_units = host_rank_units div
    host_doc_count`` — a host's rank mass splits evenly across its
    documents in exact integer floor units, so
    ``sum(weight_units) <= sum(host_rank_units over hosts with docs)``
    with ≤ ``host_doc_count − 1`` units of floor loss per host
    (pinned by test). Scale: the host relation is tiny next to the
    corpus (Common Crawl: ~10⁷ hosts vs ~10¹⁰ pages), so the
    rank⋈count relation broadcast-joins back onto documents; the
    corpus itself never shuffles."""
    h = (extract_host(url_col) if url_col is not None
         else F.col(host_col))
    d = docs.select(F.col(doc_id_col).alias("doc_id"),
                    h.alias("host"))
    e = edges.select(F.col(src_col).alias("_src"),
                     F.col(dst_col).alias("_dst"))
    nodes = (d.select(F.col("host").alias("node"))
             .union(e.select(F.col("_src").alias("node")))
             .union(e.select(F.col("_dst").alias("node")))
             .distinct())
    # the node universe is a superset of endpoints by construction —
    # skip pagerank's anti-join validation job
    ranks = pagerank(e, src="_src", dst="_dst",
                     iterations=iterations, damping=damping,
                     nodes=nodes, validate_nodes=False)
    counts = d.groupBy("host").agg(F.count("*").alias("host_doc_count"))
    hostw = (counts.join(ranks, counts["host"] == ranks["node"])
             .select("host",
                     F.col("rank_units").alias("host_rank_units"),
                     "host_doc_count",
                     F.expr("rank_units div host_doc_count")
                     .cast("bigint").alias("weight_units")))
    return d.join(F.broadcast(hostw), "host") \
        .select("doc_id", "host", "host_rank_units",
                "host_doc_count", "weight_units")
