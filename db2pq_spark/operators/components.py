"""Connected components over a pair/edge relation (hash-min iteration).

The dedup family (``operators/dedup.py``) emits duplicate *pairs*
(id1, id2); a 100 TB dedup pipeline needs duplicate *clusters* — one
canonical id per group of transitively-linked documents, so that
"keep one per cluster" is a single groupBy. The reference has no graph
operator (it has no join operator at all, SURVEY.md §2.5); this is an
[extension] charter component.

Algorithm: hash-min label propagation. Every node starts as its own
component (label = own id); each round, every node adopts the minimum
label among itself and its neighbors. Converges in O(graph diameter)
rounds — near-duplicate graphs are unions of small dense clusters, so
diameter (and the round count) stays small even at corpus scale.

Scale design:

- Each round is one shuffle join (edges ⋈ labels on the node id) plus
  one groupBy-min — both partition by the same key, and AQE coalesces
  the tiny tail rounds.
- Eager staging (:func:`..staging.stage`) after every round
  truncates the lineage: without it the plan doubles each iteration
  and the job dies on driver-side plan explosion long before the data
  is large.
- Convergence is detected with a LIMIT-1 probe on changed labels (an
  existence check, not a full count — short-circuits on first change).
- The edge list is symmetrized once up front; oversized-component
  blowups are bounded by ``max_iterations`` (a safety valve, not a
  correctness knob — the result after k rounds is still a valid
  refinement, labels just may not have fully flooded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db2pq_spark.staging import stage


def _driver_union_find(spark, a_vals, b_vals,
                       id_type: str) -> DataFrame:
    """Exact min-label components for a SMALL collected edge list —
    path-compressed union-find, one pass, no iteration jobs.

    ``a_vals``/``b_vals`` are the Arrow-collected endpoint columns
    (numpy arrays / pandas object arrays), iterated pairwise WITHOUT
    materializing a tuple list first: an earlier shape built
    ``list(zip(col.tolist(), ...))`` — ~2 M tuples plus ~4 M boxed ints
    at the 1 M-edge bound, a driver-side spike ~3× the columnar data it
    was collected as. The only retained Python objects now are the
    union-find dict's entries. ``int()``/``item()`` normalization
    happens once per SURVIVING node at emit time so createDataFrame
    sees plain Python values, not numpy scalars."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(a_vals, b_vals):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so the root IS the canonical min label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
        # ensure both endpoints are tracked (roots map to themselves)
        parent.setdefault(a, find(a))
        parent.setdefault(b, find(b))

    def _py(x):
        return x.item() if hasattr(x, "item") else x

    rows = [(_py(x), _py(find(x))) for x in parent]
    return spark.createDataFrame(rows, f"id {id_type}, comp {id_type}")


#: edge counts at or below this are collected and solved driver-side —
#: one bounded fold instead of O(diameter) iteration rounds, each of
#: which costs a checkpoint job plus a convergence probe. The collect
#: goes through Arrow (two int64 columns ≈ 32 MB at the bound; Python
#: tuples would be ~10× that). Near-dup pair relations are
#: threshold-bounded and usually tiny relative to the corpus, but NOT
#: guaranteed small at 100 TB — above the bound the distributed
#: hash-min iteration runs.
SMALL_GRAPH_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iterations: int = 25,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Return (id, comp): each node labeled with the minimum id
    reachable from it (the canonical cluster representative).

    ``edges`` is an undirected pair relation; direction and duplicate
    pairs are irrelevant (symmetrized + deduped internally). Nodes with
    no edges are not emitted — union singletons back in downstream if
    "every doc" semantics are needed.

    Graphs with ≤ ``small_graph_edges`` distinct edges are solved with
    a driver-side union-find (exact, identical labels) — the edge count
    is known anyway from the materialized symmetrized relation, and the
    collect is bounded by the threshold; pass ``small_graph_edges=0``
    to force the distributed iteration.
    """
    half = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = half.union(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    e = stage(e, eager=True)

    if small_graph_edges and e.count() <= 2 * small_graph_edges:
        # Arrow-backed collect: columnar transfer, no per-row Row
        # objects — the memory shape the SMALL_GRAPH_EDGES bound is
        # sized for; the columns are handed over as-is (no tolist/zip
        # list materialization — see _driver_union_find)
        pdf = e.toPandas()
        return _driver_union_find(edges.sparkSession,
                                  pdf["a"].to_numpy(),
                                  pdf["b"].to_numpy(),
                                  dict(e.dtypes)["a"])

    labels = stage(
        e.select(F.col("a").alias("id")).distinct()
        .withColumn("comp", F.col("id")),
        eager=True,
    )

    for _ in range(max_iterations):
        msgs = (
            e.join(labels.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"), "comp")
        )
        new_labels = stage(
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp")),
            eager=True,
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("comp", "old_comp"), "id")
            .filter(F.col("comp") != F.col("old_comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def dedup_clusters(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iterations: int = 25,
) -> DataFrame:
    """Cluster duplicate pairs into (id, comp) groups; ``comp`` is the
    minimum member id — the document to keep under keep-first policy."""
    return connected_components(pairs, id1, id2, max_iterations)


def cluster_representatives(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str,
    quality_col: str,
    id1: str = "id1",
    id2: str = "id2",
    max_iterations: int = 25,
) -> DataFrame:
    """Keep-BEST-per-cluster canonicalization: cluster the duplicate
    ``pairs`` (:func:`dedup_clusters`), join each member's quality
    score, and pick the argmax-quality member per cluster with a
    deterministic tiebreak (higher ``quality_col``, then lower id) —
    the production alternative to keep-first dedup, where "first" is
    an accident of ids but "best" is a real signal (longest, highest
    quality-classifier score, freshest crawl…).

    Returns ``(comp, rep_id, rep_quality, n_members)`` — one row per
    duplicate cluster. Documents in no pair are their own trivial
    cluster and are NOT emitted (they need no canonicalization);
    filter the corpus with an anti join on (member ids − rep ids) to
    materialize the deduplicated keep-set.

    ``quality`` is LEFT-joined: members with no quality row still
    count toward ``n_members`` and a cluster none of whose members
    has a quality row is still emitted (rep = lowest id,
    ``rep_quality`` null) — scored members always outrank unscored
    ones. Ids must be numeric (the single-aggregate argmax negates
    them for the lower-id tiebreak); a non-numeric id column raises.

    Scale shape: components are the iterative hash-min propagation
    (driver-bounded union-find below 1 M edges, else the distributed
    fixpoint); the quality join is id-keyed; the per-cluster argmax is
    one ``max_by``-style aggregate (no window, no sort) over the
    cluster-membership relation, which is pair-bounded — never
    corpus-sized."""
    members = dedup_clusters(pairs, id1, id2, max_iterations)
    id_type = dict(members.dtypes)["id"]
    if id_type not in ("tinyint", "smallint", "int", "bigint",
                       "float", "double") \
            and not id_type.startswith("decimal"):
        raise TypeError(
            f"cluster_representatives needs a numeric id column for "
            f"the argmax tiebreak (got {id_type!r}); map string ids "
            "to longs (e.g. xxhash64) upstream")
    q = quality.select(F.col(id_col).alias("id"),
                       F.col(quality_col).alias("_q"))
    scored = members.join(q, "id", "left")
    # argmax via max(struct(has_q, quality, -id)): deterministic, one
    # aggregate, no per-cluster sort. has_q first so any scored member
    # beats every unscored one (struct ordering ranks null fields
    # lowest, but an explicit flag keeps the intent testable); -id
    # makes ties prefer LOWER id while keeping a single max() ordering.
    best = F.max(F.struct(F.col("_q").isNotNull().alias("has_q"),
                          F.col("_q").alias("q"),
                          (-F.col("id")).alias("neg_id")))
    return (scored.groupBy("comp")
            .agg(F.count("*").cast("bigint").alias("n_members"),
                 best.alias("_b"))
            .select("comp",
                    (-F.col("_b.neg_id")).alias("rep_id"),
                    F.col("_b.q").alias("rep_quality"),
                    "n_members"))


def propagate_labels(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
    src: str = "id1",
    dst: str = "id2",
) -> DataFrame:
    """Metadata repair across duplicate clusters — majority-vote label
    propagation: rows connected by ``pairs`` (near-dup edges from any
    of the dedup screens) form components; each component's rows all
    receive the component's most common label (ties to the
    lexicographically/numerically smallest — a total order, so the
    vote is deterministic). The standard fix for per-copy metadata
    noise (language-ID flips on mirrored pages, source tags on
    re-crawls): the duplicate structure carries more signal than any
    single row's tag.

    Returns ``(id, comp, label, label_repaired)`` for rows that belong
    to a component (singletons keep their label by definition — union
    them back downstream if "every row" semantics are needed).

    Shape: :func:`connected_components` (hash-min iteration or the
    bounded union-find fast path), one id-keyed label join, one
    (comp, label)-keyed count, one comp-keyed argmax via a
    min-of-struct aggregate (map-side combined; no window), one comp
    broadcast-friendly join back."""
    comp = connected_components(pairs, src, dst)
    labeled = (comp.withColumnRenamed("id", "_cid")
               .join(df.select(F.col(id_col).alias("_cid"),
                               F.col(label_col).alias("_lab")),
                     "_cid"))
    votes = labeled.groupBy("comp", "_lab").agg(
        F.count("*").alias("_cnt"))
    winner = (votes.groupBy("comp")
              .agg(F.min(F.struct((-F.col("_cnt")).alias("_nc"),
                                  F.col("_lab").alias("_l")))
                   .alias("_w"))
              .select("comp", F.col("_w._l").alias("label_repaired")))
    return (labeled.join(winner, "comp")
            .select(F.col("_cid").alias("id"), "comp",
                    F.col("_lab").alias("label"), "label_repaired"))
