"""Similarity search over embedding columns (``array<float>``).

[extension — not in the reference] Two paths:

- :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set, score every corpus vector with JVM-side higher-order functions
  (``zip_with`` + ``aggregate`` fold — no Python in the loop), rank per
  query. The right baseline whenever |queries| × |corpus| work fits the
  cluster; the corpus side stays partition-parallel and never collects.
- :func:`lsh_bucket_topk` — the scale path: random-hyperplane (SimHash)
  LSH signatures bucket the corpus; candidates come from bucket
  equality joins, then exact re-rank. Sub-linear candidate generation
  at the cost of recall (probes = more signature permutations).

Determinism: hyperplanes derive from a seeded ``xxhash64`` of
(dimension, plane) — no RNG state, reproducible across runs/engines.
"""

from __future__ import annotations

from functools import reduce
from itertools import combinations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from db2pq_spark.staging import stage


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float arrays, accumulated in
    double. Left-to-right fold → bit-stable, engine-comparable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_null_safe(a: Column, b: Column) -> Column:
    """:func:`cosine`, but NULL when either vector has zero norm —
    under ANSI mode (the Spark 4 default) the plain division raises
    DIVIDE_BY_ZERO at runtime, and under legacy mode it yields NaN,
    which sorts ABOVE every double in descending order (a silent
    ranking poison). Callers that rank by similarity filter the NULLs
    instead (nulls sort last under ``desc`` anyway)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    Plan shape: broadcast(queries) nested-loop join corpus → score →
    window rank per query. The corpus never shuffles for the join; the
    only shuffle is the per-query ranking, keyed on query id.
    ``round_digits`` stabilizes rank ties for cross-engine comparison.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos_raw"),
        )
    )
    cos = (F.round("cos_raw", round_digits) if round_digits is not None
           else F.col("cos_raw"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int | None = 4,
    include_unlabeled: bool = True,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    ``k`` most-similar corpus vectors carrying a DIFFERENT label — the
    "looks like a positive but isn't" set dense-retriever training
    pipelines mine (DPR, Karpukhin et al. 2020 §3.2; the same-label
    vectors are the positives and must be excluded, not just the query
    itself).

    NULL labels follow IS DISTINCT FROM semantics: a NULL-labeled
    corpus row counts as a candidate negative for every labeled query
    (and a NULL-labeled query treats every labeled corpus row as a
    negative) — only NULL-vs-NULL pairs are excluded. If unknown-label
    corpus rows may in fact be unjudged positives (the usual caveat in
    retrieval mining), pass ``include_unlabeled=False`` to drop them
    from the candidate set before the join.

    Plan shape is :func:`cosine_topk`'s: the tiny query set (vectors +
    labels) broadcasts into a nested-loop join against the corpus with
    the label-mismatch predicate applied AT the join (so excluded
    candidates never reach scoring), then one query-keyed window rank.
    The corpus never shuffles for the join. [extension — the reference
    has no similarity surface; driver charter]"""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"),
                       F.col(label_col).alias("_qlab"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec"),
                      F.col(label_col).alias("_clab"))
    if not include_unlabeled:
        c = c.filter(F.col("_clab").isNotNull())
    scored = (
        c.join(F.broadcast(q),
               (F.col("query_id") != F.col("neighbor_id"))
               & ~F.col("_qlab").eqNullSafe(F.col("_clab")))
        .select("query_id", "neighbor_id",
                F.col("_clab").alias("neg_label"),
                cosine(F.col("qvec"), F.col("cvec")).alias("cos_raw"))
    )
    cos = (F.round("cos_raw", round_digits) if round_digits is not None
           else F.col("cos_raw"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"),
                                          F.asc("neighbor_id"))
    return (scored.select("query_id", "neighbor_id", "neg_label",
                          cos.alias("cos"))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k))


#: (num_planes, dim, seed) -> list of ±1.0 plane vectors; planes are
#: tiny (planes × dim floats) and deterministic, so a process-lifetime
#: cache is safe.
_PLANE_CACHE: dict[tuple[int, int, int], list[list[float]]] = {}


def rademacher_planes(spark, num_planes: int, dim: int,
                      seed: int = 0) -> list[list[float]]:
    """Deterministic Rademacher hyperplanes: sign of
    ``xxhash64(dim_index, plane_index + seed·100003) & 1``.

    Evaluated ONCE per (planes, dim, seed) via a tiny Spark job (so the
    values are bit-identical to the expression-side derivation inside
    :func:`lsh_signature` — the two paths are interchangeable) and
    cached. See the ``planes`` note on :func:`lsh_signature` for why
    the hot callers deliberately do NOT fold these into the plan.
    """
    key = (num_planes, dim, seed)
    if key not in _PLANE_CACHE:
        pairs = [(d, p) for p in range(num_planes) for d in range(dim)]
        rows = (
            spark.createDataFrame(pairs, "d int, p int")
            .select(
                "d", "p",
                F.when(
                    F.xxhash64("d", F.col("p") + F.lit(seed * 100_003))
                     .bitwiseAND(F.lit(1)) == 1,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)).alias("s"),
            )
            .collect()
        )
        planes = [[0.0] * dim for _ in range(num_planes)]
        for r in rows:
            planes[r["p"]][r["d"]] = r["s"]
        _PLANE_CACHE[key] = planes
    return _PLANE_CACHE[key]


def lsh_signature(
    vec: Column, num_planes: int, dim: int, seed: int = 0,
    planes: list[list[float]] | None = None,
) -> Column:
    """Pack ``num_planes`` random-hyperplane signs into one long bucket
    key. Hyperplanes are deterministic Rademacher vectors (see
    :func:`rademacher_planes`) — no RNG state, nothing to ship to
    executors. ``seed`` offsets the plane family (independent hash
    tables).

    Pass ``planes`` (from :func:`rademacher_planes`) to fold the
    hyperplanes into constant arrays. **Measured at sf0.1 (10k×64
    vectors, local[32])**: executor-side cost of the two forms is
    IDENTICAL (the per-row ``xxhash64`` re-derivation codegens into a
    tight JVM loop and is noise next to the dot products), while the
    folded form *bloats driver plan analysis* ~4x (PySpark unrolls a
    64-float literal array into a 64-child CreateArray — 32 of those
    dominate the DataFrame build). The hash-derived expression is
    therefore the default everywhere; ``planes`` exists for callers
    that reuse one analyzed plan many times. Requires
    ``num_planes <= 16`` (Horner doubling stays far from int64 overflow
    under ANSI mode)."""
    if num_planes > 16:
        raise ValueError("num_planes must be <= 16 (bucket key packing)")

    if planes is not None:
        sig: Column = F.lit(0).cast("long")
        for pv in planes:
            hplane = F.lit([float(v) for v in pv])
            dot_ = F.aggregate(
                F.zip_with(vec, hplane, lambda x, h: x.cast("double") * h),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            sig = sig * 2 + (dot_ > 0).cast("long")
        return sig

    def sign(p: Column) -> Column:
        hplane = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.when(
                F.xxhash64(d, p + F.lit(seed * 100_003))
                 .bitwiseAND(F.lit(1)) == 1,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )
        dot_ = F.aggregate(
            F.zip_with(vec, hplane, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (dot_ > 0).cast("long")

    bits = F.transform(F.sequence(F.lit(0), F.lit(num_planes - 1)), sign)
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )


def _lsh_sigs_udf(num_planes: int, num_tables: int, planes_flat):
    """Arrow-vectorized LSH signatures: embedding → one bucket key per
    table, computed as a single NumPy matmul against the stacked
    ``num_tables × num_planes`` Rademacher plane matrix (the same
    cached plane family :func:`lsh_signature` derives per-row). The
    two compute the same mathematical dot products, but BLAS sums in a
    different floating-point ORDER than the sequential expression
    fold, so a dot product near zero can round to opposite signs and
    flip that bit's bucket key — bucket keys may differ slightly from
    :func:`lsh_signature`'s (fine for an approximate operator whose
    candidates are exactly re-ranked, but don't compare bucket keys
    across the two). Spark evaluates an expression fold's nested
    lambdas interpreted —
    dim × planes × tables multiply-adds plus as many xxhash64 calls
    per row — which dominates the whole ANN pipeline; the kernel does
    the identical arithmetic at BLAS speed."""
    import numpy as np
    import pandas as pd

    from db2pq_spark.functions.arrow import series_pandas_udf

    P = np.asarray(planes_flat, dtype=np.float64)  # (T*planes, dim)
    wts = 2 ** np.arange(num_planes - 1, -1, -1, dtype=np.int64)

    def sigs(vec: pd.Series) -> pd.Series:
        n = len(vec)
        if n == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vec])
        B = (V @ P.T) > 0
        S = (B.reshape(n, -1, num_planes) * wts).sum(
            axis=2, dtype=np.int64)
        return pd.Series(list(S))

    return series_pandas_udf(sigs, "array<bigint>")


def _probe_masks(num_planes: int, probe_radius: int) -> list[int]:
    """XOR masks enumerating all bucket keys within Hamming distance
    ``probe_radius`` of a signature (multi-probe LSH).

    Any radius up to ``num_planes`` is allowed; ``probe_radius ==
    num_planes`` enumerates every one of the ``2**num_planes`` buckets,
    making the probe exhaustive — the candidate set is then the whole
    corpus and the re-ranked output provably equals brute-force top-k
    (this is how the q38 gate configuration earns an exact SQL oracle).
    Mask count is ``sum(C(num_planes, r) for r <= probe_radius)``; the
    fan-out lands on the broadcast query side only."""
    if probe_radius > num_planes:
        raise ValueError("probe_radius must be <= num_planes")
    masks = [0]
    for r in range(1, probe_radius + 1):
        masks += [
            reduce(lambda acc, i: acc | (1 << i), combo, 0)
            for combo in combinations(range(num_planes), r)
        ]
    return masks


def derive_probe_radius(
    target_recall: float,
    num_planes: int = 8,
    num_tables: int = 4,
    assumed_neighbor_cos: float = 0.4,
) -> int:
    """Smallest multi-probe radius whose ANALYTIC recall meets
    ``target_recall`` under the random-hyperplane model.

    For a query/neighbor pair at angle θ, each plane's bit differs
    independently with probability q = θ/π (Goemans–Williamson), so one
    table finds the pair iff their signatures differ in ≤ radius bits:
    ``P_table(r) = Σ_{j≤r} C(p,j) q^j (1−q)^(p−j)``, and ``num_tables``
    independent tables give ``1 − (1 − P_table)^T``.

    ``assumed_neighbor_cos`` sets θ for the *hardest* neighbor the
    config must still find. The default 0.4 is the measured rank-10
    cosine of the random-Gaussian fixture — the WORST regime for LSH
    (real embedding corpora have far more parallel near-neighbors, so
    the derived radius is conservative there). Measured vs analytic at
    sf0.1 (QUALITY.md): analytic 0.74 vs measured 0.82 at r=2, 0.97 vs
    ≥0.9 at r=3 — the model tracks reality well enough to size the
    dial."""
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0,1), "
                         f"got {target_recall}")
    import math

    q = math.acos(max(-1.0, min(1.0, assumed_neighbor_cos))) / math.pi
    p_table = 0.0
    for r in range(num_planes + 1):
        p_table += (math.comb(num_planes, r)
                    * q ** r * (1.0 - q) ** (num_planes - r))
        if 1.0 - (1.0 - p_table) ** num_tables >= target_recall:
            return r
    return num_planes  # exhaustive — target unreachable under the model


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 4,
    probe_radius: int | None = None,
    target_recall: float = 0.9,
) -> DataFrame:
    """Approximate top-k: ``num_tables`` independent LSH tables of
    ``num_planes`` hyperplanes each; candidates = corpus vectors sharing
    any table bucket with the query, re-ranked exactly.

    **Multi-probe** (`Lv et al., VLDB 2007 <https://www.cs.princeton.edu/
    cass/papers/mplsh_vldb07.pdf>`_): each query also probes buckets
    within Hamming distance ``probe_radius`` of its signature. The
    fan-out lands entirely on the (tiny, broadcast) query side —
    ``Σ_{j≤r} C(planes,j)`` probe rows per (query, table) — so the
    corpus-side cost is unchanged: one signature scan plus a
    ``tables``-way replication.

    ``probe_radius=None`` (default) derives the radius from
    ``target_recall`` via :func:`derive_probe_radius` — the default
    0.9 target yields radius 3 for the 8×4 family (measured recall@10
    ≥0.9 at sf0.1, QUALITY.md; radius 2 measured 0.82, radius 1 0.43).
    Pass an explicit radius to pin the cost instead.

    At 100 TB the corpus signature computation is a single narrow scan;
    the candidate join shuffles on (table, bucket) — cardinality
    ~corpus × tables, never quadratic.

    All table signatures come from one Arrow-batched NumPy matmul (see
    :func:`_lsh_sigs_udf` — an expression path's nested lambdas
    evaluate interpreted and dominate the pipeline); the planes are
    :func:`rademacher_planes`, the family :func:`lsh_signature` uses."""
    if probe_radius is None:
        probe_radius = derive_probe_radius(
            target_recall, num_planes, num_tables)
    planes_flat = []
    for tbl in range(num_tables):
        planes_flat += rademacher_planes(
            corpus.sparkSession, num_planes, dim, seed=tbl)
    sig_array = _lsh_sigs_udf(num_planes, num_tables, planes_flat)

    # spread an under-partitioned corpus scan across cores before the
    # signature kernel (no-op at scale — one small file plans as one
    # partition and would compute every signature on one core)
    from db2pq_spark.operators.skew import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    c_buckets = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        F.posexplode(sig_array(F.col(vec_col))).alias("table", "bucket"))
    masks = _probe_masks(num_planes, probe_radius)
    q_buckets = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
            F.posexplode(sig_array(F.col(vec_col))).alias("table", "sig"))
        .select("query_id", "qvec", "table",
                F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"),
                "sig")
        .select("query_id", "qvec", "table",
                F.col("sig").bitwiseXOR(F.col("mask")).alias("bucket"))
    )

    cand = (
        c_buckets.join(F.broadcast(q_buckets), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qvec", "neighbor_id", "cvec")
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id",
                    F.round(cosine(F.col("qvec"), F.col("cvec")), 4).alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched NumPy (``mapInPandas``) —
    the vectorized alternative to :func:`cosine_topk`'s JVM fold.

    The query matrix broadcasts to executors once; each Arrow batch of
    corpus vectors becomes one BLAS matmul, and only the per-batch local
    top-k per query leaves the partition (candidate pre-aggregation),
    so the final global rank shuffles ≤ batches × queries × k rows —
    independent of corpus size. Preferred when vectors are wide and the
    batch matmul amortizes Python/Arrow overhead; the JVM fold wins for
    narrow vectors / tiny corpora (no Python workers in the loop)."""
    import numpy as np
    import pandas as pd

    q_local = queries.select(id_col, vec_col).toPandas()
    q_ids = q_local[id_col].to_numpy()
    qm = np.stack(q_local[vec_col].to_numpy()).astype("float64")
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, qm))

    def score(batches):
        ids, qmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            cos = m @ qmat.T                      # corpus_batch × queries
            nids = pdf[id_col].to_numpy()
            take = min(k + 1, len(nids))          # +1: self-match dropped later
            top = np.argpartition(-cos, take - 1, axis=0)[:take]
            out = {
                "query_id": np.repeat(ids, take),
                "neighbor_id": nids[top].T.ravel(),
                "cos": np.round(np.take_along_axis(cos, top, axis=0).T.ravel(),
                                round_digits),
            }
            yield pd.DataFrame(out)

    cand = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-k: k-means coarse quantizer partitions
    the corpus into inverted lists; each query scores only the
    ``n_probe`` nearest cluster lists, re-ranked exactly.

    The 100 TB shape: centroids are tiny (n_clusters × dim — broadcast),
    cluster assignment is one narrow pass, and the candidate join
    touches ~n_probe/n_clusters of the corpus per query. Recall rises
    with n_probe (n_probe == n_clusters → exact). Training uses
    ``pyspark.ml.KMeans`` with a fixed seed on (a sample of) the corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec"))
    featurized = c.withColumn("features", array_to_vector(
        F.transform("cvec", lambda x: x.cast("double"))))
    km = KMeans(k=n_clusters, seed=seed, maxIter=10)
    model = km.fit(featurized.select("features"))

    assigned = model.transform(featurized) \
        .select("neighbor_id", "cvec", F.col("prediction").alias("cluster"))

    # centroid relation (tiny) — distance of each query to each centroid
    centroids = [(i, [float(x) for x in ctr])
                 for i, ctr in enumerate(model.clusterCenters())]
    cdf = corpus.sparkSession.createDataFrame(
        centroids, "cluster int, centroid array<double>")

    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    qc = q.crossJoin(F.broadcast(cdf)).select(
        "query_id", "qvec", "cluster",
        F.aggregate(
            F.zip_with("qvec", "centroid",
                       lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0), lambda acc, x: acc + x,
        ).alias("dist2"),
    )
    wq = W.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cluster"))
    probes = qc.withColumn("p", F.row_number().over(wq)) \
               .filter(F.col("p") <= n_probe) \
               .select("query_id", "qvec", "cluster")

    cand = assigned.join(F.broadcast(probes), "cluster") \
        .filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id",
                    F.round(cosine(F.col("qvec"), F.col("cvec")), 4).alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    dim: int = 64,
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join.

    Same bucket → candidate pair → exact cosine ≥ threshold.
    Exactly-parallel vectors (cos 1.0) share every hyperplane sign, so
    true clones ALWAYS share a bucket — recall for exact duplicates is
    structural at any plane count. For merely-near pairs the per-plane
    collision probability is ``1 − θ/π``, so recall decays with plane
    count — this operator is the clone-collapse primitive (SemDeDup);
    for high-recall approximate search use the multi-table, multi-probe
    :func:`lsh_bucket_topk`.

    ``num_planes=None`` (default) sizes the bucket space from the
    corpus: ``clamp(ceil(log2(n / 64)), 8, 16)`` — one count job, mean
    bucket ≈ 64. A FIXED plane count is a scale ceiling: 8 planes is
    256 buckets, so bucket population grows linearly with the corpus
    and in-bucket candidate pairs quadratically; auto-sizing keeps the
    expected bucket constant, pairs linear. Beyond 2^16 buckets (the
    packing limit) the ``max_bucket`` cap is the remaining guard —
    shard the corpus (e.g. by an IVF coarse quantizer) before
    all-in-one dedup at that size."""
    if num_planes is None:
        import math

        n = corpus.count()
        num_planes = max(8, min(16, math.ceil(math.log2(max(n, 2) / 64))))
    # stage the signature relation: it feeds both sides of the
    # self-join AND the skew-count, and the interpreted per-row plane
    # products would recompute per branch. The hot-bucket guard is a
    # grouped count + broadcast anti join (one narrow aggregate)
    # instead of a bucket-partitioned window, which shuffled the full
    # vec-carrying relation just to annotate counts (measured ~25%
    # faster at sf0.1, identical pairs).
    sigs = stage(corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        lsh_signature(F.col(vec_col), num_planes, dim).alias("bucket"),
    ))
    hot = (sigs.groupBy("bucket").count()
           .filter(F.col("count") > max_bucket).select("bucket"))
    sigs = sigs.join(F.broadcast(hot), "bucket", "left_anti")
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
                F.round(cosine(F.col("a.vec"), F.col("b.vec")), 4).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def label_centroids(df: DataFrame, vec_col: str, label_col: str,
                    out_scale: int = 6) -> DataFrame:
    """Per-label embedding centroids: (label, n_vectors, centroid) with
    the centroid as an ordered double array rounded to ``out_scale``.

    Cross-engine determinism: per-dimension sums accumulate as exact
    decimals (float→double→decimal casts are exact/deterministic in
    both Spark and DuckDB), so the sum is order-independent and the
    final division hits identical IEEE operands — same rule as the
    workload's ``dsum`` convention, applied per array slot.

    Scale: posexplode fans each vector into its dimensions (narrow),
    the partial+final aggregate shuffles |labels|×|dims| rows (tiny),
    and the reassembly groups by label. No UDFs, no driver math —
    the classic "recompute class centroids" step of IVF/k-means
    training, runnable at any corpus size."""
    pe = df.select(
        F.col(label_col),
        F.posexplode(vec_col).alias("dim", "_x"),
    )
    comp = (
        pe.groupBy(label_col, "dim")
        .agg(F.sum(F.col("_x").cast("double").cast("decimal(28,10)"))
              .alias("_s"),
             F.count("*").alias("_c"))
        .select(F.col(label_col), "dim",
                (F.col("_s").cast("double") / F.col("_c")).alias("_m"),
                "_c")
    )
    return (
        comp.groupBy(label_col)
        .agg(F.max("_c").alias("n_vectors"),
             F.sort_array(F.collect_list(F.struct("dim", "_m")))
              .alias("_o"))
        .select(F.col(label_col), "n_vectors",
                F.transform("_o", lambda s: F.round(s["_m"], out_scale))
                 .alias("centroid"))
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **neardup_kwargs,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, re-expressed relationally): embedding-cosine
    near-duplicate pairs (:func:`embedding_neardup_pairs` — LSH
    buckets, never all-pairs) → connected components → one keeper per
    cluster (the minimum id).

    Returns ``(id_col, cluster, is_kept)`` for EVERY corpus row —
    singletons are their own kept cluster. Filter ``is_kept`` to
    materialize the deduplicated corpus; keep the cluster column when
    you want the duplicate groups for auditing.

    Scale: pair generation is bucket-bounded (``max_bucket`` skew
    guard), the hash-min component iteration touches only the
    near-dup subgraph (tiny relative to the corpus at any sane
    threshold), and the final labeling is one left join — the corpus
    itself never shuffles beyond that join."""
    from db2pq_spark.operators.components import connected_components

    pairs = embedding_neardup_pairs(
        corpus, threshold, id_col, vec_col, **neardup_kwargs)
    comp = connected_components(pairs)
    labeled = corpus.select(F.col(id_col)).join(
        comp.withColumnRenamed("id", id_col), id_col, "left")
    cluster = F.coalesce("comp", F.col(id_col))
    return labeled.select(
        F.col(id_col), cluster.alias("cluster"),
        (cluster == F.col(id_col)).alias("is_kept"))


def embedding_dedup_state(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    dim: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Train-once half of incremental semantic dedup: the persisted
    LSH signature relation ``(id, vec, bucket, _ed_conf)`` an
    increment is probed against (the persisted-state discipline of
    ``minhash_signatures``/``kn_bigram_stats`` applied to embeddings).
    Persist it as parquet once; feed it to
    :func:`semantic_dedup_incremental` each batch — the marginal cost
    per increment is one pruned scan of this table, never a corpus
    re-signature.

    ``_ed_conf`` stamps the plane family (``"p{planes}/d{dim}/s{seed}"``)
    BOTH as a column value (authoritative — survives unions) and as
    column metadata (parquet round-trip safe, checked at plan time):
    buckets computed under one plane family share no values with a
    probe under another, so a mismatched state must REFUSE instead of
    silently reporting zero duplicates — the ``_kn_keys``/``_lk_repr``
    stamp discipline.

    Unlike :func:`embedding_neardup_pairs` (which auto-sizes planes
    from a corpus count), the plane count is FIXED at state-build time
    — an incremental deployment can't re-derive it per batch without
    invalidating every persisted bucket. Pick ``num_planes`` for the
    standing corpus's target bucket occupancy (2^planes buckets) and
    rebuild the state when the corpus outgrows it."""
    conf = f"p{num_planes}/d{dim}/s{seed}"
    return corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        lsh_signature(F.col(vec_col), num_planes, dim, seed)
         .alias("bucket"),
        F.lit(conf).alias("_ed_conf", metadata={"ed_conf": conf}),
    )


def validate_ed_state(state: DataFrame, num_planes: int, dim: int,
                      seed: int) -> str:
    """Plan-time validation of an :func:`embedding_dedup_state`
    relation against a requested plane family — raises on a missing
    ``_ed_conf`` column or a mismatched metadata stamp WITHOUT running
    a job, and returns the expected conf string. Exposed so streaming
    wrappers can refuse a wrong-family state eagerly, before the first
    trigger fires, instead of at the first non-empty micro-batch.
    (Metadata-less persisted states still rely on the per-row guard
    folded into the bucket projection.)"""
    conf = f"p{num_planes}/d{dim}/s{seed}"
    if "_ed_conf" not in state.columns:
        raise ValueError(
            "state carries no _ed_conf stamp — buckets built under an "
            "unknown plane family share no values with this probe and "
            "every batch vector would silently report zero duplicates. "
            "Build the state via embedding_dedup_state()")
    meta = state.schema["_ed_conf"].metadata or {}
    stamped = meta.get("ed_conf")
    if stamped is not None and stamped != conf:
        raise ValueError(f"state was built with planes {stamped!r} but "
                         f"the probe asked for {conf!r}")
    return conf


def semantic_dedup_incremental(
    batch: DataFrame,
    state: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    dim: int = 64,
    seed: int = 0,
    max_bucket: int | None = 2000,
) -> DataFrame:
    """Which NEW embeddings near-duplicate a standing corpus —
    ``(batch_id, corpus_id, cos)`` pairs at ``cos >= threshold``
    against a persisted :func:`embedding_dedup_state`. The SemDeDup
    increment shape: a crawl batch is scored against the corpus
    signature table, not a batch∪corpus re-cluster (the
    ``minhash_dedup_incremental`` deployment pattern applied to
    embedding space).

    Exactly-parallel duplicates (cosine 1.0) share every hyperplane
    sign with their base vector, so recall for true clones is
    structural at any plane count — same property as
    :func:`embedding_neardup_pairs`.

    Plan shape is built around the corpus state NEVER shuffling:

    - batch signatures are computed with the SAME deterministic plane
      family the state was built under (validated: plan-time via the
      ``_ed_conf`` column metadata, and per-row by a guard folded into
      the state's bucket projection — zero extra jobs, raises instead
      of silently scoring zero duplicates);
    - the state is semi-filtered by the broadcast DISTINCT batch
      buckets before anything else — a corpus bucket no batch member
      hashes to can never produce a pair, so everything downstream
      runs on the batch-matched minority;
    - the skew guard counts buckets over that matched relation and
      anti-broadcasts the hot ones (``max_bucket=None`` disables it —
      exactness gates);
    - the exact-cosine verify joins the broadcast batch signatures
      back to the matched state rows — one narrow join, output
      threshold-bounded.

    The batch must be broadcastable (same contract as the query side
    of ``cosine_topk`` and the batch side of every incremental dedup
    operator here)."""
    conf = validate_ed_state(state, num_planes, dim, seed)
    # authoritative per-row guard folded into the bucket projection the
    # plan reads anyway (bucket feeds the semi filter AND the pair
    # join, so column pruning can never drop it) — catches unions of
    # mismatched states and metadata-less persisted relations
    guarded = state.select(
        F.col("id").alias("corpus_id"),
        F.col("vec").alias("cvec"),
        F.when(F.col("_ed_conf") == conf, F.col("bucket"))
         .otherwise(F.raise_error(F.concat(
             F.lit("semantic_dedup_incremental: state row built under "
                   "plane family "),
             F.col("_ed_conf"),
             F.lit(f" but the probe asked for {conf!r} — rebuild the "
                   "state or pass matching num_planes/dim/seed"))))
         .alias("bucket"),
    )
    bsig = batch.select(
        F.col(id_col).alias("batch_id"),
        F.col(vec_col).alias("bvec"),
        lsh_signature(F.col(vec_col), num_planes, dim, seed)
         .alias("bucket"),
    )
    bkeys = bsig.select("bucket").distinct()
    matched = guarded.join(F.broadcast(bkeys), "bucket", "left_semi")
    if max_bucket is not None:
        hot = (matched.groupBy("bucket").count()
               .filter(F.col("count") > max_bucket).select("bucket"))
        matched = matched.join(F.broadcast(hot), "bucket", "left_anti")
    return (matched.join(F.broadcast(bsig), "bucket")
            .where(F.col("batch_id") != F.col("corpus_id"))
            .select("batch_id", "corpus_id",
                    F.round(cosine(F.col("bvec"), F.col("cvec")), 4)
                     .alias("cos"))
            .filter(F.col("cos") >= threshold))
