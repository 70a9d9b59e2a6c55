"""LLM-pipeline extension workload, wave 1: exact/MinHash/SimHash
dedup, n-gram Jaccard, cosine/LSH/IVF similarity search, text
profiling, fingerprints, multimodal features, as-of joins, sketches,
stateful streaming."""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf resolves the postponed
# 'pd.Series' annotations against this module's globals

from pyspark.sql import DataFrame, SparkSession, Window as W  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from db2pq_spark.workload_base import (  # noqa: F401
    _HAS_TEXT,
    _NORM,
    _TOKENS,
    REGISTRY,
    QueryFn,
    _dsum_sql,
    dsum,
    production,
    query,
    t,
)

# ---------------------------------------------------------------------------
# Extension operators (LLM-pipeline: dedup / similarity / text / multimodal)
# ---------------------------------------------------------------------------



@query(
    "q30_exact_dedup",
    oracle=f"""
    SELECT md5({_NORM}) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def q30_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash (one shuffle, map-side
    partial agg). [extension]"""
    from db2pq_spark.operators.dedup import exact_dedup

    return exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q31_text_profile",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, text,
             {_TOKENS} AS toks,
             len({_TOKENS}) AS n_tokens,
             CAST(CEIL(LENGTH(text) / 4) AS BIGINT) AS n_subwords,
             LENGTH(text) AS total_chars,
             LENGTH(text) - LENGTH(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))
               AS punct_chars,
             len(list_filter({_TOKENS},
                 x -> x IN ('the','and','of','to','a','in','is','that','it','for')))
               AS sw_en,
             len(list_filter({_TOKENS},
                 x -> x IN ('der','die','das','und','ist','von','mit','den','ein','zu')))
               AS sw_de,
             len(list_filter({_TOKENS},
                 x -> x IN ('le','la','les','et','de','un','une','est','que','pour')))
               AS sw_fr,
             len(list_filter({_TOKENS},
                 x -> x IN ('el','la','los','las','y','de','que','es','un','para')))
               AS sw_es
      FROM documents
    )
    SELECT doc_id, n_tokens, n_subwords,
           CASE WHEN n_tokens > 0
                THEN list_aggregate(list_transform(toks, x -> LENGTH(x)), 'sum')
                     / n_tokens
                ELSE 0.0 END AS mean_token_len,
           CASE WHEN total_chars > 0 THEN punct_chars / total_chars
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_tokens > 0 THEN sw_en / n_tokens ELSE 0.0 END
             AS stopword_ratio_en,
           ROUND(
             0.4 * (CASE WHEN n_tokens > 0 THEN sw_en / n_tokens ELSE 0.0 END) * 5.0
             + 0.3 * (CASE WHEN LENGTH(text) BETWEEN 100 AND 10000
                           THEN 1.0 ELSE 0.0 END)
             + 0.3 * (1.0 - LEAST((CASE WHEN total_chars > 0
                                        THEN punct_chars / total_chars
                                        ELSE 0.0 END) * 10.0, 1.0)),
             6) AS quality,
           CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                WHEN GREATEST(sw_en, sw_de, sw_fr, sw_es) = 0 THEN 'und'
                WHEN sw_en = GREATEST(sw_en, sw_de, sw_fr, sw_es) THEN 'en'
                WHEN sw_de = GREATEST(sw_en, sw_de, sw_fr, sw_es) THEN 'de'
                WHEN sw_fr = GREATEST(sw_en, sw_de, sw_fr, sw_es) THEN 'fr'
                ELSE 'es' END AS lang_pred,
           md5({_NORM}) AS fingerprint
    FROM feat
    """,
)
def q31_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text-analysis battery: token counts, BPE-ish subword
    estimate, punctuation/stopword ratios, quality score, stopword-vote
    language ID, content fingerprint. All codegen'd expressions —
    the oracle SQL replays the identical decision functions. [extension]"""
    from db2pq_spark.operators.textstats import text_profile

    return text_profile(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q32_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS id, lang AS block,
             CASE WHEN len({_TOKENS}) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len({_TOKENS}) - 2),
                         i -> concat_ws(' ', {_TOKENS}[i], {_TOKENS}[i+1],
                                        {_TOKENS}[i+2])))
                  ELSE [{_NORM}] END AS grams
      FROM documents
    )
    SELECT a.id AS id1, b.id AS id2,
           len(list_intersect(a.grams, b.grams))
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
             AS jaccard
    FROM sh a JOIN sh b ON a.block = b.block AND a.id < b.id
    WHERE len(list_intersect(a.grams, b.grams))
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
          >= 0.5
    """,
)
def q32_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs, blocked by language —
    quadratic within a block only. [extension]"""
    from db2pq_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        block_col="lang", n=3, threshold=0.5,
    )


#: exact cosine top-5 for queries vec_id < 10 — the oracle for q33 and,
#: with an exhaustive probe (n_probe == n_clusters), for q46 as well
_COSINE_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
               / (SQRT(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * SQRT(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               4) AS cos
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
    """


@query("q33_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def q33_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline): broadcast query
    set × corpus scan, JVM-side fold for the dot product, window rank.
    [extension]"""
    from db2pq_spark.operators.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "q34_asof_join",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events WHERE user_id < 20
    ),
    signups AS (
      SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events WHERE event_type = 'signup'
    )
    SELECT ev.event_id, ev.user_id, ev.ts_us, s.ts_us AS ts_us_asof
    FROM ev ASOF LEFT JOIN signups s
      ON ev.user_id = s.user_id AND ev.ts_us >= s.ts_us
    """,
)
def q34_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks): latest signup at-or-before each
    event, via the union + last-non-null window composition — one
    shuffle, no range-join explosion. Oracle: DuckDB native ASOF JOIN.
    [extension]"""
    from db2pq_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    left = ev.filter(F.col("user_id") < 20).select("event_id", "user_id", "ts_us")
    right = ev.filter(F.col("event_type") == "signup").select("user_id", "ts_us")
    return asof_join(left, right, on="user_id",
                     left_time="ts_us", right_time="ts_us",
                     value_cols=["ts_us"])


@query(
    "q35_multimodal_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
)
def q35_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + Arrow-batched
    mapInPandas feature extraction (byte-level stand-in for a codec
    worker — container ships no media libs). [extension]"""
    from db2pq_spark.operators.multimodal import binarize, extract_features

    docs = binarize(t(spark, sf_dir, "documents"), "text", "doc_id")
    return extract_features(docs).select("doc_id", "n_bytes", "sha256")


@query(
    "q43_fingerprints",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN LENGTH(text) > 0 THEN
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''),
                              c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007)
           ELSE 0 END AS rolling_hash,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_wordpieces,
           md5({_NORM}) AS md5_fingerprint
    FROM documents
    """,
)
def q43_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting three ways: polynomial rolling hash over
    code points (sequential fold, engine-replayable), BPE-ish regex
    wordpiece count, md5 content hash. [extension]"""
    from db2pq_spark.operators.dedup import normalize_text
    from db2pq_spark.operators.textstats import (
        rolling_fingerprint,
        wordpiece_count,
    )

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rolling_fingerprint("text").alias("rolling_hash"),
        wordpiece_count("text").alias("n_wordpieces"),
        F.md5(F.encode(normalize_text("text"), "UTF-8")).alias("md5_fingerprint"),
    )


@query(
    "q44_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status,
           COUNT(*) AS n,
           {_dsum_sql('l_extendedprice', 2)} AS total
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus))
    """,
)
def q44_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() indicator columns — via
    the SQL API (the DataFrame API exposes only cube/rollup)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS DOUBLE) AS total
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
    """)


@query("q45_cosine_topk_pandas", oracle=_COSINE_TOPK_ORACLE)
def q45_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow + NumPy matmul) twin of q33 — mapInPandas with
    per-batch local top-k so shuffle volume is independent of corpus
    size. NumPy's normalize-then-matmul rounds differently from the
    SQL ``dot/(|a|·|b|)`` at ~1e-16, which vanishes under the shared
    round-to-4 — verified identical to q33's exact oracle at sf0.001/
    0.01/0.1 (a fixture value sitting within 1e-15 of a 5e-5 rounding
    boundary would re-open the gap; none does). [extension]"""
    from db2pq_spark.operators.similarity import cosine_topk_pandas

    emb = t(spark, sf_dir, "embeddings")
    return cosine_topk_pandas(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query("q46_ivf_topk", oracle=_COSINE_TOPK_ORACLE)
def q46_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: k-means inverted lists,
    n_probe nearest lists scored per query, exact re-rank — the
    third similarity path beside brute force (q33/q45) and LSH (q38).

    The gate probes exhaustively (n_probe == n_clusters), which makes
    the candidate set the full corpus regardless of where k-means put
    the centroids — so the exact re-rank provably equals brute-force
    top-k and q33's oracle applies verbatim. The approximate
    configurations (n_probe < n_clusters) are what runs at scale;
    their recall is measured in QUALITY.md. [extension]"""
    from db2pq_spark.operators.similarity import ivf_topk

    emb = t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                    n_clusters=8, n_probe=8)


@query(
    "q47_range_join",
    oracle=f"""
    SELECT o.o_orderkey,
           COUNT(l.l_orderkey) AS n_shipped_within_90d,
           {_dsum_sql('l.l_quantity', 2)} AS qty_within_90d
    FROM orders o
    JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 90 DAY
    WHERE o.o_orderkey <= 3000
    GROUP BY o.o_orderkey
    """,
)
def q47_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (equi key + time-interval predicate): the equi
    component keeps it a hash/sort-merge join — the range condition
    evaluates post-match, so no quadratic explosion. Pure range joins
    (no equi key) should bucketize the range key first (see
    operators/asof.py for the as-of composition)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    li = t(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.timestamp_add("DAY", F.lit(90), o.o_orderdate))
    )
    return (
        o.join(li, cond)
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_shipped_within_90d"),
             dsum("l_quantity", 2, "qty_within_90d"))
    )


@query(
    "q48_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS approx_cd_ok,
           TRUE AS approx_median_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q48_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch twins of the exact operators — what actually
    runs at 100 TB: approx_count_distinct (HyperLogLog++) and
    percentile_approx (single-pass, mergeable).

    Sketch internals are engine-specific, so raw approximate values can
    never hash-match another engine. The gate shape instead asserts the
    sketch-vs-exact contract IN the plan: both sketches and the exact
    aggregates run in one groupBy, and the output carries the exact
    values plus booleans — HLL within 10 % (2x its 5 % default rsd) of
    the exact distinct count, approx median inside the exact p49..p51
    band (rank error 1/10000 << 1 %). The oracle recomputes the exact
    values and expects every tolerance flag TRUE, so a sketch drifting
    out of its error bound IS a gate failure. [scale path]"""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey").alias("_acd"),
            F.percentile_approx("l_extendedprice", 0.5, 10_000)
             .alias("_amed"),
            # one percentile aggregate for both band edges — two
            # scalar percentile() calls would each buffer the full
            # value set per group
            F.expr("percentile(l_extendedprice, array(0.49, 0.51))")
             .alias("_band"),
        )
        .select(
            "l_returnflag", "n", "exact_orders",
            ((F.abs(F.col("_acd") - F.col("exact_orders"))
              / F.col("exact_orders")) <= 0.10).alias("approx_cd_ok"),
            ((F.col("_amed") >= F.element_at("_band", 1))
             & (F.col("_amed") <= F.element_at("_band", 2)))
            .alias("approx_median_ok"),
        )
    )


@query(
    "q36_minhash_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS id, {_NORM} AS norm, {_TOKENS} AS toks
      FROM documents
    ),
    sh AS (
      SELECT id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(toks) - 2),
                         i -> concat_ws(' ', toks[i], toks[i+1],
                                        toks[i+2])))
                  ELSE [norm] END AS grams
      FROM toks
      WHERE len(toks) > 0 AND toks[1] <> ''
    ),
    j AS (
      SELECT a.id AS id1, b.id AS id2,
             len(list_intersect(a.grams, b.grams))
               / (len(a.grams) + len(b.grams)
                  - len(list_intersect(a.grams, b.grams))) AS jaccard
      FROM sh a JOIN sh b ON a.id < b.id
    )
    SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.6
    """,
)
def q36_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verify; banding
    makes candidate generation shuffle-bound, never quadratic.

    Oracle: exact all-pairs 3-shingle Jaccard (feasible in DuckDB at
    gate scale; the operator itself never goes quadratic). The gate
    banding is 32 bands × 2 rows, whose collision probability
    1 − (1−j²)³² is ≥ 1 − 6.3e−7 for every pair at or above the 0.6
    threshold — recall is structural across the whole retained range,
    not a property of the fixture's near-clone pairs — and the skew
    cap is disabled (max_bucket=None) so no bucket can silently drop
    a true pair. Production keeps the default 16×4 banding (steeper
    precision curve) and the cap. [extension]"""
    from db2pq_spark.operators.dedup import minhash_dedup

    return minhash_dedup(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        num_hashes=64, bands=32, threshold=0.6, max_bucket=None,
        shingle_repr="text",
    )


@production("q36_minhash_dedup")
def _q36_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator defaults: 16 bands × 4 rows, skew cap 1000, Arrow
    signature kernel, hashed-long shingles (stringless build and
    long-array Jaccard verify). The gate runs the 32×2 uncapped
    text-shingle exactness config, which generates strictly more
    candidates.

    Timing the gate config conflates that exactness surcharge with
    operator throughput; the r4→r5 bench "regression" was exactly this
    config drift."""
    from db2pq_spark.operators.dedup import minhash_dedup

    return minhash_dedup(t(spark, sf_dir, "documents"), "text", "doc_id",
                         num_hashes=64, bands=16, threshold=0.7,
                         max_bucket=1000, impl="arrow")


@query(
    "q37_simhash_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS id, {_TOKENS} AS toks
      FROM documents WHERE {_HAS_TEXT}
    ),
    th AS (SELECT id, unnest(toks) AS tok FROM toks),
    h AS (
      SELECT id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM th
    ),
    votes AS (
      SELECT id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) b
      GROUP BY id, b.bit
    ),
    sig AS (
      SELECT id,
             SUM(CASE WHEN v > 0
                      THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS s
      FROM votes GROUP BY id
    ),
    pairs AS (
      SELECT a.id AS id1, b.id AS id2,
             CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
      FROM sig a JOIN sig b ON a.id < b.id
    )
    SELECT id1, id2, hamming FROM pairs WHERE hamming <= 3
    """,
)
def q37_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, 16-bit-chunk pigeonhole
    blocking, bit_count Hamming verify.

    Gate configuration is EXACT, so it carries a full replay oracle:
    with max_hamming (3) < num_chunks (4) the pigeonhole guarantee
    makes blocking lossless — the output is precisely every pair at
    Hamming ≤ 3 — and the md5-derived token hash (`token_hash=
    'md5_60'`, operators/dedup.py) is computed identically by DuckDB,
    which rebuilds the signatures bit-for-bit in SQL (unnest tokens →
    60-bit md5 hash → per-bit ±1 votes → packed sign vector →
    all-pairs bit_count(xor)). The skew cap is disabled
    (max_bucket=None) so the losslessness claim is unconditional —
    a >1000-doc chunk bucket would otherwise silently drop true
    pairs. The xxhash64 default and the cap stay the production
    path. [extension]"""
    from db2pq_spark.operators.dedup import simhash_dedup

    return simhash_dedup(t(spark, sf_dir, "documents"), "text", "doc_id",
                         max_hamming=3, num_chunks=4, max_bucket=None,
                         token_hash="md5_60")


@production("q37_simhash_dedup")
def _q37_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator defaults: xxhash64 token hash, 4 chunks, Hamming ≤ 3,
    skew cap 1000. The gate pins md5_60 token hashes and no cap so
    DuckDB rebuilds every signature."""
    from db2pq_spark.operators.dedup import simhash_dedup

    return simhash_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


@query("q38_lsh_similarity", oracle=_COSINE_TOPK_ORACLE)
def q38_lsh_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: random-hyperplane LSH buckets + exact re-rank —
    the sub-linear scale path next to q33's exact baseline.

    Gate configuration probes exhaustively (probe_radius == num_planes
    enumerates all 2^4 buckets), so the candidate pool is provably the
    whole corpus and the re-ranked output EQUALS brute-force top-k —
    which is why q33's exact oracle applies (same trick as q46's
    n_probe == n_clusters). The sub-linear default (8 planes × 4
    tables, radius derived from target_recall=0.9 → 3, measured recall
    0.982) stays benchmarked in QUALITY.md and scripts/dump_quality.py.
    [extension]"""
    from db2pq_spark.operators.similarity import lsh_bucket_topk

    emb = t(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                           num_planes=4, num_tables=1, probe_radius=4)


@production("q38_lsh_similarity")
def _q38_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-linear ANN at operator defaults: 8 planes × 4 tables,
    multi-probe radius 3 derived from target_recall=0.9. The gate
    probes exhaustively so its output equals brute force; timing it
    would time brute force."""
    from db2pq_spark.operators.similarity import lsh_bucket_topk

    emb = t(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "q39_embedding_neardup",
    oracle="""
    SELECT vec_id AS id1,
           vec_id + 1000000 AS id2,
           CAST(1.0 AS DOUBLE) AS cos
    FROM embeddings WHERE vec_id < 20
    """,
)
def q39_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join.

    The fixture's random embeddings have no true near-dups (max pairwise
    cosine ≈ 0.51), so the corpus is augmented with scaled clones of the
    first 20 vectors (scaling preserves cosine = 1.0): the operator must
    recover exactly those planted pairs — which IS the oracle. Parallel
    vectors share every hyperplane sign, so the planted pair always
    shares a bucket (recall is structural, not probabilistic), and
    nothing else in the fixture approaches the 0.999 threshold.
    [extension]"""
    from db2pq_spark.operators.similarity import embedding_neardup_pairs

    emb = t(spark, sf_dir, "embeddings")
    clones = (
        emb.filter(F.col("vec_id") < 20)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                F.transform("embedding", lambda x: x * F.lit(1.25))
                 .alias("embedding"),
                "label")
    )
    return embedding_neardup_pairs(emb.unionByName(clones), threshold=0.999)


@query(
    "q69_frame_sample",
    oracle="""
    WITH payload AS (
      SELECT doc_id, text AS s FROM documents
      WHERE text IS NOT NULL
        AND octet_length(encode(text)) = length(text)
    ), idx AS (
      SELECT doc_id, s,
             unnest(range(0, CAST(ceil(length(s)/64.0) AS BIGINT), 4)) AS fi
      FROM payload
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           md5(substring(s, CAST(fi*64+1 AS BIGINT), 64)) AS frame_md5,
           CAST(length(substring(s, CAST(fi*64+1 AS BIGINT), 64)) AS INT)
             AS frame_bytes
    FROM idx
    """,
)
def q69_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: payload → fixed-size frames → every
    4th frame, via Arrow-batched mapInPandas (1 row in → N rows out).
    The oracle replays the byte math with VARCHAR substrings — valid
    because the fixture is pure ASCII (the query filters to ASCII docs
    so byte and char offsets provably agree). [extension]"""
    from db2pq_spark.operators.multimodal import binarize, frame_sample

    docs = t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
        & (F.octet_length(F.col("text")) == F.length(F.col("text"))))
    return frame_sample(binarize(docs, "text", "doc_id"),
                        frame_bytes=64, stride=4)


@query(
    "q68_stateful_stream",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clicks
    FROM events GROUP BY user_id
    """,
)
def q68_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals folded across micro-batches. The stream's
    *final* state must equal the batch groupBy over the same events
    (also asserted in tests/test_streaming.py) — that batch aggregate
    is the oracle. The update-mode sink holds every intermediate state
    emission; ``n_events`` strictly increases per update, so the max-n
    row per user is the final state. ``sum_value`` accumulates in
    float64 on both sides and is rounded to 2 for the hash.
    [extension]"""
    from db2pq_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        running_user_totals,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    full = run_to_memory(running_user_totals(stream), "q68_stateful_out",
                         output_mode="update")
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        full.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events",
                F.round("sum_value", 2).alias("sum_value"), "n_clicks")
    )
