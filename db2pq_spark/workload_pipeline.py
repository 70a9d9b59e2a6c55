"""Training-data pipeline workload: validation, BM25, weighted
sampling, deterministic shuffle, incremental dedup, repetition and
surprisal profiles, PII scrub, duplicate spans, vocab/encode,
decontamination, centroids, corpus mixing, quantization, bloom
filters, the composed training pipeline, and semantic dedup."""

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

_Q91_SQL = f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {_dsum_sql('l_extendedprice * (1 - l_discount)', 4)}
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("q91_top_supplier", oracle=_Q91_SQL)
def q91_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue 'view' is aggregated once, then an
    uncorrelated scalar MAX subquery selects the top supplier —
    exact-decimal revenue makes the MAX equality deterministic. The CTE
    is referenced twice; Spark executes the scalar branch as a
    one-row subquery, not a rejoin of the full view."""
    for name in ("lineitem", "supplier"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q91_SQL)


_Q92_SQL = """
    SELECT o.o_orderpriority,
           CAST(SUM(CASE WHEN l.l_quantity >= 25 THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN l.l_quantity < 25 THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o.o_orderpriority
"""


@query("q92_priority_classes", oracle=_Q92_SQL)
def q92_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: two-class conditional counts per priority (the
    fixture has no l_shipmode; quantity bands play its role). One
    join + one aggregation; the year filter pushes to the lineitem
    scan."""
    for name in ("orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q92_SQL)


_Q93_SQL = """
    WITH supplier_value AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS value_
      FROM lineitem
      GROUP BY l_suppkey)
    SELECT l_suppkey, CAST(value_ AS DOUBLE) AS value_
    FROM supplier_value
    WHERE CAST(value_ AS DOUBLE) >
          (SELECT CAST(SUM(CAST(l2.l_extendedprice * l2.l_quantity
                               AS DECIMAL(18,2))) AS DOUBLE)
                  * CAST(0.001 AS DOUBLE)
           FROM lineitem l2)
"""


@query("q93_value_concentration", oracle=_Q93_SQL)
def q93_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: suppliers holding more than a fixed fraction of
    global value — a grouped aggregate filtered by an uncorrelated
    scalar subquery over the SAME table (two aggregation passes, the
    scalar one a single row broadcast into the HAVING). Both sums
    accumulate in exact decimal; the threshold multiply happens in
    identical double operands on both engines."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q93_SQL)


_Q94_SQL = """
    WITH wins AS (
      SELECT event_id AS win_id,
             epoch_us(CAST(ts AS TIMESTAMP)) - 600000000 AS lo,
             epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS hi
      FROM events
      WHERE event_type = 'purchase' AND value >= 100),
    pts AS (
      SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS pt_ts, value
      FROM events)
    SELECT w.win_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS sum_value
    FROM wins w
    JOIN pts p ON p.pt_ts BETWEEN w.lo AND w.hi
    GROUP BY w.win_id
"""


@query("q94_range_join", oracle=_Q94_SQL)
def q94_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join via bin bucketing
    (operators/rangejoin.py:range_join): ±10-minute activity windows
    around high-value purchases joined to ALL events by time
    containment alone. Without the bin rewrite Spark's only plan for a
    pure inequality join is a nested-loop/cartesian product; the
    operator turns it into an equi hash join on
    ``floor(ts / 20min)`` bins with the exact range predicate as a
    residual, so it scales as hash-join, not |windows|×|events|.
    [extension]"""
    from db2pq_spark.operators.rangejoin import range_join

    ev = t(spark, sf_dir, "events")
    pts = ev.select(F.col("event_id").alias("pt_id"),
                    F.col("ts_us").alias("pt_ts"),
                    F.col("value").alias("pt_value"))
    wins = (ev.filter((F.col("event_type") == "purchase")
                      & (F.col("value") >= 100))
            .select(F.col("event_id").alias("win_id"),
                    (F.col("ts_us") - F.lit(600_000_000)).alias("lo"),
                    (F.col("ts_us") + F.lit(600_000_000)).alias("hi")))
    joined = range_join(pts, wins, "pt_ts", "lo", "hi",
                        bin_width=1_200_000_000)
    return joined.groupBy("win_id").agg(
        F.count("*").alias("n_events"),
        dsum("pt_value", 2, "sum_value"))


_Q95_SQL = """
    WITH n AS (SELECT COUNT(*) AS n_rows FROM lineitem),
    c(rule, violations) AS (
      SELECT 'not_null(l_orderkey)', COUNT(*)
      FROM lineitem WHERE l_orderkey IS NULL
      UNION ALL
      SELECT 'in_range(l_quantity,1,30)', COUNT(*)
      FROM lineitem WHERE l_quantity < 1 OR l_quantity > 30
      UNION ALL
      SELECT 'accepted_values(l_returnflag)', COUNT(*)
      FROM lineitem WHERE l_returnflag NOT IN ('A', 'N', 'R')
      UNION ALL
      SELECT 'positive_price', COUNT(*)
      FROM lineitem WHERE l_extendedprice <= 0
      UNION ALL
      SELECT 'unique(l_orderkey,l_linenumber)',
             COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
      FROM lineitem
      UNION ALL
      SELECT 'fk(l_orderkey)', COUNT(*)
      FROM lineitem l
      WHERE l.l_orderkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT c.rule, c.violations, n.n_rows, c.violations = 0 AS passed
    FROM c CROSS JOIN n
"""


@query("q95_validation", oracle=_Q95_SQL)
def q95_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (operators/validate.py): five
    row-level/uniqueness rules share ONE scan+aggregate of lineitem
    (adding a rule adds zero I/O), the FK check adds one anti-join
    against orders (broadcast at this scale). The audit result is a
    6-row DataFrame gating the pipeline. [extension]"""
    from db2pq_spark.operators.validate import (
        accepted_values, expr_check, foreign_key, in_range, not_null,
        unique_key, validate,
    )

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    return validate(li, [
        not_null("l_orderkey"),
        in_range("l_quantity", 1, 30),
        accepted_values("l_returnflag", ["A", "N", "R"]),
        expr_check("positive_price", "l_extendedprice <= 0"),
        unique_key("l_orderkey", "l_linenumber"),
        foreign_key("l_orderkey", orders, "o_orderkey"),
    ])


_Q96_SQL = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS terms
      FROM documents),
    d AS (SELECT doc_id, len(terms) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
    matched AS (
      SELECT t.doc_id, u.term
      FROM toks t, UNNEST(t.terms) AS u(term)
      WHERE u.term IN ('join', 'vector', 'stream')),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM matched GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS dft FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           ROUND(SUM(  ln(1 + (s.n_docs - f.dft + 0.5) / (f.dft + 0.5))
                     * tf.tf * (1.2 + 1)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl))),
                 4) AS bm25
    FROM tf
    JOIN dfreq f USING (term)
    JOIN d USING (doc_id)
    CROSS JOIN stats s
    GROUP BY tf.doc_id
"""


@query("q96_bm25", oracle=_Q96_SQL)
def q96_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/retrieval.py) for a 3-term
    query over the documents corpus — tokenize, corpus stats, pruned
    explode, tf/df aggregates, Robertson idf scoring; all JVM-side.
    The DuckDB oracle recomputes the identical formula from the same
    tokenization. [extension]"""
    from db2pq_spark.operators.retrieval import bm25_scores

    docs = t(spark, sf_dir, "documents")
    return bm25_scores(docs, "text", "doc_id", ["join", "vector", "stream"])


_Q98_SQL = f"""
    SELECT CAST(((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) - k.k) * 900
                AS BIGINT) AS window_start_epoch,
           event_type,
           COUNT(*) AS n_events,
           {_dsum_sql('value', 2)} AS sum_value
    FROM events
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)
    GROUP BY 1, 2
"""


@query("q98_sliding_window", oracle=_Q98_SQL)
def q98_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/15-minute window aggregate — batch twin of
    streaming/windows.py:sliding_counts, as a two-level rollup: the
    raw stream partial-aggregates per 15-minute SLIDE bucket first
    (counts + exact-decimal partial sums), and only that bounded
    (slide, event_type) relation expands ×(window/slide)=4 into the
    hour windows it participates in. Spark's native ``window(...,
    slide)`` Expand would instead quadruple every RAW event before the
    aggregate — 4× the rows, 4× the per-row decimal casts through the
    hot hash-agg stage; here the expand touches only time-range-bounded
    partials (decimal partial sums re-aggregate exactly — decimal
    addition is associative below the precision cap). The oracle
    derives the same 4 aligned window starts arithmetically. Window
    start is reported as epoch seconds (tz-independent)."""
    e = t(spark, sf_dir, "events")
    partial = (
        e.groupBy(F.expr("ts_us div 900000000").alias("_slide"),
                  "event_type")
        .agg(F.count("*").alias("_n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("_s"))
    )
    return (
        partial
        .select("*", F.explode(F.array(*[F.lit(i) for i in range(4)]))
                .alias("_k"))
        .groupBy(((F.col("_slide") - F.col("_k")) * 900)
                 .cast("bigint").alias("window_start_epoch"),
                 "event_type")
        .agg(F.sum("_n").cast("bigint").alias("n_events"),
             F.sum("_s").cast("decimal(38,2)").cast("double")
             .alias("sum_value"))
    )


def _q97_sql() -> str:
    from db2pq_spark.operators.sampling import weighted_score_sql
    score = weighted_score_sql("o_orderkey", "o_totalprice")
    return f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 0
    ORDER BY {score} DESC, o_orderkey
    LIMIT 500
    """


@query("q97_weighted_sample", oracle=None)  # oracle injected below
def q97_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.py:weighted_sample — Efraimidis–Spirakis keys
    from md5-derived uniforms): 500 orders drawn proportionally-ish to
    o_totalprice. Engine-portable: the DuckDB oracle computes the
    identical ranking keys and selects the identical 500 rows. Narrow
    score + TakeOrderedAndProject — no full sort at any scale.
    [extension]"""
    from db2pq_spark.operators.sampling import weighted_sample

    orders = t(spark, sf_dir, "orders")
    return weighted_sample(orders, "o_orderkey", "o_totalprice", 500) \
        .select("o_orderkey", "o_totalprice")


REGISTRY["q97_weighted_sample"] = (q97_weighted_sample, _q97_sql())


@query(
    "q106_deterministic_shuffle",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (
             ORDER BY md5('epoch0' || CAST(doc_id AS VARCHAR)), doc_id)
             AS shuffle_order
    FROM documents
    """,
)
def q106_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global corpus permutation
    (operators/sampling.py:deterministic_shuffle) — the reproducible
    "shuffle the training data" step. Position = global rank of
    md5(seed||key), computed by the two-stage distributed rank
    (operators/ranking.py), so no single-partition stage at any corpus
    size; the DuckDB oracle recomputes the identical permutation from
    the identical hashes. [extension]"""
    from db2pq_spark.operators.sampling import deterministic_shuffle

    docs = t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, "doc_id", seed="epoch0") \
        .select("doc_id", "shuffle_order")


@query(
    "q107_incremental_dedup",
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
      SELECT b.id AS batch_id, c.id AS corpus_id,
             len(list_intersect(b.grams, c.grams))
               / (len(b.grams) + len(c.grams)
                  - len(list_intersect(b.grams, c.grams))) AS jaccard
      FROM sh b JOIN sh c ON b.id % 5 = 0 AND c.id % 5 <> 0
    )
    SELECT batch_id, corpus_id, jaccard FROM j WHERE jaccard >= 0.6
    """,
)
def q107_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: probe a (small) new-crawl batch against the
    standing corpus — the daily-increment shape of dedup at 100 TB,
    where the corpus never shuffles (batch band keys broadcast in,
    verification broadcasts candidates back into a corpus scan; see
    operators/dedup.py:minhash_dedup_incremental).

    Gate split: every 5th document plays the "new batch", the rest the
    corpus. Oracle: exact batch×corpus 3-shingle Jaccard — structural
    recall like q36's gate: 32 bands × 2 rows collide with
    probability 1 − (1−j²)³² ≥ 1 − 6.3e−7 for every pair at or above
    the 0.6 threshold, and the hot-bucket guard is off
    (max_bucket=None) so nothing is silently dropped. Production
    defaults (16×4, capped) stay on the operator. [extension]"""
    from db2pq_spark.operators.dedup import minhash_dedup_incremental

    docs = t(spark, sf_dir, "documents")
    return minhash_dedup_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "text", "doc_id",
        num_hashes=64, bands=32, threshold=0.6, max_bucket=None,
        shingle_repr="text",
    )


@production("q107_incremental_dedup")
def _q107_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup at operator defaults: 16×4 capped banding,
    hashed-long shingles. The gate pins 32×2 uncapped text shingles so
    its oracle is an exact all-pairs Jaccard replay."""
    from db2pq_spark.operators.dedup import minhash_dedup_incremental

    docs = t(spark, sf_dir, "documents")
    return minhash_dedup_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0), "text", "doc_id")


@query(
    "q108_incremental_exact_dedup",
    oracle=f"""
    WITH h AS (
      SELECT doc_id AS id, md5({_NORM}) AS content_hash FROM documents
    ),
    b AS (SELECT * FROM h WHERE id % 5 = 0),
    c AS (SELECT DISTINCT content_hash FROM h WHERE id % 5 <> 0)
    SELECT b.id, b.content_hash,
           (c.content_hash IS NOT NULL) AS is_duplicate
    FROM b LEFT JOIN c ON b.content_hash = c.content_hash
    """,
)
def q108_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash incremental dedup: flag new-batch documents whose
    normalized content already exists in the corpus
    (operators/dedup.py:exact_dedup_incremental). Same corpus-side
    discipline as q107 — the corpus scan is semi-filtered by the
    broadcast batch hash set and never shuffles. Oracle: the identical
    md5-of-normalized-text comparison in DuckDB. [extension]"""
    from db2pq_spark.operators.dedup import exact_dedup_incremental

    docs = t(spark, sf_dir, "documents")
    return exact_dedup_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "text", "doc_id",
    )


@query(
    "q99_repetition_profile",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    stats AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             ROUND(len(list_distinct(toks)) / len(toks), 6)
               AS distinct_token_ratio
      FROM toks
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> concat_ws(' ', toks[i], toks[i+1]))) AS bg
      FROM toks WHERE len(toks) >= 2
    ),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
    top AS (SELECT doc_id, MAX(c) AS top_c,
                   CAST(SUM(c) AS BIGINT) AS n_bigrams
            FROM cnt GROUP BY doc_id)
    SELECT s.doc_id, s.n_tokens, s.distinct_token_ratio,
           CAST(COALESCE(t.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(CASE WHEN t.n_bigrams > 0 THEN t.top_c / t.n_bigrams
                      ELSE 0.0 END, 6) AS top_bigram_fraction
    FROM stats s LEFT JOIN top t USING (doc_id)
    """,
)
def q99_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: vocabulary
    richness (distinct-token ratio) and top-bigram concentration
    (operators/repetition.py:repetition_profile). Two doc-keyed
    shuffles + an AQE-sized doc join; linear in corpus tokens, no
    skewable keys. [extension]"""
    from db2pq_spark.operators.repetition import repetition_profile

    return repetition_profile(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q100_heavy_hitters",
    oracle=f"""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest({_TOKENS}) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 25
    """,
)
def q100_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: exact token-frequency top-25
    (operators/repetition.py:top_tokens). explode → partial+final agg
    (map-side combine collapses each partition to its vocabulary) →
    TakeOrderedAndProject; the only shuffle is keyed by token and
    carries vocabulary-sized data, not corpus-sized. [extension]"""
    from db2pq_spark.operators.repetition import top_tokens

    return top_tokens(t(spark, sf_dir, "documents"), "text", 25)


@query(
    "q101_pii_scrub",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
             AS props_redactions
    FROM events
    """,
)
def q101_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped redaction (operators/repetition.py:scrub_pii —
    digit-run kind, the only PII class present in the synthetic
    fixtures; email/phone/IPv4 kinds unit-tested on literal rows).
    Narrow codegen'd projection: regexp_replace + regexp_count, zero
    shuffles at any scale. [extension]"""
    from db2pq_spark.operators.repetition import scrub_pii

    e = t(spark, sf_dir, "events")
    return scrub_pii(e, "props", kinds=("number",), token="<NUM>") \
        .select("event_id", "props", "props_redactions")


@query(
    "q102_duplicate_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2]))))
               AS h
      FROM toks WHERE len(toks) >= 3
    ),
    hc AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS c FROM g
    )
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_spans,
           ROUND(CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 / COUNT(*), 6) AS dup_span_ratio
    FROM hc GROUP BY doc_id
    """,
)
def q102_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate detection (Lee et al. 2107.06499
    re-expressed relationally — operators/dedup.py:duplicate_spans):
    per-document fraction of token spans whose exact content recurs
    anywhere in the corpus. Trigram spans here (the synthetic corpus's
    small vocabulary makes longer exact repeats vanishingly rare);
    production length 20-50 is a parameter. One window shuffle on the
    span key + one doc-keyed aggregate — no pair materialization, never
    quadratic. Gate-exactness config: ``span_hash="md5"`` so DuckDB
    replays the keys bit-for-bit; production default is ``xxhash64``
    (8-byte long keys, ~4× less shuffle width — bench times that
    config). [extension]"""
    from db2pq_spark.operators.dedup import duplicate_spans

    return duplicate_spans(t(spark, sf_dir, "documents"), "text", "doc_id",
                           n=3, span_hash="md5")


@production("q102_duplicate_spans")
def _q102_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator default span keys: xxhash64 (8-byte longs, ~4× less
    shuffle width than the md5 hex strings the gate pins so DuckDB can
    replay the keys)."""
    from db2pq_spark.operators.dedup import duplicate_spans

    return duplicate_spans(t(spark, sf_dir, "documents"), "text",
                           "doc_id", n=3)


@query(
    "q103_vocab_encode",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS freq
      FROM (SELECT unnest(toks) AS token FROM toks)
      GROUP BY token
    ),
    vocab AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1
                  AS BIGINT) AS token_id
      FROM (SELECT * FROM counts ORDER BY freq DESC, token LIMIT 30)
    ),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
      FROM toks
    ),
    enc AS (
      SELECT p.doc_id, p.i - 1 AS pos,
             COALESCE(v.token_id, -1) AS tid
      FROM (SELECT doc_id, i, toks[i] AS token FROM pos) p
      LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           CAST(len(list(tid ORDER BY pos)) AS BIGINT) AS n_tokens,
           array_to_string(list(tid ORDER BY pos), ' ') AS token_ids_str
    FROM enc GROUP BY doc_id
    """,
)
def q103_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + document encoding
    (operators/vocab.py): top-30 frequency-ranked token ids (total
    tie-broken order → deterministic ids), documents re-encoded as
    ordered bigint-id sequences with OOV = −1 — the training-prep step
    feeding sequence packing. Vocab never touches the driver: encode is
    explode → (broadcast-sized) vocab join → one doc-keyed reassembly
    shuffle.

    Gate shape: the id sequence is emitted space-joined
    (``token_ids_str``) because the driver's canonicalizer cannot sort
    array cells; real users call ``encode_documents`` and keep the
    ``array<bigint>``. [extension]"""
    from db2pq_spark.operators.vocab import build_vocab, encode_documents

    docs = t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", max_size=30)
    enc = encode_documents(docs, "text", "doc_id", vocab)
    return enc.select(
        "doc_id", "n_tokens",
        F.concat_ws(" ", F.col("token_ids").cast("array<string>"))
         .alias("token_ids_str"))


@query(
    "q104_decontamination",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, {_TOKENS} AS toks FROM documents
    ),
    sp AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(toks) - 3),
                    i -> md5(concat_ws(' ', toks[i], toks[i+1],
                                       toks[i+2], toks[i+3])))) AS h
      FROM d WHERE len(toks) >= 4
    ),
    bench AS (SELECT DISTINCT h FROM sp WHERE source = 'src0'),
    train AS (SELECT doc_id, h FROM sp WHERE source <> 'src0'),
    hits AS (
      SELECT doc_id, COUNT(*) AS contaminated_spans
      FROM train WHERE h IN (SELECT h FROM bench)
      GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM train GROUP BY doc_id)
    SELECT t.doc_id, t.n_spans,
           CAST(COALESCE(x.contaminated_spans, 0) AS BIGINT)
             AS contaminated_spans,
           COALESCE(x.contaminated_spans, 0) > 0 AS contaminated
    FROM totals t LEFT JOIN hits x USING (doc_id)
    """,
)
def q104_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (n-gram overlap test-set-leakage
    check, operators/dedup.py:contamination_stats): docs from source
    'src0' act as the held-out benchmark; every other doc is scored by
    how many of its 4-token spans occur in the benchmark. The distinct
    benchmark-span side is broadcast (benchmarks are tiny next to the
    corpus); training spans stream through a semi-join probe. 4-token
    spans here for the synthetic corpus's tiny vocabulary; production
    uses the 13-gram default. Gate-exactness config: ``span_hash="md5"``
    (DuckDB-replayable keys); production default is xxhash64.
    [extension]"""
    from db2pq_spark.operators.dedup import contamination_stats

    docs = t(spark, sf_dir, "documents")
    return contamination_stats(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        "text", "doc_id", n=4, span_hash="md5")


@query(
    "q105_label_centroids",
    oracle="""
    WITH pe AS (
      SELECT label, unnest(generate_series(1, len(embedding))) AS i,
             embedding
      FROM embeddings
    ),
    comp AS (
      SELECT label, i - 1 AS dim,
             CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                           AS DECIMAL(28,10))) AS DOUBLE)
               / COUNT(*) AS m,
             COUNT(*) AS c
      FROM pe GROUP BY label, i
    ),
    nv AS (
      SELECT label, CAST(MAX(c) AS BIGINT) AS n_vectors
      FROM comp GROUP BY label
    )
    SELECT label, n_vectors, CAST(dim AS INT) AS dim,
           ROUND(m, 6) AS value
    FROM comp JOIN nv USING (label)
    """,
)
def q105_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids
    (operators/similarity.py:label_centroids) — the recompute-centroids
    step of IVF/k-means training as a pure relational plan: posexplode
    fan-out (narrow) → exact-decimal partial+final aggregate
    (|labels|×|dims| rows shuffle, corpus never re-shuffles) → per-label
    reassembly.

    Gate shape: the centroid array is exploded to one (label, dim,
    value) row per slot because the driver's canonicalizer cannot sort
    array cells; real users call ``label_centroids`` and keep the
    ``array<double>``. [extension]"""
    from db2pq_spark.operators.similarity import label_centroids

    c = label_centroids(t(spark, sf_dir, "embeddings"),
                        "embedding", "label")
    return c.select("label", "n_vectors",
                    F.posexplode("centroid").alias("dim", "value"))


def _q109_oracle() -> str:
    from db2pq_spark.operators.mixing import (
        mix_units_sql, mix_frac_keep_sql)

    units = mix_units_sql("source", "tot", _MIX_WEIGHTS, _MIX_BUDGET,
                          max_epochs=4)
    keep = mix_frac_keep_sql("doc_id", "frac", salt=_MIX_SALT)
    return f"""
    WITH sz AS (
      SELECT source, SUM(n_chars) AS tot FROM documents GROUP BY source
    ),
    u AS (
      SELECT source, {units} AS units FROM sz
    ),
    d AS (
      SELECT doc_id, dd.source, n_chars,
             units // 1000000 AS full_e, units % 1000000 AS frac
      FROM documents dd JOIN u USING (source)
      WHERE units IS NOT NULL
    ),
    c AS (
      SELECT doc_id, source, n_chars,
             full_e + CASE WHEN {keep} THEN 1 ELSE 0 END AS copies
      FROM d
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(unnest(generate_series(CAST(0 AS BIGINT),
                                       CAST(copies - 1 AS BIGINT)))
                AS BIGINT) AS epoch
    FROM c WHERE copies > 0
    """


#: q109 config: src0 heavily over-weighted (exercises integer upsampling
#: epochs + fractional threshold), src2/src3 under-weighted
#: (downsampling); absolute budget so each fixture scale lands in a
#: different regime (sf0.001 hits the max_epochs cap, sf0.1 is pure
#: downsampling) — all on the same arithmetic.
_MIX_WEIGHTS = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0}
_MIX_BUDGET = 40_000
_MIX_SALT = "mix1"


@query("q109_source_mix", oracle=_q109_oracle())
def q109_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus mixing (operators/mixing.py:mix_corpus): Pile /
    Dolma-style per-source weights resolved against a character budget
    — oversized sources deterministically downsample, undersized ones
    repeat for up to 4 epochs (integer bucket-unit rates, so the
    Spark plan and the SQL oracle agree bit-for-bit). One tiny
    per-source aggregate; the corpus itself never shuffles — broadcast
    decision join + md5-threshold filter + bounded explode.
    [extension]"""
    from db2pq_spark.operators.mixing import mix_corpus

    mixed = mix_corpus(
        t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id",
        _MIX_WEIGHTS, _MIX_BUDGET, salt=_MIX_SALT, max_epochs=4)
    return mixed.select("doc_id", "source",
                        F.col("n_chars").cast("bigint").alias("n_chars"),
                        "epoch")


@query(
    "q110_quantize_embeddings",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, embedding,
             CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS scale
      FROM s
    )
    SELECT vec_id,
           CAST(i - 1 AS INT) AS dim,
           CAST(CASE WHEN scale > 0
                     THEN round(CAST(embedding[i] AS DOUBLE) / scale, 0)
                     ELSE 0.0 END AS INT) AS code,
           round(scale, 9) AS scale_r
    FROM sc, unnest(generate_series(1, len(embedding))) AS t(i)
    """,
)
def q110_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 embedding quantization
    (operators/quantize.py) — the 4× storage cut for vector columns at
    rest, bounded error scale/2 per component. Pure narrow codegen
    projections, zero shuffles; arithmetic is engine-portable
    (round-half-away-from-zero on float64), which is exactly what the
    oracle verifies.

    Gate shape: codes explode to (vec_id, dim, code) scalars (driver
    canon cannot sort array cells); real users keep the
    ``array<tinyint>`` + scale columns. [extension]"""
    from db2pq_spark.operators.quantize import quantize_embeddings

    q = quantize_embeddings(t(spark, sf_dir, "embeddings"), "embedding")
    return q.select(
        "vec_id",
        F.posexplode("qvec").alias("dim", "code"),
        F.round("qscale", 9).alias("scale_r"),
    ).select("vec_id", F.col("dim").cast("int").alias("dim"),
             F.col("code").cast("int").alias("code"), "scale_r")


@production("q110_quantize_embeddings")
def _q110_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production output shape: (vec_id, qvec array<tinyint>,
    qscale). The gate posexplodes every code to scalars because the
    driver's canon cannot sort array cells; at sf0.1 that times an
    |vecs|×dim row transfer, not the operator (pure narrow codegen)."""
    from db2pq_spark.operators.quantize import quantize_embeddings

    return quantize_embeddings(t(spark, sf_dir, "embeddings"),
                               "embedding").select("vec_id", "qvec",
                                                   "qscale")


def _q111_oracle() -> str:
    from db2pq_spark.operators.bloom import bloom_member_sql

    member = bloom_member_sql(
        "doc_id", "SELECT doc_id AS key FROM documents "
                  "WHERE source IN ('src0', 'src1')",
        n_bits=1 << 16, k=4, salt="bloom1")
    return f"""
    SELECT doc_id, source, {member} AS might_contain
    FROM documents
    """


@query("q111_bloom_probe", oracle=_q111_oracle())
def q111_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (operators/bloom.py): build a fixed-size
    bitmap over the src0/src1 document ids, probe every document.
    Zero false negatives by construction (asserted in tests); the
    md5-derived bit positions replay bit-for-bit in the oracle, so
    even the false POSITIVES match — the filter itself is verified,
    not just its lower bound. Build is one bounded word-OR aggregate;
    probe broadcasts the single bitmap row — the 100 TB
    "shrink the broadcast side" primitive for the incremental dedup /
    decontamination joins. [extension]"""
    from db2pq_spark.operators.bloom import bloom_build, bloom_probe

    docs = t(spark, sf_dir, "documents")
    bloom = bloom_build(
        docs.where(F.col("source").isin("src0", "src1")), "doc_id",
        n_bits=1 << 16, k=4, salt="bloom1")
    return bloom_probe(docs, "doc_id", bloom) \
        .select("doc_id", "source", "might_contain")


@query(
    "q112_unigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, unnest(toks) AS tok FROM toks
    ),
    vocab AS (
      SELECT tok, COUNT(*) AS c FROM e GROUP BY tok
    ),
    tot AS (SELECT SUM(c) AS n_ref FROM vocab),
    s AS (
      SELECT tok,
             CAST(round(-log2(CAST(c AS DOUBLE)
                              / CAST(n_ref AS DOUBLE)), 6)
                  AS DECIMAL(28,10)) AS s
      FROM vocab, tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(s) AS DECIMAL(38,10)) AS sum_surprisal
    FROM e JOIN s USING (tok)
    GROUP BY doc_id
    """,
)
def q112_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal
    (operators/textstats.py:unigram_surprisal): mean per-token
    ``-log2 p`` under the corpus's own unigram distribution — the
    relational form of perplexity-band filtering. One explode + one
    vocabulary aggregate + an AQE-broadcast probability join + one
    doc-keyed re-aggregate; per-token surprisals are rounded then
    DECIMAL-accumulated so the sum is order-independent and the DuckDB
    oracle replays it exactly (the gate compares the exact decimal
    SUM — a rounded double mean sits on rounding boundaries an ulp
    apart across engines; users read ``mean_surprisal``). [extension]"""
    from db2pq_spark.operators.textstats import unigram_surprisal

    return unigram_surprisal(
        t(spark, sf_dir, "documents"), "text", "doc_id") \
        .withColumnRenamed("id", "doc_id") \
        .select("doc_id", "n_tokens", "sum_surprisal")


def _q113_oracle() -> str:
    from db2pq_spark.operators.mixing import (
        mix_frac_keep_sql, mix_units_sql)

    units = mix_units_sql("source", "tot", _PIPE_WEIGHTS, _PIPE_BUDGET,
                          max_epochs=4)
    keep = mix_frac_keep_sql("doc_id", "frac", salt=_PIPE_SALT)
    return f"""
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents GROUP BY md5({_NORM})
    ),
    filt AS (
      SELECT d.doc_id, d.source, d.n_chars
      FROM documents d JOIN keepers USING (doc_id)
      WHERE d.n_chars BETWEEN 150 AND 450
    ),
    sz AS (
      SELECT source, SUM(n_chars) AS tot FROM filt GROUP BY source
    ),
    u AS (SELECT source, {units} AS units FROM sz),
    d AS (
      SELECT doc_id, ff.source, n_chars,
             units // 1000000 AS full_e, units % 1000000 AS frac
      FROM filt ff JOIN u USING (source)
      WHERE units IS NOT NULL
    ),
    c AS (
      SELECT doc_id, source, n_chars,
             full_e + CASE WHEN {keep} THEN 1 ELSE 0 END AS copies
      FROM d
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(unnest(generate_series(CAST(0 AS BIGINT),
                                       CAST(copies - 1 AS BIGINT)))
                AS BIGINT) AS epoch
    FROM c WHERE copies > 0
    """


#: q113 pipeline config: dedup → quality band → mix (src0 upsampled,
#: src1/src2 near- or below-parity); absolute budget, same regime
#: spread across fixture scales as q109.
_PIPE_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src2": 1.0}
_PIPE_BUDGET = 20_000
_PIPE_SALT = "pipe1"


@query("q113_training_pipeline", oracle=_q113_oracle())
def q113_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-prep composition — the operators chained
    the way a real corpus build runs them: exact dedup (keep the min
    id per normalized content), a quality band filter (n_chars in
    [150, 450]), then weighted source mixing to a character budget
    (operators/dedup.py:exact_dedup + operators/mixing.py:mix_corpus).
    Every stage stays narrow or key-shuffled: dedup is one content-hash
    aggregate + a semi join, the filter folds into the scan, mixing is
    a broadcast decision join — nothing quadratic, nothing
    driver-bound. One exact oracle hash-verifies the whole chain, not
    just the stages in isolation. [extension]"""
    from db2pq_spark.operators.dedup import exact_dedup
    from db2pq_spark.operators.mixing import mix_corpus

    docs = t(spark, sf_dir, "documents")
    keepers = exact_dedup(docs, "text", "doc_id") \
        .select(F.col("keep_id").alias("doc_id"))
    filtered = (docs.join(keepers, "doc_id", "left_semi")
                .where(F.col("n_chars").between(150, 450)))
    mixed = mix_corpus(filtered, "source", "n_chars", "doc_id",
                       _PIPE_WEIGHTS, _PIPE_BUDGET, salt=_PIPE_SALT,
                       max_epochs=4)
    return mixed.select(
        "doc_id", "source",
        F.col("n_chars").cast("bigint").alias("n_chars"), "epoch")


@query(
    "q114_semantic_dedup",
    oracle="""
    WITH planted AS (
      SELECT vec_id FROM embeddings WHERE vec_id < 20
    ),
    members AS (
      SELECT vec_id + s.s AS vec_id, vec_id AS cluster
      FROM planted, (VALUES (0), (1000000), (2000000)) s(s)
    )
    SELECT e.vec_id,
           COALESCE(m.cluster, e.vec_id) AS cluster,
           COALESCE(m.cluster, e.vec_id) = e.vec_id AS is_kept
    FROM (SELECT vec_id FROM embeddings
          UNION ALL
          SELECT vec_id + s.s FROM planted,
                 (VALUES (1000000), (2000000)) s(s)) e
    LEFT JOIN members m USING (vec_id)
    """,
)
def q114_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup
    (operators/similarity.py:semantic_dedup, after arXiv:2303.09540):
    embedding near-dup pairs → connected components → one keeper per
    cluster, every corpus row labeled.

    Fixture augmentation mirrors q39: the random embeddings have no
    true near-dups, so each of the first 20 vectors gets TWO scaled
    clones (cosine exactly 1.0 — parallel vectors share every
    hyperplane sign, so recall is structural). The oracle derives the
    component fixpoint in closed form: each planted triple clusters to
    its base id, everything else is its own kept singleton.
    [extension]"""
    from db2pq_spark.operators.similarity import semantic_dedup

    emb = t(spark, sf_dir, "embeddings")
    planted = emb
    for shift, scale in ((1_000_000, 1.25), (2_000_000, 0.8)):
        planted = planted.unionByName(
            emb.filter(F.col("vec_id") < 20)
            .select((F.col("vec_id") + shift).alias("vec_id"),
                    F.transform("embedding",
                                lambda x: x * F.lit(scale))
                     .alias("embedding"), "label"))
    return semantic_dedup(planted, threshold=0.999)


@query(
    "q115_quantized_topk",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings
    ),
    deq AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(CASE WHEN amax > 0
                         THEN round(CAST(x AS DOUBLE) / (amax / 127.0), 0)
                         ELSE 0.0 END AS INT)
               * (CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END))
               AS embedding
      FROM s
    ),
    q AS (SELECT vec_id, embedding::DOUBLE[] AS embedding
          FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(
               list_dot_product(q.embedding, c.embedding)
               / (SQRT(list_dot_product(q.embedding, q.embedding))
                  * SQRT(list_dot_product(c.embedding, c.embedding))),
               4) AS cos
      FROM deq c, q
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def q115_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over the int8-quantized corpus
    (operators/quantize.py:quantized_cosine_topk): codes + per-vector
    scales are the stored form; reconstruction fuses into the scan as a
    narrow transform and the scoring plan is exactly q33's
    (broadcast queries, per-query window rank). The oracle replays the
    quantize→dequantize→cosine arithmetic end-to-end in DuckDB — the
    search result over LOSSY storage is still bit-verified, because the
    loss itself is deterministic. Recall vs full precision is measured
    in QUALITY.md. [extension]"""
    from db2pq_spark.operators.quantize import (
        quantize_embeddings,
        quantized_cosine_topk,
    )

    emb = t(spark, sf_dir, "embeddings")
    corpus_q = quantize_embeddings(emb, "embedding") \
        .select("vec_id", "qvec", "qscale")
    return quantized_cosine_topk(
        corpus_q, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "q116_span_removal",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
      WHERE {_HAS_TEXT}
    ),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS h
      FROM base, unnest(generate_series(1, len(toks) - 2)) AS t(i)
      WHERE len(toks) >= 3
    ),
    dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    covered AS (
      SELECT DISTINCT doc_id, pos + o.o AS ti
      FROM g JOIN dup USING (h),
           unnest(generate_series(0, 2)) AS o(o)
    ),
    tok_rows AS (
      SELECT doc_id, i - 1 AS ti, toks[i] AS tok
      FROM base, unnest(generate_series(1, len(toks))) AS t(i)
    ),
    kept AS (
      SELECT tr.doc_id,
             string_agg(tr.tok, ' ' ORDER BY tr.ti) AS clean_text,
             COUNT(*) AS n_kept
      FROM tok_rows tr
      LEFT JOIN covered c ON tr.doc_id = c.doc_id AND tr.ti = c.ti
      WHERE c.ti IS NULL
      GROUP BY tr.doc_id
    )
    SELECT b.doc_id AS id,
           COALESCE(k.clean_text, '') AS clean_text,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(b.toks) - COALESCE(k.n_kept, 0) AS BIGINT)
             AS n_removed
    FROM base b LEFT JOIN kept k USING (doc_id)
    """,
)
def q116_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (operators/dedup.py:remove_duplicate_
    spans) — the rewrite pass completing the Lee et al. 2107.06499
    exact-substring pipeline: every token covered by a corpus-
    duplicated trigram span is cut, documents reassemble from the
    surviving tokens IN-ROW (array_except on each row's own token
    array — tokens never shuffle; only duplicated span starts do). The
    oracle rebuilds the identical cleaned strings in DuckDB.
    Gate-exactness config: ``span_hash="md5"``; production default is
    xxhash64 (bench times that config). [extension]"""
    from db2pq_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        n=3, min_count=2, span_hash="md5")


@production("q116_span_removal")
def _q116_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator default keys: xxhash64 with the in-row array_except
    cut (the q102 split: the gate pins md5)."""
    from db2pq_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(t(spark, sf_dir, "documents"), "text",
                                  "doc_id", n=3, min_count=2)


#: q117: two Lloyd iterations, k=4, round scale 9 — each CTE pair
#: (d/a = exact-decimal distances + argmin assignment, m/c = decimal
#: mean update, f = empty-cluster fallback) replays one Spark round
_Q117_SQL = """
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             vec AS centroid
      FROM (SELECT id, vec FROM base ORDER BY id LIMIT 4)
    ),
    d1 AS (
      SELECT b.id, c.cluster,
             SUM(CAST((b.vec[i] - c.centroid[i])
                      * (b.vec[i] - c.centroid[i])
                      AS DECIMAL(28,10))) AS d2
      FROM base b, c0 c,
           unnest(generate_series(1, len(b.vec))) AS t(i)
      GROUP BY b.id, c.cluster
    ),
    a1 AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY d2, cluster) AS rn
        FROM d1) WHERE rn = 1
    ),
    m1 AS (
      SELECT a.cluster, i - 1 AS dim,
             ROUND(CAST(SUM(CAST(b.vec[i] AS DECIMAL(28,10)))
                        AS DOUBLE) / COUNT(*), 9) AS m
      FROM a1 a JOIN base b USING (id),
           unnest(generate_series(1, len(b.vec))) AS t(i)
      GROUP BY a.cluster, i
    ),
    c1 AS (
      SELECT c0.cluster,
             COALESCE(n.centroid, c0.centroid) AS centroid
      FROM c0 LEFT JOIN (
        SELECT cluster, array_agg(m ORDER BY dim) AS centroid
        FROM m1 GROUP BY cluster) n USING (cluster)
    ),
    d2_ AS (
      SELECT b.id, c.cluster,
             SUM(CAST((b.vec[i] - c.centroid[i])
                      * (b.vec[i] - c.centroid[i])
                      AS DECIMAL(28,10))) AS d2
      FROM base b, c1 c,
           unnest(generate_series(1, len(b.vec))) AS t(i)
      GROUP BY b.id, c.cluster
    ),
    a2 AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY d2, cluster) AS rn
        FROM d2_) WHERE rn = 1
    ),
    m2 AS (
      SELECT a.cluster, i - 1 AS dim,
             ROUND(CAST(SUM(CAST(b.vec[i] AS DECIMAL(28,10)))
                        AS DOUBLE) / COUNT(*), 9) AS m
      FROM a2 a JOIN base b USING (id),
           unnest(generate_series(1, len(b.vec))) AS t(i)
      GROUP BY a.cluster, i
    ),
    c2 AS (
      SELECT c1.cluster,
             COALESCE(n.centroid, c1.centroid) AS centroid
      FROM c1 LEFT JOIN (
        SELECT cluster, array_agg(m ORDER BY dim) AS centroid
        FROM m2 GROUP BY cluster) n USING (cluster)
    ),
    d3 AS (
      SELECT b.id, c.cluster,
             SUM(CAST((b.vec[i] - c.centroid[i])
                      * (b.vec[i] - c.centroid[i])
                      AS DECIMAL(28,10))) AS d2
      FROM base b, c2 c,
           unnest(generate_series(1, len(b.vec))) AS t(i)
      GROUP BY b.id, c.cluster
    ),
    a3 AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY d2, cluster) AS rn
        FROM d3) WHERE rn = 1
    ),
    counts AS (SELECT cluster, COUNT(*) AS n_vectors
               FROM a3 GROUP BY cluster)
    SELECT CAST(c2.cluster AS INT) AS cluster,
           CAST(i - 1 AS INT) AS dim,
           c2.centroid[i] AS cval,
           CAST(COALESCE(counts.n_vectors, 0) AS BIGINT) AS n_vectors
    FROM c2
    LEFT JOIN counts USING (cluster),
         unnest(generate_series(1, len(c2.centroid))) AS t(i)
"""


@query("q117_kmeans", oracle=_Q117_SQL)
def q117_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (operators/clustering.py) — the
    oracle-able twin of the pyspark.ml quantizer q46 trains with: the
    k lowest-id vectors seed, distances accumulate as exact decimals,
    means follow the label_centroids decimal rule, and the DuckDB
    oracle replays BOTH iterations CTE-for-round — centroids and
    cluster sizes are hash-verified, not just plausible. Per-iteration
    cost: one k-row broadcast + one id-keyed argmin shuffle + one
    (cluster, dim) aggregate; the only driver materialization is the
    k×dim centroid matrix (bounded fold).

    Gate shape: (cluster, dim, cval, n_vectors) scalars (driver canon
    cannot sort array cells); real users call kmeans_fit directly for
    the assignments relation + matrix. [extension]"""
    from db2pq_spark.operators.clustering import kmeans_fit

    emb = t(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_fit(emb, "embedding", "vec_id",
                                     k=4, iterations=2)
    counts = assigned.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"))
    cdf = spark.createDataFrame(
        [(ci, c) for ci, c in enumerate(centroids)],
        "cluster int, centroid array<double>")
    return (
        cdf.select("cluster",
                   F.posexplode("centroid").alias("dim", "cval"))
        .join(counts, "cluster", "left")
        .select("cluster", F.col("dim").cast("int").alias("dim"),
                "cval",
                F.coalesce("n_vectors", F.lit(0)).cast("bigint")
                .alias("n_vectors"))
    )


@production("q117_kmeans")
def _q117_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """impl="arrow": BLAS assignment with the vectors carried through
    the Arrow batch, zero joins. The gate runs the exact-decimal config
    so its oracle replays both iterations bit-for-bit."""
    from db2pq_spark.operators.clustering import kmeans_fit

    assigned, _ = kmeans_fit(t(spark, sf_dir, "embeddings"), "embedding",
                             "vec_id", k=4, iterations=2, impl="arrow")
    return assigned.groupBy("cluster").count()


def _q118_sql() -> str:
    from db2pq_spark.operators.sampling import split_assign_sql

    case = split_assign_sql("doc_id", {"train": 0.8, "test": 0.2})
    return f"""
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
    ),
    sp AS (SELECT doc_id, {case} AS split FROM documents)
    SELECT j.id1, j.id2, s1.split AS split1, s2.split AS split2,
           j.jaccard
    FROM j
    JOIN sp s1 ON s1.doc_id = j.id1
    JOIN sp s2 ON s2.doc_id = j.id2
    WHERE j.jaccard >= 0.6 AND s1.split <> s2.split
    """


@query("q118_split_leakage", oracle=_q118_sql())
def q118_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit — the eval-hygiene composition: a
    deterministic md5 split (operators/sampling.py:split_assign, the
    q66 primitive) crossed with MinHash near-dup pairs (q36's
    exactness configuration, so the oracle is exact all-pairs
    Jaccard): every near-duplicate pair STRADDLING the split boundary
    is surfaced with both memberships — the pairs an honest eval must
    drop from test. Pair generation stays banded (never quadratic);
    the split join is two id-keyed hash joins on the tiny pair
    relation; the split itself is a narrow hash expression on the
    corpus. [extension]"""
    from db2pq_spark.operators.dedup import minhash_dedup
    from db2pq_spark.operators.sampling import split_assign

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "text", "doc_id", num_hashes=64,
                          bands=32, threshold=0.6, max_bucket=None,
                          shingle_repr="text")
    sp = split_assign(docs, "doc_id", {"train": 0.8, "test": 0.2}) \
        .select("doc_id", "split")
    return (
        pairs
        .join(sp.withColumnsRenamed({"doc_id": "id1",
                                     "split": "split1"}), "id1")
        .join(sp.withColumnsRenamed({"doc_id": "id2",
                                     "split": "split2"}), "id2")
        .where(F.col("split1") != F.col("split2"))
        .select("id1", "id2", "split1", "split2", "jaccard")
    )


@production("q118_split_leakage")
def _q118_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage audit at minhash_dedup's production defaults (16×4
    banding, cap 1000, Arrow kernel). The gate pins 32×2 uncapped
    banding so its oracle is exact all-pairs Jaccard."""
    from db2pq_spark.operators.dedup import minhash_dedup
    from db2pq_spark.operators.sampling import split_assign

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "text", "doc_id")
    sp = split_assign(docs, "doc_id", {"train": 0.8, "test": 0.2}) \
        .select("doc_id", "split")
    return (pairs
            .join(sp.withColumnsRenamed(
                {"doc_id": "id1", "split": "split1"}), "id1")
            .join(sp.withColumnsRenamed(
                {"doc_id": "id2", "split": "split2"}), "id2")
            .where(F.col("split1") != F.col("split2")))


#: q119: winnowing with k=4-token grams, window w=3, pairs sharing >= 2
#: fingerprints — the oracle recomputes the identical md5_60 k-gram
#: hashes, window minima, and fingerprint self-join
_Q119_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
      WHERE {_HAS_TEXT}
    ),
    kh AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - 3),
               i -> CAST(('0x' || substr(md5(concat_ws(' ', toks[i],
                          toks[i+1], toks[i+2], toks[i+3])), 1, 15))
                         AS BIGINT)) AS kh
      FROM base WHERE len(toks) >= 4
    ),
    fps AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(1, len(kh) - 2)),
               i -> list_aggregate(kh[i:i+2], 'min'))) AS fp
      FROM kh
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
"""


@query("q119_winnow_overlap", oracle=_Q119_SQL)
def q119_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap candidates via winnowing fingerprints
    (operators/dedup.py:winnow_overlap_pairs — Schleimer et al.,
    SIGMOD 2003): hash every 4-token gram, keep each 3-window's
    minimum hash, pair documents sharing ≥ 2 selected fingerprints.
    Unlike MinHash this carries a guarantee: any shared run of
    ≥ w+k−1 = 6 tokens surfaces the pair. Fingerprinting is fully
    in-row; the fingerprint self-join is the only wide op.
    Gate-exactness config: ``max_bucket=None`` (production default
    caps corpus-hot fingerprints at 1000 docs — boilerplate buckets
    say nothing pairwise and grow quadratically) and
    ``token_hash="md5_60"`` so DuckDB replays the fingerprint hashes
    bit-for-bit (production default is ``xxhash64`` longs — cheaper to
    compute and ~4× narrower on the self-join shuffle). [extension]"""
    from db2pq_spark.operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        k=4, w=3, min_shared=2, max_bucket=None, token_hash="md5_60")


@production("q119_winnow_overlap")
def _q119_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator defaults: 5-token grams, window 4, hot-fingerprint cap
    1000, arrow64 long fingerprints from the Arrow numpy kernel. The
    gate pins k=4/w=3 uncapped md5_60 so its oracle replays every
    pair."""
    from db2pq_spark.operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(t(spark, sf_dir, "documents"), "text",
                                "doc_id", min_shared=2)


def _q120_round_sql(r: int, vin: str, vout: str) -> str:
    """One BPE round as SQL CTEs: pair counts over ``{vin}``, the
    winning pair ``b{r}`` (count desc, pair asc — the engine's exact
    tie-break), greedy-thinned merge positions (every other occurrence
    within consecutive runs, closed-form via the i−ROW_NUMBER run
    grouping), and the rewritten vocab ``{vout}``."""
    return f"""
    p{r} AS (
      SELECT concat_ws(' ', sym[i], sym[i+1]) AS pair,
             SUM(freq) AS cnt
      FROM (SELECT freq, sym,
                   unnest(generate_series(1, len(sym) - 1)) AS i
            FROM {vin} WHERE len(sym) >= 2)
      GROUP BY 1
    ),
    b{r} AS (
      SELECT {r} AS merge_round, split_part(pair, ' ', 1) AS lft,
             split_part(pair, ' ', 2) AS rgt,
             CAST(cnt AS BIGINT) AS cnt
      FROM p{r} ORDER BY cnt DESC, pair ASC LIMIT 1
    ),
    occ{r} AS (
      SELECT u.word, u.i
      FROM (SELECT word, sym,
                   unnest(generate_series(1, len(sym) - 1)) AS i
            FROM {vin} WHERE len(sym) >= 2) u, b{r} b
      WHERE u.sym[u.i] = b.lft AND u.sym[u.i+1] = b.rgt
    ),
    sel{r} AS (
      SELECT word, i FROM (
        SELECT word, i, MIN(i) OVER (PARTITION BY word, grp) AS strt
        FROM (SELECT word, i,
                     i - ROW_NUMBER() OVER (PARTITION BY word
                                            ORDER BY i) AS grp
              FROM occ{r}))
      WHERE (i - strt) % 2 = 0
    ),
    sl{r} AS (SELECT word, list(i ORDER BY i) AS sels
              FROM sel{r} GROUP BY word),
    {vout} AS (
      SELECT v.word, v.freq,
             CASE WHEN s.sels IS NULL THEN v.sym ELSE
               list_filter(list_transform(generate_series(1, len(v.sym)),
                 j -> CASE WHEN list_contains(s.sels, j)
                           THEN b.lft || b.rgt
                           WHEN list_contains(s.sels, j - 1) THEN NULL
                           ELSE v.sym[j] END),
                 x -> x IS NOT NULL) END AS sym
      FROM {vin} v LEFT JOIN sl{r} s USING (word) CROSS JOIN b{r} b
    )"""


_Q120_SQL = f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest({_TOKENS}) AS w FROM documents
        WHERE {_HAS_TEXT})
      WHERE w <> '' GROUP BY 1
    ),
    v0 AS (SELECT word, freq, string_split(word, '') AS sym FROM wf),
    {_q120_round_sql(1, 'v0', 'v1')},
    {_q120_round_sql(2, 'v1', 'v2')}
    SELECT merge_round, lft, rgt, cnt FROM b1
    UNION ALL
    SELECT merge_round, lft, rgt, cnt FROM b2
"""


@query("q120_bpe_merges", oracle=_Q120_SQL)
def q120_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BPE merge learning (operators/bpe.py:bpe_train —
    Sennrich et al., ACL 2016): two merge rounds over the corpus
    word-frequency table, each round's winning adjacent symbol pair
    picked by weighted count (ties → lexicographically smallest pair)
    and applied greedy-leftmost. The oracle replays BOTH rounds
    CTE-for-round (q117's k-means pattern), including the greedy
    every-other thinning of a==b runs via a window-function closed
    form. The corpus is read ONCE (word counts); every round is
    in-row on the vocab relation + one tiny pair aggregate + a 1-row
    driver collect. [extension]"""
    from db2pq_spark.operators.bpe import bpe_train

    rules, _ = bpe_train(t(spark, sf_dir, "documents"), "text",
                         merges=2)
    return spark.createDataFrame(
        [(r, lft, rgt, cnt) for (r, lft, rgt, cnt) in rules],
        "merge_round int, lft string, rgt string, cnt bigint")


_Q121_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
      WHERE {_HAS_TEXT}
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2)
    ),
    bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
    ),
    ctx AS (
      SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM bc GROUP BY 1
    ),
    cont AS (
      SELECT w2, COUNT(*) AS n1b FROM bc GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS nt FROM bc),
    probs AS (
      SELECT w1, w2,
             CAST(round(-log2(
               greatest(CAST(c12 AS DOUBLE) - 0.75e0, 0e0)
                 / CAST(c1 AS DOUBLE)
               + (0.75e0 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE))
                 * (CAST(n1b AS DOUBLE) / CAST(nt AS DOUBLE))), 6)
                  AS DECIMAL(28,10)) AS s
      FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(s) AS DECIMAL(38,10)) AS sum_surprisal
    FROM bg JOIN probs USING (w1, w2)
    GROUP BY doc_id
"""


@query("q121_kneser_ney", oracle=_Q121_SQL)
def q121_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram surprisal per document
    (operators/textstats.py:kneser_ney_bigrams — Kneser & Ney 1995,
    Chen & Goodman 1998): discounted bigram probability backed off to
    the continuation-count distribution, the classic LM quality signal
    one step above unigram perplexity. Consecutive pairs via
    arrays_zip of the shifted token array (no lambda — the explode
    stays canonicalizable); one corpus explode into the zipf-collapsed
    bigram-count aggregate, three vocabulary-sized statistics
    aggregates, probability join back, doc-keyed re-aggregate.
    Per-bigram −log2 p rounded then DECIMAL-accumulated (the q112
    exactness pattern) so DuckDB replays the sum bit-for-bit; the
    oracle mirrors the engine's IEEE evaluation order exactly.
    [extension]"""
    from db2pq_spark.operators.textstats import kneser_ney_bigrams

    return (kneser_ney_bigrams(t(spark, sf_dir, "documents"),
                               "text", "doc_id")
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_bigrams", "sum_surprisal"))


@production("q121_kneser_ney")
def _q121_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keys="hash" (xxhash64 long bigram keys, ~4× narrower shuffles)
    with the Zipf-asserted stats broadcast. The gate keys by the bigram
    strings so DuckDB replays every statistic exactly."""
    from db2pq_spark.operators.textstats import kneser_ney_bigrams

    return kneser_ney_bigrams(t(spark, sf_dir, "documents"), "text",
                              "doc_id", keys="hash", broadcast_stats=True)


_Q122_SQL = f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest({_TOKENS}) AS w FROM documents
        WHERE {_HAS_TEXT})
      WHERE w <> '' GROUP BY 1
    ),
    v0 AS (SELECT word, freq, string_split(word, '') AS sym FROM wf),
    {_q120_round_sql(1, 'v0', 'v1')},
    {_q120_round_sql(2, 'v1', 'v2')},
    e AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest({_TOKENS}) AS w FROM documents
        WHERE {_HAS_TEXT})
      WHERE w <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(v2.sym)) AS BIGINT) AS n_subwords
    FROM e JOIN v2 ON e.w = v2.word
    GROUP BY doc_id
"""


@query("q122_bpe_segment", oracle=_Q122_SQL)
def q122_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train→apply composition (operators/bpe.py:bpe_segment):
    learn 2 merge rounds from the corpus word-frequency relation
    (q120's trainer), then segment every document by joining its
    tokens against the trained (word → symbols) vocabulary — per-word
    segmentation computed once per DISTINCT word, never per
    occurrence. The oracle replays both merge rounds CTE-for-round
    (q120's replay) and joins the final segmented vocab back to the
    exploded corpus. Per-doc n_words/n_subwords is the token-budget
    statistic packing consumes. [extension]"""
    from db2pq_spark.operators.bpe import bpe_segment

    return (bpe_segment(t(spark, sf_dir, "documents"), "text",
                        "doc_id", merges=2)
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_words", "n_subwords"))


#: q123: incremental winnowing — batch (doc_id % 5 == 0) vs the
#: standing corpus; oracle recomputes md5_60 fingerprints for both
#: sides and replays the cross join exactly (gate config: uncapped)
_Q123_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
      WHERE {_HAS_TEXT}
    ),
    kh AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - 3),
               i -> CAST(('0x' || substr(md5(concat_ws(' ', toks[i],
                          toks[i+1], toks[i+2], toks[i+3])), 1, 15))
                         AS BIGINT)) AS kh
      FROM base WHERE len(toks) >= 4
    ),
    fps AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(1, len(kh) - 2)),
               i -> list_aggregate(kh[i:i+2], 'min'))) AS fp
      FROM kh
    )
    SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM fps b JOIN fps c ON b.fp = c.fp
    WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
"""


@query("q123_winnow_incremental", oracle=_Q123_SQL)
def q123_winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing screen
    (operators/dedup.py:winnow_overlap_incremental): which new-batch
    documents share ≥ 2 winnowed fingerprints with the standing
    corpus — the MOSS-guarantee member of the incremental dedup trio
    (exact / MinHash / winnow). Batch fingerprints broadcast; the
    corpus never shuffles. Gate-exactness config: md5_60 fingerprints
    (DuckDB replays them bit-for-bit), k=4/w=3, no hot cap;
    production defaults are xxhash64/k=5/w=4/cap-1000. [extension]"""
    from db2pq_spark.operators.dedup import winnow_overlap_incremental

    docs = t(spark, sf_dir, "documents")
    return winnow_overlap_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "text", "doc_id", k=4, w=3, min_shared=2, max_bucket=None,
        token_hash="md5_60")


@production("q123_winnow_incremental")
def _q123_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing at operator defaults: arrow64
    fingerprints, k=5/w=4, cap 1000. The gate pins md5_60 k=4/w=3
    uncapped so DuckDB replays the fingerprints."""
    from db2pq_spark.operators.dedup import winnow_overlap_incremental

    docs = t(spark, sf_dir, "documents")
    return winnow_overlap_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "text", "doc_id", min_shared=2)


_Q124_SQL = f"""
    WITH toks AS (
      SELECT doc_id, (source = 'src0') AS pos, {_TOKENS} AS toks
      FROM documents
    ),
    e AS (
      SELECT doc_id, pos, unnest(toks) AS tok FROM toks
    ),
    counts AS (
      SELECT tok,
             SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
             SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
      FROM e GROUP BY tok
    ),
    tot AS (
      SELECT SUM(cp) AS np, SUM(cn) AS nn, COUNT(*) AS v FROM counts
    ),
    w AS (
      SELECT tok,
             CAST(round(
               log2((CAST(cp AS DOUBLE) + 1.0e0)
                    / (CAST(np AS DOUBLE) + 1.0e0 * CAST(v AS DOUBLE)))
               - log2((CAST(cn AS DOUBLE) + 1.0e0)
                      / (CAST(nn AS DOUBLE) + 1.0e0 * CAST(v AS DOUBLE))),
               6) AS DECIMAL(28,10)) AS s
      FROM counts, tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(s) AS DECIMAL(38,10)) AS sum_logodds
    FROM e JOIN w USING (tok)
    GROUP BY doc_id
"""


@query("q124_nb_quality", oracle=_Q124_SQL)
def q124_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-classifier quality scoring
    (operators/quality.py:nb_quality_scores) — the GPT-3/CCNet-style
    "train a linear filter on a high-quality seed" step, as closed-form
    multinomial Naive Bayes: per-token log-odds from one conditional
    vocabulary aggregate (src0 documents are the positive seed), then
    a per-document DECIMAL-accumulated log-likelihood-ratio score. One
    corpus explode, one zipf-bounded vocab aggregate, an AQE-broadcast
    weight join, one doc-keyed re-aggregate. The oracle replays the
    identical probability tree (engines agree wherever their log2
    doubles agree; rounded-then-decimal sums are order-independent).
    [extension]"""
    from db2pq_spark.operators.quality import nb_quality_scores

    docs = t(spark, sf_dir, "documents")
    return (nb_quality_scores(docs, "text", "doc_id",
                              F.col("source") == "src0")
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_tokens", "sum_logodds"))


def _q125_oracle() -> str:
    from db2pq_spark.operators.sampling import hash_bucket_sql

    feat = hash_bucket_sql("gram", 4096, salt="dsir")
    u = hash_bucket_sql("id", 1_000_000, salt="dsir-gumbel")
    return f"""
    WITH toks AS (
      SELECT doc_id, (source = 'src1') AS tgt, {_TOKENS} AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, tgt, toks[i] || ' ' || toks[i + 1] AS gram
      FROM (SELECT doc_id, tgt, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2)
    ),
    f AS (
      SELECT doc_id AS id, tgt, {feat} AS feat FROM bg
    ),
    counts AS (
      SELECT feat,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
             COUNT(*) AS cr
      FROM f GROUP BY feat
    ),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM counts),
    r AS (
      SELECT feat,
             CAST(round(
               log2((CAST(ct AS DOUBLE) + 1.0e0)
                    / (CAST(nt AS DOUBLE) + 1.0e0 * 4096.0e0))
               - log2((CAST(cr AS DOUBLE) + 1.0e0)
                      / (CAST(nr AS DOUBLE) + 1.0e0 * 4096.0e0)),
               6) AS DECIMAL(28,10)) AS s
      FROM counts, tot
    ),
    lw AS (
      SELECT id,
             CAST(COUNT(*) AS BIGINT) AS n_feats,
             CAST(SUM(s) AS DECIMAL(38,10)) AS sum_logw
      FROM f JOIN r USING (feat)
      GROUP BY id
    )
    SELECT id, n_feats, sum_logw,
           round(CAST(sum_logw AS DOUBLE) / n_feats
                 + (-ln(-ln((CAST({u} AS DOUBLE) + 1.0e0)
                            / 1000001.0e0))), 6) AS gumbel_key
    FROM lw
    ORDER BY gumbel_key DESC, id
    LIMIT 200
"""


@query("q125_dsir_sample", oracle=_q125_oracle())
def q125_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling
    (operators/importance.py) — Xie et al. 2023: hashed-bigram
    importance weights log2(p_target/p_raw) with Laplace smoothing
    (src1 documents play the target distribution), then a
    deterministic Gumbel-top-k draw without replacement ∝ weight.
    Gate config pins the md5 feature hash so DuckDB replays buckets,
    weights, Gumbel noise and the ranking bit-for-bit; production
    uses xxhash64 feature keys. Feature relation is bounded by the
    4096-bucket space; top-k is a TakeOrdered, not a global sort.
    [extension]"""
    from db2pq_spark.operators.importance import dsir_sample

    docs = t(spark, sf_dir, "documents")
    return dsir_sample(docs, "text", "doc_id",
                       F.col("source") == "src1", k=200,
                       keys="md5").select(
        "id", "n_feats", "sum_logw", "gumbel_key")


@production("q125_dsir_sample")
def _q125_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keys="xxhash64": one 64-bit feature-bucket hash per bigram, no
    hex-string build. The gate pins keys="md5" so DuckDB replays
    buckets and ranking bit-for-bit."""
    from db2pq_spark.operators.importance import dsir_sample

    return dsir_sample(t(spark, sf_dir, "documents"), "text", "doc_id",
                       F.col("source") == "src1", k=200, keys="xxhash64")


_Q126_SQL = """
    WITH e AS (
      SELECT vec_id, embedding,
             unnest(generate_series(1, len(embedding))) AS pi
      FROM embeddings
    ),
    xi AS (
      SELECT vec_id, CAST(pi - 1 AS INT) AS i,
             CAST(embedding[pi] AS DOUBLE) AS x, embedding
      FROM e
    ),
    pairs AS (
      SELECT xi.vec_id, xi.i, xi.x,
             CAST(pj - 1 AS INT) AS j,
             CAST(embedding[pj] AS DOUBLE) AS y
      FROM xi, unnest(generate_series(1, len(embedding))) AS t(pj)
      WHERE CAST(pj - 1 AS INT) >= xi.i
    ),
    sums AS (
      SELECT i, j,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(x * y, 10) AS DECIMAL(28,10)))
                  AS DECIMAL(38,10)) AS sum_xy
      FROM pairs GROUP BY i, j
    ),
    firsts AS (
      SELECT i,
             CAST(SUM(CAST(round(x, 10) AS DECIMAL(28,10)))
                  AS DECIMAL(38,10)) AS sum_i
      FROM xi GROUP BY i
    )
    SELECT s.i, s.j, s.n, f.sum_i, s.sum_xy
    FROM sums s JOIN firsts f USING (i)
"""


@query("q126_embedding_moments", oracle=_Q126_SQL)
def q126_embedding_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding second moments (operators/pca.py:embedding_moments) —
    the sufficient statistics (n, Σx, Σxxᵀ upper triangle) behind
    PCA/whitening of an embedding column; the corpus reduces to
    d(d+1)/2 tiny rows, the d×d eigendecomposition happens driver-side
    (pca_components/pca_project, pytest-verified), and the projection
    broadcasts back. Gate config is the exact explode-pairs path with
    rounded-then-DECIMAL product accumulation (order-independent, the
    oracle replays it); production is the arrow impl — one BLAS
    Xᵀ·X per Arrow batch, ~d² fewer rows shuffled. [extension]"""
    from db2pq_spark.operators.pca import embedding_moments

    emb = t(spark, sf_dir, "embeddings")
    return embedding_moments(emb, "embedding", impl="exact")


@production("q126_embedding_moments")
def _q126_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """impl="arrow": one BLAS XᵀX partial per Arrow batch, d² fewer
    rows than the gate's exact explode-pairs decimal path."""
    from db2pq_spark.operators.pca import embedding_moments

    return embedding_moments(t(spark, sf_dir, "embeddings"), "embedding",
                             impl="arrow")


_Q127_SQL = f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ),
    docs AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 1000000, text FROM base WHERE doc_id < 15
      UNION ALL
      SELECT doc_id + 2000000, text FROM base WHERE doc_id < 15
    ),
    hashed AS (
      SELECT doc_id, md5({_NORM}) AS h FROM docs
    ),
    grp AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY h) AS comp,
             COUNT(*) OVER (PARTITION BY h) AS n
      FROM hashed
    ),
    m AS (SELECT doc_id, comp FROM grp WHERE n >= 2),
    s AS (
      SELECT m.comp, m.doc_id, (m.doc_id * 37) % 101 AS q FROM m
    ),
    ranked AS (
      SELECT comp, doc_id, q,
             ROW_NUMBER() OVER (PARTITION BY comp
                                ORDER BY q DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY comp) AS n_members
      FROM s
    )
    SELECT comp, doc_id AS rep_id, q AS rep_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
"""


@query("q127_cluster_representatives", oracle=_Q127_SQL)
def q127_cluster_representatives(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Keep-BEST-per-cluster canonicalization
    (operators/components.py:cluster_representatives): connected
    components over duplicate pairs, then one max_by-style aggregate
    picks the argmax-quality member per cluster (deterministic
    tiebreak: higher quality, then lower id) — the production
    alternative to keep-first dedup. Reuses q82's augmented chain
    corpus (each cluster is a 3-member CHAIN, so labels must
    propagate) with a synthetic deterministic quality signal
    ((doc_id·37) mod 101) so the argmax differs from keep-first; the
    oracle derives clusters in closed form (min id per content-hash
    group) and replays the argmax with a window. [extension]"""
    from db2pq_spark.operators.components import cluster_representatives
    from db2pq_spark.operators.dedup import normalize_text

    base = (t(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull()).select("doc_id", "text"))
    docs = base
    for shift in (1_000_000, 2_000_000):
        docs = docs.unionByName(
            base.where(F.col("doc_id") < 15)
            .select((F.col("doc_id") + shift).alias("doc_id"), "text"))
    hashed = docs.select("doc_id",
                         F.md5(normalize_text("text")).alias("h"))
    nxt = F.lead("doc_id").over(W.partitionBy("h").orderBy("doc_id"))
    edges = (hashed.select("doc_id", nxt.alias("next_id"))
             .where(F.col("next_id").isNotNull()))
    quality = docs.select("doc_id",
                          ((F.col("doc_id") * 37) % 101).alias("q"))
    return cluster_representatives(edges, quality, "doc_id", "q",
                                   id1="doc_id", id2="next_id")


def _q128_oracle(k: int = 4) -> str:
    """Unrolled-CTE MMR replay (the kmeans/BPE oracle discipline):
    round r's argmax is computed from the literal score tree over the
    candidates minus the previously-picked ids, with each selected
    vector pulled back by scalar subquery."""
    def cos(vec_expr: str) -> str:
        return (
            "ROUND(list_dot_product(c.embedding::DOUBLE[], "
            f"{vec_expr}::DOUBLE[]) / "
            "(SQRT(list_dot_product(c.embedding::DOUBLE[], "
            "c.embedding::DOUBLE[])) * "
            f"SQRT(list_dot_product({vec_expr}::DOUBLE[], "
            f"{vec_expr}::DOUBLE[]))), 4)")

    def sel_vec(r: int) -> str:
        return ("(SELECT embedding FROM embeddings WHERE vec_id = "
                f"(SELECT id FROM p{r}))")

    parts = [f"""
    WITH cand AS (
      SELECT c.vec_id AS id, c.embedding,
             {cos("(SELECT embedding FROM embeddings WHERE vec_id = 0)")}
               AS rel
      FROM embeddings c WHERE c.vec_id <> 0
    )"""]
    for r in range(1, k + 1):
        if r == 1:
            maxsim = "0.0e0"
            excl = ""
        else:
            sims = ", ".join(cos(sel_vec(j)) for j in range(1, r))
            maxsim = f"GREATEST({sims})" if r > 2 else sims
            prior = " UNION ALL ".join(
                f"SELECT id FROM p{j}" for j in range(1, r))
            excl = f"WHERE id NOT IN ({prior})"
        parts.append(f""",
    p{r} AS (
      SELECT id, rel,
             0.5e0 * rel - (1.0e0 - 0.5e0) * {maxsim} AS score
      FROM cand c {excl}
      ORDER BY score DESC, id LIMIT 1
    )""")
    finals = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, id, rel AS relevance, "
        f"score FROM p{r}" for r in range(1, k + 1))
    parts.append(f"\n    {finals}")
    return "".join(parts)


@query("q128_mmr_select", oracle=_q128_oracle(4))
def q128_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified selection (operators/mmr.py:mmr_select —
    Carbonell & Goldstein SIGIR 1998): the 4 embeddings most relevant
    to the vec_id-0 query vector but mutually non-redundant, via
    λ·rel − (1−λ)·max-sim-to-selected with λ=0.5 (exactly
    representable — the score arithmetic replays bit-for-bit). Each
    round is one narrow corpus pass (cosine folds against ≤k literal
    vectors) ending in TakeOrdered LIMIT 1 + a 1-row collect — the
    k-means/BPE bounded-iteration discipline; the oracle unrolls the
    rounds as CTEs and reproduces the full trajectory. [extension]"""
    from db2pq_spark.operators.mmr import mmr_select

    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0) \
        .select("embedding").head()["embedding"]
    return mmr_select(emb.where(F.col("vec_id") != 0), "embedding",
                      "vec_id", qvec, k=4, lam=0.5)


_Q129_SQL = f"""
    WITH corpus AS (
      SELECT source, text FROM documents WHERE doc_id % 7 <> 0
    ),
    toks AS (
      SELECT (source = 'src0') AS pos, {_TOKENS} AS toks FROM corpus
    ),
    e AS (SELECT pos, unnest(toks) AS tok FROM toks),
    counts AS (
      SELECT tok,
             SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
             SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
      FROM e GROUP BY tok
    ),
    tot AS (
      SELECT SUM(cp) AS np, SUM(cn) AS nn, COUNT(*) AS v FROM counts
    ),
    w AS (
      SELECT tok,
             CAST(round(
               log2((CAST(cp AS DOUBLE) + 1.0e0)
                    / (CAST(np AS DOUBLE) + 1.0e0 * CAST(v AS DOUBLE)))
               - log2((CAST(cn AS DOUBLE) + 1.0e0)
                      / (CAST(nn AS DOUBLE) + 1.0e0 * CAST(v AS DOUBLE))),
               6) AS DECIMAL(28,10)) AS s
      FROM counts, tot
    ),
    oov AS (
      SELECT CAST(round(
               log2((0.0e0 + 1.0e0)
                    / (CAST(np AS DOUBLE) + 1.0e0 * CAST(v AS DOUBLE)))
               - log2((0.0e0 + 1.0e0)
                      / (CAST(nn AS DOUBLE) + 1.0e0 * CAST(v AS DOUBLE))),
               6) AS DECIMAL(28,10)) AS oov_s
      FROM tot
    ),
    be AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT be.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(w.s, oov.oov_s)) AS DECIMAL(38,10))
             AS sum_logodds
    FROM be LEFT JOIN w USING (tok) CROSS JOIN oov
    GROUP BY be.doc_id
"""


@query("q129_nb_score_increment", oracle=_Q129_SQL)
def q129_nb_score_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once / score-increments quality filtering
    (operators/quality.py:nb_quality_weights + nb_score_documents):
    the NB weight relation is trained on the standing corpus
    (doc_id % 7 ≠ 0, src0 seed positive) and a new batch
    (doc_id % 7 = 0) is scored against it with OOV fallback — the
    deployment shape where the classifier is persisted once and each
    crawl increment pays one batch explode + one broadcast weight
    join, never touching the corpus (the persisted-signature
    discipline of the incremental dedup trio, applied to quality
    filtering). [extension]"""
    from db2pq_spark.operators.quality import (
        nb_quality_weights, nb_score_documents)

    docs = t(spark, sf_dir, "documents")
    weights, oov = nb_quality_weights(
        docs.filter(F.col("doc_id") % 7 != 0), "text",
        F.col("source") == "src0")
    return (nb_score_documents(docs.filter(F.col("doc_id") % 7 == 0),
                               weights, oov, "text", "doc_id")
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_tokens", "sum_logodds"))


_Q130_SQL = f"""
    WITH feat AS (
      SELECT doc_id,
             len({_TOKENS}) AS n_words,
             LENGTH({_NORM}) - (len({_TOKENS}) - 1) AS word_chars,
             len(list_filter({_TOKENS},
                 x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
             len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
             len(list_filter({_TOKENS},
                 x -> x IN ('the','and','of','to','a','in','is','that',
                            'it','for'))) AS stop_hits
      FROM documents
    ),
    flags AS (
      SELECT *,
             n_words BETWEEN 50 AND 100000 AS r_word_count,
             word_chars >= 3 * n_words
               AND word_chars <= 10 * n_words AS r_mean_word_len,
             n_symbols * 100 <= 10 * n_words AS r_symbol_ratio,
             n_alpha_words * 100 >= 80 * n_words AS r_alpha_frac,
             stop_hits >= 2 AS r_stopwords
      FROM feat
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(word_chars AS BIGINT) AS word_chars,
           CAST(n_alpha_words AS BIGINT) AS n_alpha_words,
           CAST(n_symbols AS BIGINT) AS n_symbols,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           r_word_count, r_mean_word_len, r_symbol_ratio,
           r_alpha_frac, r_stopwords,
           r_word_count AND r_mean_word_len AND r_symbol_ratio
             AND r_alpha_frac AND r_stopwords AS passes
    FROM flags
"""


@query("q130_gopher_rules", oracle=_Q130_SQL)
def q130_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery
    (operators/filtering.py:gopher_rules, after arXiv:2112.11446
    §A1.1): word-count bounds, mean-word-length band, symbol-to-word
    ratio, alphabetic-word fraction, and minimum stopword hits — one
    boolean per rule plus the conjunction, so a rejected document
    says why. Every ratio rule is an integer cross-multiplication and
    mean word length uses the exact single-spaced-length identity, so
    no float decides a flag and the oracle replays the identical
    decisions. One narrow codegen'd projection over the corpus — no
    shuffle, no UDF. [extension]"""
    from db2pq_spark.operators.filtering import gopher_rules

    return gopher_rules(t(spark, sf_dir, "documents"), "text",
                        "doc_id").withColumnRenamed("id", "doc_id")


_Q131_SQL = f"""
    WITH docs AS (
      SELECT doc_id, source, n_chars,
             substring({_NORM}, 1, 160) AS txt
      FROM documents
    ),
    cand AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, a.txt AS t1, b.txt AS t2
      FROM docs a JOIN docs b
        ON a.source = b.source
       AND a.n_chars // 8 = b.n_chars // 8
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT id1, id2,
             CAST(levenshtein(t1, t2) AS BIGINT) AS dist,
             CAST(LENGTH(t1) AS BIGINT) AS len1,
             CAST(LENGTH(t2) AS BIGINT) AS len2,
             CAST(GREATEST(LENGTH(t1), LENGTH(t2)) AS BIGINT) AS ml
      FROM cand
    )
    SELECT id1, id2, dist, len1, len2,
           CASE WHEN ml > 0 THEN (ml - dist) / ml ELSE 1.0 END AS sim,
           (ml - dist) * 100 >= 75 * ml AS confirmed
    FROM scored
"""


@query("q131_edit_confirm", oracle=_Q131_SQL)
def q131_edit_confirm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase fuzzy dedup's exact verification stage
    (operators/filtering.py:edit_confirm + blocked_pairs): candidate
    pairs blocked by (source, length-bucket) — the cheap stand-in for
    a MinHash recall stage — then Levenshtein similarity over a
    160-char normalized prefix with an integer-cross-multiplied
    ≥ 0.75 verdict. The confirm step is what lets a pipeline delete
    only what an exact metric agrees is a duplicate. Scale: pair
    count is bounded by the blocking (quadratic within a block only);
    the metric is a codegen'd JVM expression over the bounded prefix
    — cost is pairs × prefix², never corpus². [extension]"""
    from db2pq_spark.operators.filtering import (
        blocked_pairs, edit_confirm)

    docs = t(spark, sf_dir, "documents")
    blocked = docs.withColumn("_bkt",
                              F.floor(F.col("n_chars") / F.lit(8)))
    pairs = blocked_pairs(blocked, "doc_id", ["source", "_bkt"])
    return edit_confirm(docs, pairs, "text", "doc_id",
                        min_sim=0.75, max_len=160)


@production("q131_edit_confirm")
def _q131_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase fuzzy dedup as deployed: the MinHash-LSH recall stage
    (operator defaults) feeds the Levenshtein confirm with
    confirmed_only=True. The gate blocks candidates by (source, length
    bucket) so its oracle replays the pair set; that blocking is
    quadratic within a block.

    A deleting pipeline consumes confirmed pairs only, which licenses
    the length-gap prune and the banded Levenshtein;
    tests/test_filtering.py pins that the confirmed rows equal the
    audit path's."""
    from db2pq_spark.operators.dedup import minhash_dedup
    from db2pq_spark.operators.filtering import edit_confirm

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "text", "doc_id").select("id1", "id2")
    return edit_confirm(docs, pairs, "text", "doc_id", min_sim=0.75,
                        max_len=160, confirmed_only=True)


_Q132_SQL = """
    WITH pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text))) AS i
      FROM documents
    ),
    counts AS (
      SELECT doc_id, substring(text, CAST(i AS INT), 1) AS ch,
             COUNT(*) AS c
      FROM pos GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           CAST(CAST(SUM(CAST(ROUND(c * log2(c), 6)
                              AS DECIMAL(28,10)))
                     AS DECIMAL(38,10)) AS DOUBLE) AS sum_clog2c
    FROM counts GROUP BY doc_id
"""


@query("q132_char_entropy", oracle=_Q132_SQL)
def q132_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy
    (operators/filtering.py:char_entropy) — the gibberish /
    binary-noise detector. The gate compares ``n_chars`` and the
    order-independent DECIMAL accumulation ``Σ round(c·log2 c, 6)``
    (the q112 surprisal discipline; the derived ``entropy`` double is
    the user-facing band-filter column and stays out of the hash).
    Plan: sequence+substr explode (no lambda inside the Generate),
    map-side-combined (id, ch) counts that collapse each document to
    its alphabet before the shuffle, one id-keyed re-aggregate.
    [extension]"""
    from db2pq_spark.operators.filtering import char_entropy

    return (char_entropy(t(spark, sf_dir, "documents"), "text",
                         "doc_id")
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_chars", "sum_clog2c"))


@production("q132_char_entropy")
def _q132_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """impl="arrow": one mapInPandas histogram pass, no per-character
    explode, no shuffle. Bit-identical to the gate's expression form,
    whose explode and two-level aggregate the oracle replays at ~300×
    the row volume."""
    from db2pq_spark.operators.filtering import char_entropy

    return char_entropy(t(spark, sf_dir, "documents"), "text", "doc_id",
                        impl="arrow").select("id", "n_chars", "sum_clog2c")


_Q133_SQL = """
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rn AS BIGINT) AS cap_rank
    FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    )
    WHERE rn <= 10
"""


@query("q133_source_cap", oracle=_Q133_SQL)
def q133_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-source quota
    (operators/filtering.py:cap_per_group, after arXiv:2306.01116):
    keep the 10 best documents per source under the deterministic
    (n_chars desc, doc_id asc) total order — the anti-domination cap
    that stops a handful of giant sources from owning the corpus.
    One hash-partitioned row_number window (local per-group sort
    after the key shuffle, no global sort); the docstring's two-phase
    salted variant handles pathological single-source skew.
    [extension]"""
    from db2pq_spark.operators.filtering import cap_per_group

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint")
        .alias("n_chars"))
    return cap_per_group(docs, "source", "n_chars", "doc_id", 10)


_Q134_SQL = r"""
    WITH relined AS (
      SELECT doc_id,
             regexp_replace(text, '(\S+( \S+){7}) ',
                            '\1' || chr(10), 'g') AS rt
      FROM documents
    ),
    lf AS (
      SELECT doc_id,
             string_split(rt, chr(10)) AS lines,
             list_filter(string_split(rt, chr(10)),
               ln -> len(string_split(trim(regexp_replace(ln,
                         '\s+', ' ', 'g')), ' ')) >= 3
                     AND NOT regexp_matches(lower(ln),
                                            'customer|stream')) AS kept
      FROM relined
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           COALESCE(array_to_string(kept, chr(10)), '') AS text_kept,
           len(kept) >= 2 AS kept_doc
    FROM lf
"""


@query("q134_line_filter", oracle=_Q134_SQL)
def q134_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate removal
    (operators/filtering.py:line_filter, after arXiv:1910.10683
    §2.2): per-line keep rules (≥ 3 words, no blocklist term),
    document reassembly, and retention stats with a ≥ 2-surviving-
    lines document verdict. The fixture corpus is single-line word
    soup, so the gate first re-lines it deterministically (a newline
    after every 8th word via one regexp_replace both engines replay
    identically); real multi-line behavior — terminal-punctuation
    rule included — is pinned by tests/test_filtering.py. A purely
    narrow per-row transform: no shuffle, no UDF. [extension]"""
    from db2pq_spark.operators.filtering import line_filter

    docs = t(spark, sf_dir, "documents")
    relined = docs.select(
        "doc_id",
        F.regexp_replace("text", r"(\S+( \S+){7}) ",
                         "$1\n").alias("text"))
    return (line_filter(relined, "text", "doc_id", min_words=3,
                        blocklist=("customer", "stream"),
                        keep_min_lines=2)
            .withColumnRenamed("id", "doc_id"))


_Q135_SQL = f"""
    WITH counts AS (
      SELECT tok AS token, COUNT(*) AS freq
      FROM (SELECT unnest({_TOKENS}) AS tok FROM documents)
      GROUP BY tok
    ),
    w AS (
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rank,
             COALESCE(SUM(freq) OVER (ORDER BY freq DESC, token
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS cum_before,
             SUM(freq) OVER () AS total
      FROM counts
    )
    SELECT token, CAST(freq AS BIGINT) AS freq,
           CAST(rank AS BIGINT) AS rank,
           CAST(cum_before AS BIGINT) AS cum_before,
           CAST(total AS BIGINT) AS total,
           100 * cum_before < 95 * total AS kept
    FROM w
"""


@query("q135_vocab_coverage", oracle=_Q135_SQL)
def q135_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p ("nucleus") vocabulary truncation
    (operators/vocab.py:vocab_coverage): the smallest
    frequency-ranked vocabulary prefix whose cumulative token mass
    reaches 95% of the corpus — the tokenizer-sizing / OOV-cutoff
    decision as a relation. Membership is decided by exact integer
    cross-multiplication on exact long counts. One corpus explode +
    token-count aggregate; the global rank and exclusive prefix sum
    both run the two-stage range-partitioned construction
    (operators/ranking.py) — no single-partition window even for a
    huge vocabulary. [extension]"""
    from db2pq_spark.operators.vocab import vocab_coverage

    return vocab_coverage(t(spark, sf_dir, "documents"), "text",
                          coverage_pct=95)


def _q136_oracle() -> str:
    from db2pq_spark.operators.sampling import hash_bucket_sql

    cand = hash_bucket_sql(
        "CAST(doc_id AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)",
        n_buckets=5, salt="t5")
    return f"""
    WITH toked AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks))) AS i
      FROM toked
    ),
    p AS (
      SELECT doc_id, i - 1 AS pos, toks[CAST(i AS INT)] AS tok,
             (i - 1) // 12 AS blk,
             {cand} = 0 AS cand
      FROM pos
    ),
    st AS (
      SELECT *, MIN(CASE WHEN cand THEN pos END)
                  OVER (PARTITION BY doc_id, blk) AS strt
      FROM p
    )
    SELECT doc_id AS id, CAST(blk AS BIGINT) AS blk,
           CAST(MIN(strt) AS BIGINT) AS start_pos,
           CAST(COUNT(*) AS BIGINT) AS n_masked,
           string_agg(tok, ' ' ORDER BY pos) AS masked_text
    FROM st
    WHERE strt IS NOT NULL AND pos >= strt
      AND pos < strt + LEAST(2, (blk + 1) * 12 - strt)
    GROUP BY doc_id, blk
    """


@query("q136_span_corruption", oracle=_q136_oracle())
def q136_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption plan
    (operators/chunking.py:corruption_spans, after arXiv:1910.10683
    §3.1.4): deterministic mask spans — per 12-token block, at most
    one span starting at the block's first md5-bucket candidate
    position, 2 tokens, clipped at the block edge (~15% mask rate,
    non-overlapping BY CONSTRUCTION so the plan stays one-pass).
    Spans are computed IN-ROW on the token array
    (transform/filter/slice per block): one corpus scan, ZERO
    Exchanges — the only Generate explodes the
    ~n/(block·rate)-element span array, one md5 per position instead
    of the exploded shape's two (plan pinned by
    tests/test_plan_hygiene.py). [extension]"""
    from db2pq_spark.operators.chunking import corruption_spans

    return corruption_spans(t(spark, sf_dir, "documents"), "text",
                            "doc_id", block=12, span_len=2, rate=5,
                            salt="t5")


_Q137_SQL = r"""
    WITH relined AS (
      SELECT doc_id,
             regexp_replace(text, '(\S+( \S+){7}) ',
                            '\1' || chr(10), 'g') AS rt
      FROM documents
    ),
    ln AS (
      SELECT doc_id,
             unnest(string_split(rt, chr(10))) AS line,
             unnest(range(1, len(string_split(rt, chr(10))) + 1))
               AS pos
      FROM relined
    ),
    norm AS (
      SELECT doc_id, pos, line,
             trim(regexp_replace(lower(line), '\s+', ' ', 'g')) AS k
      FROM ln
    ),
    freq AS (
      SELECT k FROM norm GROUP BY k HAVING COUNT(*) > 1
    ),
    kept AS (
      SELECT n.doc_id, n.pos, n.line
      FROM norm n ANTI JOIN freq f ON n.k = f.k
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS text_kept
      FROM kept GROUP BY doc_id
    )
    SELECT r.doc_id,
           CAST(len(string_split(rt, chr(10))) AS BIGINT) AS n_lines,
           COALESCE(CAST(a.n_kept AS BIGINT), 0) AS n_kept,
           COALESCE(a.text_kept, '') AS text_kept
    FROM relined r LEFT JOIN agg a USING (doc_id)
"""


@query("q137_repeated_lines", oracle=_Q137_SQL)
def q137_repeated_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-line (boilerplate) removal
    (operators/filtering.py:remove_repeated_lines, after CCNet
    arXiv:1911.00359 §3 / RefinedWeb arXiv:2306.01116): drop every
    line whose normalized form occurs 2+ times across the WHOLE
    corpus and reassemble — the cross-document complement of q134's
    per-document C4 rules. Same deterministic 8-word re-lining of
    the single-line fixture as q134. The gate pins
    ``line_key='text'`` (engine-replayable string equality);
    production default is xxhash64 keys — 8 bytes through the count
    shuffle, identical output modulo 64-bit collisions. Document
    text never shuffles: staged per-doc line arrays, bare-key
    count, forced-broadcast boilerplate set, in-row array filter.
    [extension]"""
    from db2pq_spark.operators.filtering import remove_repeated_lines

    docs = t(spark, sf_dir, "documents")
    relined = docs.select(
        "doc_id",
        F.regexp_replace("text", r"(\S+( \S+){7}) ",
                         "$1\n").alias("text"))
    return (remove_repeated_lines(relined, "text", "doc_id",
                                  max_occurrences=1, line_key="text")
            .withColumnRenamed("id", "doc_id"))


_Q138_SQL = r"""
    WITH relined AS (
      SELECT doc_id, regexp_replace(text, '(\S+( \S+){7}) ',
                                    '\1' || chr(10), 'g') AS rt
      FROM documents
    ),
    b AS (SELECT * FROM relined WHERE doc_id % 5 = 0),
    cstate AS (
      SELECT trim(regexp_replace(lower(l), '\s+', ' ', 'g')) AS k,
             COUNT(*) AS pc
      FROM (SELECT unnest(string_split(rt, chr(10))) AS l
            FROM relined WHERE doc_id % 5 <> 0)
      GROUP BY 1
    ),
    ln AS (
      SELECT doc_id,
             unnest(string_split(rt, chr(10))) AS line,
             unnest(range(1, len(string_split(rt, chr(10))) + 1))
               AS pos
      FROM b
    ),
    norm AS (
      SELECT doc_id, pos, line,
             trim(regexp_replace(lower(line), '\s+', ' ', 'g')) AS k
      FROM ln
    ),
    bcnt AS (SELECT k, COUNT(*) AS bc FROM norm GROUP BY k),
    boiler AS (
      SELECT bcnt.k FROM bcnt LEFT JOIN cstate USING (k)
      WHERE bc + COALESCE(pc, 0) > 1
    ),
    kept AS (
      SELECT n.doc_id, n.pos, n.line
      FROM norm n ANTI JOIN boiler f ON n.k = f.k
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS text_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(string_split(rt, chr(10))) AS BIGINT) AS n_lines,
           COALESCE(CAST(a.n_kept AS BIGINT), 0) AS n_kept,
           COALESCE(a.text_kept, '') AS text_kept
    FROM b LEFT JOIN agg a USING (doc_id)
"""


@query("q138_repeated_lines_incremental", oracle=_Q138_SQL)
def q138_repeated_lines_incremental(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Incremental repeated-line removal
    (operators/filtering.py:remove_repeated_lines_incremental): clean
    a new-crawl batch against the standing corpus's PERSISTED
    line-frequency state plus the batch's own internal repeats — the
    daily-increment shape where the corpus is never re-counted. Gate
    split: every 5th document plays the batch, the rest build the
    state via repeated_line_counts (stamped ``_lk_repr``; a key-
    family or normalization mismatch raises instead of silently
    dropping nothing). The state relation never shuffles: it is
    semi-filtered by the broadcast batch key set, merged with the
    batch's map-side-combined counts, and the boilerplate set
    broadcasts into the same in-row rebuild as q137. [extension]"""
    from db2pq_spark.operators.filtering import (
        remove_repeated_lines_incremental,
        repeated_line_counts,
    )

    docs = t(spark, sf_dir, "documents")
    relined = docs.select(
        "doc_id",
        F.regexp_replace("text", r"(\S+( \S+){7}) ",
                         "$1\n").alias("text"))
    state = repeated_line_counts(
        relined.filter(F.col("doc_id") % 5 != 0), "text",
        line_key="text")
    return (remove_repeated_lines_incremental(
                relined.filter(F.col("doc_id") % 5 == 0), state,
                "text", "doc_id", max_occurrences=1, line_key="text")
            .withColumnRenamed("id", "doc_id"))


_Q139_SQL = r"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS score,
             CAST(n_chars AS BIGINT) AS size
      FROM documents
    ),
    w AS (
      SELECT doc_id, score, size,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
             COALESCE(SUM(size) OVER (ORDER BY score DESC, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS cum_before
      FROM d
    )
    SELECT doc_id, score, size, CAST(rank AS BIGINT) AS rank,
           CAST(cum_before AS BIGINT) AS cum_before,
           cum_before + size <= 50000 AS kept
    FROM w
"""


@query("q139_budget_select", oracle=_Q139_SQL)
def q139_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget selection
    (operators/mixing.py:select_until_budget): rank every document by
    (score desc, doc_id asc) and admit the greedy best-first prefix
    whose cumulative size fits a 50k-char budget — the "fill the
    budget with the best data" curation step (DataComp/Dolma recipe
    shape), complementing q109's per-source weighted mixing. Gate
    score = whitespace token count, size = n_chars; admission is an
    exact bigint comparison. Both the global rank and the exclusive
    prefix sum run the two-stage range-partitioned construction
    (operators/ranking.py) — no single-partition window at any
    corpus size. [extension]"""
    from db2pq_spark.operators.mixing import select_until_budget

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("score"),
        F.col("n_chars").cast("bigint").alias("size"))
    return (select_until_budget(docs, "score", "size", "doc_id",
                                budget=50_000)
            .withColumnRenamed("id", "doc_id"))


_Q140_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
      WHERE {_HAS_TEXT}
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2)
    ),
    bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
    ),
    ctx AS (
      SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM bc GROUP BY 1
    ),
    cont AS (
      SELECT w2, COUNT(*) AS n1b FROM bc GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS nt FROM bc),
    probs AS (
      SELECT w1, w2,
             CAST(round(-log2(
               greatest(CAST(c12 AS DOUBLE) - 0.75e0, 0e0)
                 / CAST(c1 AS DOUBLE)
               + (0.75e0 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE))
                 * (CAST(n1b AS DOUBLE) / CAST(nt AS DOUBLE))), 6)
                  AS DECIMAL(28,10)) AS s
      FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
    ),
    doc AS (
      SELECT doc_id AS id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(s * 1000000 AS BIGINT)) AS BIGINT)
               AS sum_units
      FROM bg JOIN probs USING (w1, w2)
      GROUP BY doc_id
    ),
    m AS (
      SELECT id, n_bigrams,
             CAST(FLOOR(CAST(sum_units AS DOUBLE) / n_bigrams)
                  AS BIGINT) AS mean_units
      FROM doc
    )
    SELECT id, n_bigrams, mean_units,
           CAST(ROW_NUMBER() OVER (ORDER BY mean_units, id)
                AS BIGINT) AS rnk,
           CAST(NTILE(3) OVER (ORDER BY mean_units, id)
                AS BIGINT) AS bucket
    FROM m
"""


@query("q140_ccnet_buckets", oracle=_Q140_SQL)
def q140_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity partition
    (operators/quality.py:perplexity_buckets, after arXiv:1911.00359
    §4.3): the corpus ranked by per-document Kneser-Ney bigram
    surprisal and cut into equal-population head/middle/tail tiers —
    the classic "keep the fluent third" pretraining-data split. The
    ordering key is the mean surprisal in integer micro-bit units
    (exact decimal scaling + IEEE-deterministic floor division — no
    engine-divergent comparison anywhere), the global rank is the
    two-stage range-partitioned construction and the tier cut is
    NTILE arithmetic on it (operators/ranking.py — no
    single-partition window at any corpus size). [extension]"""
    from db2pq_spark.operators.quality import perplexity_buckets

    return (perplexity_buckets(t(spark, sf_dir, "documents"),
                               "text", "doc_id", n_buckets=3)
            .withColumnRenamed("rank", "rnk"))


@production("q140_ccnet_buckets")
def _q140_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q121 production LM: keys="hash" with broadcast_stats=True.
    The gate pins keys="exact" so DuckDB replays rank and tier
    bit-for-bit."""
    from db2pq_spark.operators.quality import perplexity_buckets

    return perplexity_buckets(t(spark, sf_dir, "documents"), "text",
                              "doc_id", keys="hash", broadcast_stats=True)


_Q141_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
      WHERE {_HAS_TEXT}
    ),
    train_bg AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2 AND doc_id % 7 <> 0)
    ),
    bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM train_bg GROUP BY 1, 2
    ),
    ctx AS (
      SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM bc GROUP BY 1
    ),
    cont AS (
      SELECT w2, COUNT(*) AS n1b FROM bc GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS nt FROM bc),
    bgb AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2 AND doc_id % 7 = 0)
    ),
    scored AS (
      SELECT b.doc_id,
             CAST(round(-log2(
               CASE WHEN ctx.c1 IS NOT NULL THEN
                 greatest(CAST(COALESCE(bc.c12, 0) AS DOUBLE) - 0.75e0,
                          0e0) / CAST(ctx.c1 AS DOUBLE)
                 + (0.75e0 * CAST(ctx.n1f AS DOUBLE)
                    / CAST(ctx.c1 AS DOUBLE))
                   * (CASE WHEN cont.n1b IS NOT NULL
                           THEN CAST(cont.n1b AS DOUBLE)
                                / CAST(tot.nt AS DOUBLE)
                           ELSE 1e0 / (CAST(tot.nt AS DOUBLE) + 1e0)
                      END)
               ELSE (CASE WHEN cont.n1b IS NOT NULL
                          THEN CAST(cont.n1b AS DOUBLE)
                               / CAST(tot.nt AS DOUBLE)
                          ELSE 1e0 / (CAST(tot.nt AS DOUBLE) + 1e0)
                     END)
               END), 6) AS DECIMAL(28,10)) AS s
      FROM bgb b
      LEFT JOIN bc USING (w1, w2)
      LEFT JOIN ctx USING (w1)
      LEFT JOIN cont USING (w2)
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(s) AS DECIMAL(38,10)) AS sum_surprisal
    FROM scored
    GROUP BY doc_id
"""


@query("q141_kn_score_increment", oracle=_Q141_SQL)
def q141_kn_score_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once / score-increments LM quality scoring
    (operators/textstats.py:kn_bigram_stats + kn_score_documents):
    the Kneser-Ney bigram-count relation is trained on the standing
    corpus (doc_id % 7 ≠ 0) and a new batch (doc_id % 7 = 0) is
    scored against the FIXED model with the documented backoff/OOV
    ladder — exactly how CCNet deploys its LM filter (pretrained
    KenLM scoring each crawl; arXiv:1911.00359 §4.3). The persisted
    stats relation never shuffles: pair/context/continuation
    statistics are semi-filtered by broadcast batch key sets, the
    type total is a scan-only count, and all four broadcast back to
    the batch bigrams (the q107/q123/q138 batch-key discipline
    applied to LM scoring; ``broadcast_stats=True`` is the
    bounded-increment deployment config — the operator default lets
    AQE size those joins so an unbounded increment can't OOM the
    driver). [extension]"""
    from db2pq_spark.operators.textstats import (
        kn_bigram_stats, kn_score_documents)

    docs = t(spark, sf_dir, "documents")
    stats = kn_bigram_stats(docs.filter(F.col("doc_id") % 7 != 0),
                            "text")
    return (kn_score_documents(docs.filter(F.col("doc_id") % 7 == 0),
                               stats, "text", "doc_id",
                               broadcast_stats=True)
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_bigrams", "sum_surprisal"))


@query(
    "q142_semdedup_incremental",
    oracle="""
    SELECT CAST(vec_id + 1000000 AS BIGINT) AS batch_id,
           CAST(vec_id AS BIGINT) AS corpus_id,
           CAST(1.0 AS DOUBLE) AS cos
    FROM embeddings WHERE vec_id < 20
    """,
)
def q142_semdedup_incremental(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Incremental semantic dedup — the train-once/probe-increments
    variant of q114 (operators/similarity.py:embedding_dedup_state +
    semantic_dedup_incremental, after SemDeDup arXiv:2303.09540
    deployed the CCNet-increment way): the standing corpus's LSH
    signature relation is built ONCE, and a new batch (scaled clones
    of the first 20 vectors — cosine exactly 1.0, so recall is
    structural: parallel vectors share every hyperplane sign) is
    probed against it. The oracle derives the answer in closed form:
    each planted clone pairs with its base vector at cos 1.0, and the
    random fixture embeddings admit no other pair at threshold 0.999
    (the q114 fixture argument). Plan: the state never shuffles —
    broadcast distinct batch buckets semi-filter it, the skew guard
    counts only the matched minority, and the exact-cosine verify is
    one broadcast join (the q107/q123/q138/q141 batch-discipline
    applied to embedding space). [extension]"""
    from db2pq_spark.operators.similarity import (
        embedding_dedup_state, semantic_dedup_incremental)

    emb = t(spark, sf_dir, "embeddings")
    state = embedding_dedup_state(emb)
    batch = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.25))
         .alias("embedding"))
    return (semantic_dedup_incremental(batch, state, threshold=0.999)
            .select("batch_id", "corpus_id", "cos"))


def _q143_oracle() -> str:
    from db2pq_spark.operators.unigram import (
        unigram_round_sql, unigram_seed_sql)

    return f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest({_TOKENS}) AS w FROM documents
        WHERE {_HAS_TEXT})
      WHERE w <> '' GROUP BY 1
    ),
    wfb AS (SELECT word, freq FROM wf WHERE len(word) <= 16),
    v0 AS ({unigram_seed_sql('wfb')}),
    {unigram_round_sql('r1', 'wfb', 'v0', 'v1')},
    {unigram_round_sql('r2', 'wfb', 'v1', 'v2')}
    SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM v2
    """


@query("q143_unigram_train", oracle=_q143_oracle())
def q143_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer vocabulary training
    (operators/unigram.py:unigram_train, after Kudo 2018
    arXiv:1804.10959 §3, hard-EM variant): substring seed vocabulary
    → two Viterbi-E-step / count-M-step rounds, zero-usage pieces
    pruned, characters retained for coverage. The oracle replays
    seed, both EM rounds and every Viterbi DP closed-form in DuckDB
    (unrolled position chain, one CTE per prefix length — the q120
    CTE-per-round pattern taken to per-position granularity). Scale:
    training runs on the distinct-word relation (the BPE trick); the
    E-step is a substring explode + vocabulary join + Arrow DP
    kernel, the M-step one zipf-bounded aggregate — the vocabulary
    never visits the driver. [extension]"""
    from db2pq_spark.operators.unigram import unigram_train

    return (unigram_train(t(spark, sf_dir, "documents"), "text",
                          rounds=2)
            .select("piece", F.col("cnt").cast("bigint").alias("cnt")))


def _q144_oracle() -> str:
    from db2pq_spark.operators.unigram import (
        unigram_round_sql, unigram_seed_sql, unigram_viterbi_sql)

    return f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest({_TOKENS}) AS w FROM documents
        WHERE {_HAS_TEXT})
      WHERE w <> '' GROUP BY 1
    ),
    wfb AS (SELECT word, freq FROM wf WHERE len(word) <= 16),
    v0 AS ({unigram_seed_sql('wfb')}),
    {unigram_round_sql('r1', 'wfb', 'v0', 'v1')},
    {unigram_viterbi_sql('fin', 'wfb', 'v1')},
    segw AS (
      SELECT word, CAST(np AS BIGINT) AS n_pieces, path AS pieces
      FROM fin_seg
    ),
    toks AS (
      SELECT doc_id, t.w AS word, t.pos
      FROM (SELECT doc_id, {_TOKENS} AS ws FROM documents
            WHERE {_HAS_TEXT}) d,
           LATERAL (SELECT unnest(ws) AS w,
                           unnest(generate_series(1, len(ws))) AS pos) t
      WHERE t.w <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(COALESCE(s.n_pieces, 1)) AS BIGINT) AS n_pieces,
           string_agg(COALESCE(s.pieces, tk.word), ' '
                      ORDER BY tk.pos) AS segmented
    FROM toks tk LEFT JOIN segw s USING (word)
    GROUP BY doc_id
    """


@query("q144_unigram_segment", oracle=_q144_oracle())
def q144_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus segmentation with the corpus-trained unigram LM
    (operators/unigram.py:unigram_segment — train one EM round, then
    Viterbi-segment every document; the full Kudo pipeline, the
    unigram twin of q122's BPE segmentation). Oversized words pass
    through as one opaque piece. The corpus pays one tokenize and one
    word-keyed join against the distinct-word segmentation relation —
    per-document reassembly is the only doc-keyed shuffle.
    [extension]"""
    from db2pq_spark.operators.unigram import unigram_segment

    return (unigram_segment(t(spark, sf_dir, "documents"), "text",
                            "doc_id", rounds=1)
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_words", "n_pieces", "segmented"))


def _q145_oracle() -> str:
    from db2pq_spark.operators.unigram import (
        unigram_round_sql, unigram_seed_sql, unigram_viterbi_sql)

    return f"""
    WITH standing AS (
      SELECT text FROM documents WHERE doc_id % 7 <> 0
    ),
    wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest({_TOKENS}) AS w FROM standing
        WHERE {_HAS_TEXT})
      WHERE w <> '' GROUP BY 1
    ),
    wfb AS (SELECT word, freq FROM wf WHERE len(word) <= 16),
    v0 AS ({unigram_seed_sql('wfb')}),
    {unigram_round_sql('r1', 'wfb', 'v0', 'v1')},
    btoks AS (
      SELECT doc_id, t.w AS word, t.pos
      FROM (SELECT doc_id, {_TOKENS} AS ws FROM documents
            WHERE doc_id % 7 = 0
              AND {_HAS_TEXT}) d,
           LATERAL (SELECT unnest(ws) AS w,
                           unnest(generate_series(1, len(ws))) AS pos) t
      WHERE t.w <> ''
    ),
    bwf AS (
      SELECT word, CAST(1 AS BIGINT) AS freq
      FROM (SELECT DISTINCT word FROM btoks WHERE len(word) <= 16)
    ),
    {unigram_viterbi_sql('fin', 'bwf', 'v1')},
    segw AS (
      SELECT word, CAST(np AS BIGINT) AS n_pieces, path AS pieces
      FROM fin_seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(COALESCE(s.n_pieces, 1)) AS BIGINT) AS n_pieces,
           string_agg(COALESCE(s.pieces, tk.word), ' '
                      ORDER BY tk.pos) AS segmented
    FROM btoks tk LEFT JOIN segw s USING (word)
    GROUP BY doc_id
    """


@query("q145_unigram_segment_increment", oracle=_q145_oracle())
def q145_unigram_segment_increment(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Train-once / tokenize-increments unigram-LM deployment
    (operators/unigram.py:unigram_vocab_state + unigram_segment_batch
    — a SentencePiece model file re-expressed as a stamped relation):
    the vocabulary is trained on the standing corpus (doc_id % 7 ≠ 0)
    and a new crawl batch (doc_id % 7 = 0) is segmented against the
    FIXED vocabulary — the tokenizer twin of q141's persisted-LM
    scoring. Out-of-vocabulary characters score the floor, oversized
    words pass through opaque; the `_ug_conf` stamp refuses a
    mismatched piece/word bound (which would silently mis-segment)
    via a plan-time metadata check plus a per-row guard folded into
    the count column. The vocabulary never shuffles — the batch pays
    one tokenize, the distinct-word Viterbi and one word-keyed join
    back. [extension]"""
    from db2pq_spark.operators.unigram import (
        unigram_segment_batch, unigram_vocab_state)

    docs = t(spark, sf_dir, "documents")
    vocab = unigram_vocab_state(docs.filter(F.col("doc_id") % 7 != 0),
                                "text", rounds=1)
    return (unigram_segment_batch(docs.filter(F.col("doc_id") % 7 == 0),
                                  vocab, "text", "doc_id")
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_words", "n_pieces", "segmented"))


def _q146_oracle() -> str:
    from db2pq_spark.operators.unigram import (
        unigram_round_sql, unigram_seed_sql)
    from db2pq_spark.operators.wordpiece import wordpiece_greedy_sql

    return f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest({_TOKENS}) AS w FROM documents
        WHERE {_HAS_TEXT})
      WHERE w <> '' GROUP BY 1
    ),
    wfb AS (SELECT word, freq FROM wf WHERE len(word) <= 16),
    v0 AS ({unigram_seed_sql('wfb')}),
    {unigram_round_sql('r1', 'wfb', 'v0', 'v1')},
    toksall AS (
      SELECT doc_id, t.w AS word, t.pos
      FROM (SELECT doc_id, {_TOKENS} AS ws FROM documents
            WHERE {_HAS_TEXT}) d,
           LATERAL (SELECT unnest(ws) AS w,
                           unnest(generate_series(1, len(ws))) AS pos) t
      WHERE t.w <> ''
    ),
    dwords AS (
      SELECT word, CAST(1 AS BIGINT) AS freq
      FROM (SELECT DISTINCT word FROM toksall)
    ),
    {wordpiece_greedy_sql('wp', 'dwords', 'v1')},
    segw AS (
      SELECT word, CAST(np AS BIGINT) AS n_pieces, path AS pieces
      FROM wp_seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(COUNT(CASE WHEN s.pieces = '[UNK]' THEN 1 END)
                AS BIGINT) AS n_unk,
           CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces,
           string_agg(s.pieces, ' ' ORDER BY tk.pos) AS segmented
    FROM toksall tk JOIN segw s USING (word)
    GROUP BY doc_id
    """


@query("q146_wordpiece_segment", oracle=_q146_oracle())
def q146_wordpiece_segment(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """WordPiece-style greedy longest-match corpus segmentation
    (operators/wordpiece.py:wordpiece_segment, after BERT
    arXiv:1810.04805's MaxMatch inference): the third tokenizer
    family next to BPE (q122) and the unigram LM (q144) — at each
    position consume the longest vocabulary piece, unmatchable or
    oversized words degrade to [UNK] (strict membership, NO character
    floor — the deployed-vocabulary inference contract; n_unk is the
    standard tokenizer-coverage health metric). Vocabulary: one
    unigram-EM round over the corpus (the replayable q143 chain).
    Greedy choice is score-free and unique, so the oracle replays the
    walk as an unrolled forward chain, one CTE per step. Same scale
    shape as the unigram family: distinct-word segmentation, one
    corpus tokenize, one word-keyed join back. [extension]"""
    from db2pq_spark.operators.unigram import unigram_train
    from db2pq_spark.operators.wordpiece import wordpiece_segment

    docs = t(spark, sf_dir, "documents")
    vocab = unigram_train(docs, "text", rounds=1)
    return (wordpiece_segment(docs, "text", "doc_id", vocab)
            .withColumnRenamed("id", "doc_id")
            .select("doc_id", "n_words", "n_unk", "n_pieces",
                    "segmented"))


_Q147_SQL = f"""
    WITH toked AS (
      SELECT doc_id AS id, {_TOKENS} AS toks FROM documents
      WHERE {_HAS_TEXT}
    ),
    tk AS (
      SELECT id, toks, len(toks) AS m,
             len(array_to_string(toks, ' ')) AS n_chars
      FROM toked WHERE len(toks) > 0 AND toks[1] <> ''
    ),
    offs AS (
      SELECT id, t.pos AS j,
             COALESCE(SUM(len(t.tok) + 1) OVER (
               PARTITION BY id ORDER BY t.pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS s0
      FROM tk,
           LATERAL (SELECT unnest(toks) AS tok,
                           unnest(generate_series(1, m)) AS pos) t
    ),
    g AS (
      SELECT t.id, n.n, j.j,
             array_to_string(t.toks[j.j : j.j + n.n - 1], ' ') AS gram
      FROM tk t,
           (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) n,
           LATERAL (SELECT unnest(generate_series(1, t.m - n.n + 1))
                    AS j) j
      WHERE t.m >= n.n
    ),
    g2 AS (
      SELECT g.id, g.n, g.gram, o.s0 AS s, o.s0 + len(g.gram) AS e
      FROM g JOIN offs o ON o.id = g.id AND o.j = g.j
    ),
    counts AS (
      SELECT id, n, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2, 3
    ),
    topc AS (
      SELECT id, n, chars FROM (
        SELECT id, n, cnt * len(gram) AS chars,
               ROW_NUMBER() OVER (PARTITION BY id, n
                                  ORDER BY cnt DESC, len(gram) DESC,
                                           gram ASC) AS rn
        FROM counts WHERE n IN (2, 3, 4) AND cnt >= 2
      ) WHERE rn = 1
    ),
    dupiv AS (
      SELECT g2.id, g2.n, g2.s, g2.e
      FROM g2 JOIN counts c
        ON c.id = g2.id AND c.n = g2.n AND c.gram = g2.gram
      WHERE g2.n >= 5 AND c.cnt >= 2
    ),
    cov AS (
      SELECT id, n,
             GREATEST(e - GREATEST(s, COALESCE(pmax, s)), 0) AS c
      FROM (SELECT id, n, s, e,
                   MAX(e) OVER (PARTITION BY id, n ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM dupiv)
    ),
    dupc AS (SELECT id, n, SUM(c) AS chars FROM cov GROUP BY 1, 2),
    pern AS (SELECT * FROM topc UNION ALL SELECT * FROM dupc),
    piv AS (
      SELECT id,
             {", ".join(
                 f"COALESCE(MAX(CASE WHEN n = {n} THEN chars END), 0)"
                 f" AS {k}{n}_chars"
                 for k, ns in (("top", (2, 3, 4)),
                               ("dup", (5, 6, 7, 8, 9, 10)))
                 for n in ns)}
      FROM pern GROUP BY id
    )
    SELECT tk.id AS doc_id, CAST(tk.n_chars AS BIGINT) AS n_chars,
           {", ".join(
               f"CAST(COALESCE(p.{k}{n}_chars, 0) AS BIGINT)"
               f" AS {k}{n}_chars"
               for k, ns in (("top", (2, 3, 4)),
                             ("dup", (5, 6, 7, 8, 9, 10)))
               for n in ns)},
           ({" AND ".join(
               [f"COALESCE(p.top{n}_chars, 0) * 100 <= {p} * tk.n_chars"
                for n, p in ((2, 20), (3, 18), (4, 16))]
               + [f"COALESCE(p.dup{n}_chars, 0) * 100 <= {p} * tk.n_chars"
                  for n, p in ((5, 15), (6, 14), (7, 13), (8, 12),
                               (9, 11), (10, 10))])}) AS keep
    FROM tk LEFT JOIN piv p ON p.id = tk.id
"""


@query("q147_gopher_repetition", oracle=_Q147_SQL)
def q147_gopher_repetition(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """The n-gram half of Gopher's repetition battery
    (operators/repetition.py:gopher_repetition, after Rae et al.
    arXiv:2112.11446 §A1.1 Table A1 — the companion of q130's
    word/symbol/stopword rules): per document, characters attributed
    to the most frequent 2/3/4-gram and characters COVERED by
    duplicated 5..10-grams (interval union — overlapping duplicates
    never double-count), plus the nine-threshold keep verdict, all
    exact integers decided by cross-multiplication. Plan: one in-row
    gram flatten (9 sizes, char intervals resolved against the
    offsets array BEFORE the explode), one (id, n, gram)-keyed
    map-side-combined count, a per-(doc, n)-partitioned
    gaps-and-islands window — linear in corpus tokens, no global
    sort. [extension]"""
    from db2pq_spark.operators.repetition import gopher_repetition

    return (gopher_repetition(t(spark, sf_dir, "documents"), "text",
                              "doc_id")
            .withColumnRenamed("id", "doc_id")
            .withColumnRenamed("pass", "keep"))


@production("q147_gopher_repetition")
def _q147_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keys="arrow": xxhash64 gram keys over slices of the per-token
    hash array, gram strings never built; bit-identical values by the
    (count, length) tie discipline. The gate pins keys="exact" so
    DuckDB replays the gram keys."""
    from db2pq_spark.operators.repetition import gopher_repetition

    return gopher_repetition(t(spark, sf_dir, "documents"), "text",
                             "doc_id", keys="arrow")


def _q148_oracle() -> str:
    from db2pq_spark.operators.unigram_soft import (
        soft_prune_sql, soft_round_sql, soft_seed_sql)

    return f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest({_TOKENS}) AS w FROM documents
        WHERE {_HAS_TEXT})
      WHERE w <> '' GROUP BY 1
    ),
    wfb AS (SELECT word, freq FROM wf WHERE len(word) <= 16),
    v0 AS ({soft_seed_sql('wfb')}),
    {soft_round_sql('r1', 'wfb', 'v0', 'v1')},
    {soft_round_sql('r2', 'wfb', 'v1', 'v2')},
    {soft_prune_sql('pr', 'v2', 200)}
    SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM pr_final
    """


@query("q148_unigram_soft", oracle=_q148_oracle())
def q148_unigram_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL SentencePiece unigram training — soft EM + likelihood-loss
    prune (operators/unigram_soft.py:unigram_train_soft, Kudo 2018
    arXiv:1804.10959 §4.2; q143 is the hard-EM/Viterbi variant): the
    E-step takes EXPECTED piece counts over the whole segmentation
    lattice (forward-backward), and training ends by pruning to the
    200-piece vocabulary that least degrades corpus likelihood
    (per-piece loss = expected count × cost delta of the piece's best
    alternative segmentation; characters always survive). The oracle
    replays seed, both lattice rounds (alpha/beta one CTE per
    position, fixed-association sums — bit-identical doubles) and the
    prune closed-form in DuckDB; posteriors cross to integers
    (6-digit micro-units) per occurrence BEFORE any aggregation, so
    no float reduction order can diverge. Scale: everything runs on
    the distinct bounded-word relation (the BPE trick); the lattice
    DP is an Arrow kernel per word; the prune's Viterbi runs over the
    zipf-bounded vocabulary itself. [extension]"""
    from db2pq_spark.operators.unigram_soft import unigram_train_soft

    return (unigram_train_soft(t(spark, sf_dir, "documents"), "text",
                               rounds=2, vocab_size=200)
            .select("piece", F.col("cnt").cast("bigint").alias("cnt")))


_Q149_SQL = f"""
    WITH tkf AS (
      SELECT doc_id, ws, len(ws) AS n FROM (
        SELECT doc_id, {_TOKENS} AS ws FROM documents
        WHERE {_HAS_TEXT})
      WHERE len(ws) > 0 AND ws[1] <> ''
    ),
    spans AS (
      SELECT doc_id, i.i AS pos, l.l AS L,
             array_to_string(ws[i.i:i.i + l.l - 1], ' ') AS gram
      FROM tkf,
           LATERAL (SELECT unnest(generate_series(1, n)) AS i) i,
           LATERAL (SELECT unnest(generate_series(1, n - i.i + 1))
                    AS l) l
    ),
    cnt AS (SELECT gram FROM spans GROUP BY gram HAVING COUNT(*) >= 2),
    dup AS (SELECT s.doc_id, s.pos, s.L
            FROM spans s JOIN cnt USING (gram)),
    best AS (SELECT doc_id, MAX(L) AS max_dup_len
             FROM dup GROUP BY doc_id),
    bpos AS (
      SELECT d.doc_id, b.max_dup_len, MIN(d.pos) AS max_dup_pos
      FROM dup d JOIN best b
        ON b.doc_id = d.doc_id AND d.L = b.max_dup_len
      GROUP BY d.doc_id, b.max_dup_len
    )
    SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.max_dup_len, 0) AS BIGINT) AS max_dup_len,
           CAST(COALESCE(p.max_dup_pos, 0) AS BIGINT) AS max_dup_pos
    FROM tkf t LEFT JOIN bpos p USING (doc_id)
"""


@query("q149_longest_dup_span", oracle=_Q149_SQL)
def q149_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-style exact-substring dedup
    (operators/suffixes.py:longest_dup_span, Lee et al.
    arXiv:2107.06499 §4.1 — the EXACT longest-match signal beyond
    q102's fixed-n span counts): per document, the exact token length
    of its longest substring occurring 2+ times anywhere in the
    corpus, plus the leftmost start position. Plan: prefix doubling
    (2^k-span keys composed from level-k−1 halves; survivors shrink
    geometrically; one self-join + one map-side-combined count per
    level, never a suffix sort) then bucketed neighbor-LCP extension
    (sort each top-level bucket by the next 2^k tokens; the
    suffix-array LCP-adjacency property makes two neighbor
    comparisons exact). The gate pins keys='exact' (composed keys ARE
    the grams — collision-free) and the DuckDB oracle computes ground
    truth INDEPENDENTLY by full substring enumeration — a different
    algorithm agreeing on every value, not a replay. Production
    keys='hash' composes xxhash64 and never builds a gram string.
    [extension]"""
    from db2pq_spark.operators.suffixes import longest_dup_span

    return longest_dup_span(t(spark, sf_dir, "documents"), "text",
                            "doc_id", keys="exact")


@production("q149_longest_dup_span")
def _q149_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keys="hash": xxhash64-composed doubling keys, gram strings never
    built. The gate pins keys="exact" against the independent
    substring-enumeration oracle."""
    from db2pq_spark.operators.suffixes import longest_dup_span

    return longest_dup_span(t(spark, sf_dir, "documents"), "text",
                            "doc_id", keys="hash")


_Q150_SQL = f"""
    WITH tkf AS (
      SELECT doc_id, ws, len(ws) AS n FROM (
        SELECT doc_id, {_TOKENS} AS ws FROM documents
        WHERE {_HAS_TEXT})
      WHERE len(ws) > 0 AND ws[1] <> ''
    ),
    spans AS (
      SELECT doc_id, i.i AS pos, l.l AS L,
             array_to_string(ws[i.i:i.i + l.l - 1], ' ') AS gram
      FROM tkf,
           LATERAL (SELECT unnest(generate_series(1, n)) AS i) i,
           LATERAL (SELECT unnest(generate_series(1, n - i.i + 1))
                    AS l) l
    ),
    cnt AS (SELECT gram FROM spans GROUP BY gram HAVING COUNT(*) >= 2),
    mlen AS (SELECT s.doc_id, s.pos, MAX(s.L) AS m
             FROM spans s JOIN cnt USING (gram)
             GROUP BY s.doc_id, s.pos),
    ivs AS (SELECT doc_id, pos AS s, pos + m AS e
            FROM mlen WHERE m >= 8),
    isl AS (
      SELECT doc_id, _isl, MIN(s) AS s, MAX(e) AS e FROM (
        SELECT doc_id, s, e,
               SUM(_new) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS _isl
        FROM (
          SELECT doc_id, s, e,
                 CASE WHEN _pmax IS NULL OR s > _pmax
                      THEN 1 ELSE 0 END AS _new
          FROM (SELECT doc_id, s, e,
                       MAX(e) OVER (PARTITION BY doc_id
                                    ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS _pmax
                FROM ivs)))
      GROUP BY doc_id, _isl
    ),
    covered AS (
      SELECT doc_id, unnest(generate_series(s, e - 1)) AS pos
      FROM isl
    ),
    toks AS (
      SELECT doc_id, t.pos, ws[t.pos] AS tok
      FROM tkf, LATERAL (SELECT unnest(generate_series(1, n))
                         AS pos) t
    ),
    kept AS (
      SELECT tk.doc_id, tk.pos, tk.tok
      FROM toks tk ANTI JOIN covered c
        ON c.doc_id = tk.doc_id AND c.pos = tk.pos
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
           CAST(t.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.cleaned, '') AS cleaned
    FROM tkf t LEFT JOIN agg a USING (doc_id)
"""


@query("q150_longest_span_removal", oracle=_Q150_SQL)
def q150_longest_span_removal(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Longest-match exact-substring REMOVAL
    (operators/suffixes.py:remove_long_dup_spans — the cut pass
    completing Lee et al. arXiv:2107.06499's pipeline at exact
    longest-match granularity; q116 is the fixed-n twin): every token
    covered by a maximal duplicated run of ≥ 8 tokens is cut,
    overlapping runs union-merged first (gaps-and-islands per doc —
    a duplicated BLOCK pays its length once, not length²), kept
    tokens reassembled in order. The oracle recomputes per-position
    exact match lengths by full substring enumeration (independent
    ground truth, not a replay) and replays only the interval-union
    semantics. Gate pins keys='exact'; production keys='hash' never
    builds gram strings. [extension]"""
    from db2pq_spark.operators.suffixes import remove_long_dup_spans

    return remove_long_dup_spans(t(spark, sf_dir, "documents"),
                                 "text", "doc_id", min_len=8,
                                 keys="exact")


@production("q150_longest_span_removal")
def _q150_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keys="hash" (xxhash64-composed level keys), min_len 8. The gate
    pins keys="exact"."""
    from db2pq_spark.operators.suffixes import remove_long_dup_spans

    return remove_long_dup_spans(t(spark, sf_dir, "documents"), "text",
                                 "doc_id", min_len=8, keys="hash")


def _q151_oracle() -> str:
    from db2pq_spark.operators.pq import (
        pq_adc_sql, pq_encode_sql, pq_subspace_sql)

    d = 32  # dim 64 / m 2
    subs = [pq_subspace_sql(f"s{i}", "base", i * d, d, k=4,
                            iterations=1) for i in range(2)]
    return f"""
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    qs AS (SELECT id, vec FROM base WHERE id < 3),
    {",".join(subs)},
    {pq_encode_sql('enc', 'base', ['s0', 's1'], d)},
    {pq_adc_sql('adc', 'base', 'enc_codes', 'qs', ['s0', 's1'], d,
                k_top=10)}
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, adc_d2, rank
    FROM adc_topk
    """


@query("q151_pq_adc_topk", oracle=_q151_oracle())
def q151_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py — Jégou et al. 2011
    IEEE TPAMI 33(1), the capability step past q110/q115's scalar
    quantizer and q46's coarse-only IVF): per-subspace codebooks from
    the q117-verified deterministic Lloyd trainer, corpus encoded to
    m nearest-centroid codes, queries answered by ADC — one m×k
    exact-decimal lookup table per query, each candidate scored by m
    table lookups, never a per-candidate vector op. The oracle
    replays training CTE-per-round per subspace (the q117 pattern on
    vector slices), the encoding argmins and the ADC table
    closed-form — codes and distances hash-verified. Scale: the
    codebook relation is m·k·d rows (broadcast), encode is the
    kmeans_assign narrow shape, the query side stays tiny, and
    ivf_pq_topk composes the coarse quantizer in front so ADC touches
    only probed cells. [extension]"""
    from db2pq_spark.operators.pq import (
        pq_adc_topk, pq_encode, pq_train)

    emb = t(spark, sf_dir, "embeddings")
    books = pq_train(emb, "embedding", "vec_id", m=2, k=4,
                     iterations=1, dim=64)
    codes = pq_encode(emb, books, "embedding", "vec_id")
    return pq_adc_topk(codes, emb.where(F.col("vec_id") < 3), books,
                       k_top=10, vec_col="embedding",
                       id_col="vec_id") \
        .select(F.col("query_id").cast("bigint").alias("query_id"),
                F.col("vec_id").cast("bigint").alias("vec_id"),
                "adc_d2", "rank")


@production("q151_pq_adc_topk")
def _q151_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployed IVF-PQ: Arrow trainers and encoder, 8×16 codebooks,
    8-cell coarse quantizer with 4 probes. The gate pins the tiny 2×4
    exact-decimal config its CTE-replay oracle can afford."""
    from db2pq_spark.operators.pq import ivf_pq_topk

    emb = t(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, emb.where(F.col("vec_id") < 20),
                       k_top=10, m=8, k_codes=16, n_clusters=8,
                       n_probe=4, impl="arrow")


_Q152_SQL = """
    WITH q AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neg_label,
             ROUND(
               list_dot_product(q.embedding::DOUBLE[],
                                c.embedding::DOUBLE[])
               / (SQRT(list_dot_product(q.embedding::DOUBLE[],
                                        q.embedding::DOUBLE[]))
                  * SQRT(list_dot_product(c.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]))),
               4) AS cos
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id AND c.label IS DISTINCT FROM q.label
    ),
    ranked AS (
      SELECT query_id, neighbor_id, neg_label, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, neg_label, cos, rank
    FROM ranked WHERE rank <= 5
"""


@query("q152_hard_negatives", oracle=_Q152_SQL)
def q152_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:hard_negatives) —
    DPR-style contrastive-training negatives (Karpukhin et al. 2020
    §3.2): per query, the top-5 most-cosine-similar vectors whose
    label DIFFERS from the query's (same-label vectors are positives
    and are excluded at the join, before scoring). Same broadcast
    nested-loop + query-keyed rank shape as q33; the oracle replays
    the scoring and exclusion brute-force. [extension]"""
    from db2pq_spark.operators.similarity import hard_negatives

    emb = t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 8), k=5)


def _q153_oracle() -> str:
    from db2pq_spark.operators.logreg import logreg_sql
    from db2pq_spark.operators.sampling import hash_bucket_sql

    body = logreg_sql("documents", _TOKENS, "doc_id",
                      "(source = 'src0')",
                      hash_bucket_sql("tok", 64, salt="lr"),
                      n_buckets=64, epochs=3, lr_micro=500_000)
    return f"""
    WITH {body}
    SELECT id, n_feats, margin_units, prob6, predicted FROM scored
    """


@query("q153_logreg_quality", oracle=_q153_oracle())
def q153_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-trained quality classifier
    (operators/logreg.py — the fastText-style supervised filter of the
    GPT-3 appendix-A / FineWeb-Edu lineage, and the iterative sibling
    of q124's closed-form Naive Bayes): hashed bag-of-words features,
    3 epochs of full-batch logistic-loss gradient descent with
    micro-unit integer weights, then every document scored under the
    final weights. Margins are exact int64 sums; residuals round to
    micro-units BEFORE aggregation so no float reduction order can
    diverge; weight updates are pure integer floor-divisions replayed
    by the oracle (engines agree wherever their exp doubles agree —
    the established log2/exp stance). Per epoch: one broadcast-weight
    margin pass + one id-keyed gradient join; the only driver
    materialization is the 65-row gradient vector (the k-means-class
    bounded fold). Gate pins md5 feature buckets; production uses
    xxhash64 at 2^12+ buckets. [extension]"""
    from db2pq_spark.operators.logreg import (
        logreg_score, logreg_train, logreg_weights_df)

    docs = t(spark, sf_dir, "documents")
    w = logreg_train(docs, "text", "doc_id",
                     F.col("source") == "src0",
                     n_buckets=64, epochs=3, lr_micro=500_000)
    return logreg_score(docs, logreg_weights_df(spark, w),
                        "text", "doc_id", n_buckets=64)


@production("q153_logreg_quality")
def _q153_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keys="xxhash64" feature buckets (no hex-string md5 build) in a
    4096-dim hashed space, the fastText-scale width. The gate pins
    md5/64 so DuckDB replays the buckets."""
    from db2pq_spark.operators.logreg import (
        logreg_score, logreg_train, logreg_weights_df)

    docs = t(spark, sf_dir, "documents")
    w = logreg_train(docs, "text", "doc_id", F.col("source") == "src0",
                     n_buckets=4096, epochs=3, keys="xxhash64")
    return logreg_score(docs, logreg_weights_df(spark, w), "text",
                        "doc_id", n_buckets=4096, keys="xxhash64")


def _q154_oracle() -> str:
    from db2pq_spark.operators.logreg import logreg_sql
    from db2pq_spark.operators.sampling import hash_bucket_sql

    body = logreg_sql(
        "(SELECT * FROM documents WHERE doc_id % 7 <> 0)",
        _TOKENS, "doc_id", "(source = 'src0')",
        hash_bucket_sql("tok", 64, salt="lr"),
        n_buckets=64, epochs=3, lr_micro=500_000,
        score_docs="(SELECT * FROM documents WHERE doc_id % 7 = 0)")
    return f"""
    WITH {body}
    SELECT id, n_feats, margin_units, prob6, predicted FROM scored
    """


@query("q154_logreg_score_increment", oracle=_q154_oracle())
def q154_logreg_score_increment(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Train-once / score-increments deployment of q153
    (operators/logreg.py:logreg_weights_df + logreg_score — the same
    discipline as the persisted MinHash signatures, KN stats, and
    unigram vocabulary): weights fit on the standing corpus
    (doc_id % 7 != 0) persist as a 65-row stamped relation; a new
    batch (doc_id % 7 == 0) is scored with one explode, one forced
    broadcast of the weight relation, one doc-keyed re-aggregate —
    the standing corpus is never touched. The _lr_b stamp is
    validated null-safely in-row inside the join (weights from a
    different hash space raise, costing no extra job). Hashed
    features cannot be OOV, so the join stays inner. [extension]"""
    from db2pq_spark.operators.logreg import (
        logreg_score, logreg_train, logreg_weights_df)

    docs = t(spark, sf_dir, "documents")
    w = logreg_train(docs.where(F.col("doc_id") % 7 != 0),
                     "text", "doc_id", F.col("source") == "src0",
                     n_buckets=64, epochs=3, lr_micro=500_000)
    return logreg_score(docs.where(F.col("doc_id") % 7 == 0),
                        logreg_weights_df(spark, w),
                        "text", "doc_id", n_buckets=64)


@production("q154_logreg_score_increment")
def _q154_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q153 production features (xxhash64/4096): weights trained on
    the standing corpus, the batch scored under the broadcast."""
    from db2pq_spark.operators.logreg import (
        logreg_score, logreg_train, logreg_weights_df)

    docs = t(spark, sf_dir, "documents")
    w = logreg_train(docs.where(F.col("doc_id") % 7 != 0), "text",
                     "doc_id", F.col("source") == "src0",
                     n_buckets=4096, epochs=3, keys="xxhash64")
    return logreg_score(docs.where(F.col("doc_id") % 7 == 0),
                        logreg_weights_df(spark, w), "text", "doc_id",
                        n_buckets=4096, keys="xxhash64")


def _q155_oracle(iterations: int = 5) -> str:
    teleport = 1_000_000 - (1_000_000 * 17) // 20
    ctes = ["""
    pr_pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    pr_edges AS (
      SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pr_pairs
      UNION ALL
      SELECT s * 2 + 1, c * 2 FROM pr_pairs
    ),
    pr_nodes AS (
      SELECT c_custkey * 2 AS node FROM customer
      UNION ALL
      SELECT s_suppkey * 2 + 1 FROM supplier
    ),
    pr_deg AS (
      SELECT n.node, CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg
      FROM pr_nodes n LEFT JOIN (
        SELECT src AS node, COUNT(*) AS deg FROM pr_edges GROUP BY 1
      ) d USING (node)
    ),
    pr_n AS (SELECT COUNT(*) AS n FROM pr_nodes),
    pr_r0 AS (
      SELECT node, deg, CAST(1000000 AS BIGINT) AS ru FROM pr_deg
    )"""]
    for i in range(1, iterations + 1):
        ctes.append(f"""
    pr_c{i} AS (
      SELECT e.dst AS node, CAST(r.ru // r.deg AS BIGINT) AS c
      FROM pr_r{i - 1} r JOIN pr_edges e ON r.node = e.src
      WHERE r.deg > 0
    ),
    pr_s{i} AS (SELECT node, SUM(c) AS s FROM pr_c{i} GROUP BY 1),
    pr_d{i} AS (
      SELECT COALESCE(SUM(ru), 0) AS dsum FROM pr_r{i - 1}
      WHERE deg = 0
    ),
    pr_r{i} AS (
      SELECT b.node, b.deg,
             CAST({teleport}
               + (17 * (COALESCE(s.s, 0) + (d.dsum // nc.n))) // 20
               AS BIGINT) AS ru
      FROM pr_deg b LEFT JOIN pr_s{i} s USING (node), pr_d{i} d, pr_n nc
    )""")
    return f"""
    WITH {",".join(ctes)}
    SELECT node, ru AS rank_units FROM pr_r{iterations}
    """


@query("q155_pagerank", oracle=_q155_oracle())
def q155_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (operators/graph.py — the crawl-curation
    centrality signal; Common Crawl publishes PageRank/harmonic host
    rankings for seed weighting) over the symmetrized customer↔supplier
    trade graph (distinct orders⋈lineitem pairs; node ids 2c / 2s+1
    keep the key spaces disjoint; customers with no orders are the
    dangling set). 5 damped (17/20) power steps in int64 micro-units —
    every division a non-negative integer floor, every sum exact, so
    the oracle replays the recurrence bit-for-bit with no float
    anywhere. Per step: one source-keyed rank⋈edges join + one
    destination-keyed partial/final SUM + a 1-row broadcast dangling
    aggregate; nothing collected, the node count rides as a 1-row
    broadcast. [extension]"""
    from db2pq_spark.operators.graph import pagerank

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    pairs = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .select(F.col("o_custkey").alias("c"),
                     F.col("l_suppkey").alias("s"))
             .distinct())
    # r13: symmetrize with ONE inline generator instead of a union of
    # two projections of `pairs` — the union re-evaluated the whole
    # orders⋈lineitem+distinct lineage per branch inside pagerank's
    # edge checkpoint (two joins, two distinct exchanges for the same
    # rows; measured in the checkpoint job). Same edge multiset.
    edges = pairs.select(F.inline(F.array(
        F.struct((F.col("c") * 2).alias("src"),
                 (F.col("s") * 2 + 1).alias("dst")),
        F.struct((F.col("s") * 2 + 1).alias("src"),
                 (F.col("c") * 2).alias("dst")))))
    nodes = (t(spark, sf_dir, "customer")
             .select((F.col("c_custkey") * 2).alias("node"))
             .union(t(spark, sf_dir, "supplier")
                    .select((F.col("s_suppkey") * 2 + 1).alias("node"))))
    # r13: the node universe is a superset of edge endpoints BY
    # CONSTRUCTION — TPC-H referential integrity pins every
    # o_custkey to customer and every l_suppkey to supplier, and the
    # 2c / 2s+1 encoding is applied identically on both sides — so
    # pagerank's anti-join validation job (one pass over the edge
    # endpoint stream) is skipped, the same construction-guarantee
    # case as host_rank_weights (measured ~0.3 s of the query's 4.3 s)
    return pagerank(edges, iterations=5, nodes=nodes,
                    validate_nodes=False)


def _q156_oracle() -> str:
    from db2pq_spark.operators.clustering import kmeans_sql_chain

    chain = kmeans_sql_chain("pp", "ppbase", k=4, iterations=2)
    return f"""
    WITH ppbase AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    {chain},
    ppown AS (
      SELECT d.id, d.cluster, d.d2
      FROM ppd3 d JOIN ppa3 a USING (id, cluster)
    ),
    ppranked AS (
      SELECT id, cluster, d2,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY d2, id) AS proto_rank,
             COUNT(*) OVER (PARTITION BY cluster) AS cn
      FROM ppown
    )
    SELECT id, CAST(cluster AS INT) AS cluster, d2,
           CAST(proto_rank AS BIGINT) AS proto_rank
    FROM ppranked
    WHERE proto_rank > (cn * 1) // 4
    """


@query("q156_prototype_prune", oracle=_q156_oracle())
def q156_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype diversity pruning
    (operators/clustering.py:prototype_prune — the second half of D4,
    Tirumala et al. 2023, after q114's SemDeDup; Sorscher et al. 2022
    for the prototype-distance criterion): k-means the embedding
    space with the q117-verified deterministic trainer, rank each
    point by exact-decimal distance to its own centroid, drop the
    closest quarter per cluster (most prototypical = least
    informative). The within-cluster rank is the range-partitioned
    global rank over (cluster, d2, id) — NO per-cluster window, which
    would funnel the corpus into k tasks; per-cluster counts are a
    k-bounded broadcast. The oracle replays the trainer CTE-per-round
    plus the rank/drop arithmetic. [extension]"""
    from db2pq_spark.operators.clustering import prototype_prune

    emb = t(spark, sf_dir, "embeddings")
    return prototype_prune(emb, "embedding", "vec_id", k=4,
                           iterations=2, drop=(1, 4)) \
        .select("id", F.col("cluster").cast("int").alias("cluster"),
                "d2", "proto_rank")


@production("q156_prototype_prune")
def _q156_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """impl="arrow" (BLAS) assignment, k=8. The gate pins the
    exact-decimal k=4 config its CTE oracle replays."""
    from db2pq_spark.operators.clustering import prototype_prune

    return prototype_prune(t(spark, sf_dir, "embeddings"), "embedding",
                           "vec_id", k=8, iterations=2, drop=(1, 4),
                           impl="arrow")


def _q157_oracle() -> str:
    from db2pq_spark.operators.pq import (
        pq_adc_sql, pq_encode_sql, pq_subspace_sql)

    d = 32  # dim 64 / m 2
    subs = [pq_subspace_sql(f"is{i}", "standing", i * d, d, k=4,
                            iterations=1) for i in range(2)]
    return f"""
    WITH standing AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id % 5 <> 0
    ),
    newq AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id % 5 = 0 AND vec_id < 15
    ),
    {",".join(subs)},
    {pq_encode_sql('ienc', 'standing', ['is0', 'is1'], d)},
    {pq_adc_sql('iadc', 'standing', 'ienc_codes', 'newq',
                ['is0', 'is1'], d, k_top=10)}
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, adc_d2, rank
    FROM iadc_topk
    """


@query("q157_pq_increment", oracle=_q157_oracle())
def q157_pq_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once / query-increments PQ deployment
    (operators/pq.py:pq_books_df + pq_books_restore — the persisted-
    index discipline of the MinHash signature corpus and the logreg
    weights, applied to the q151 quantizer): codebooks train on the
    standing corpus (vec_id % 5 != 0), round-trip through the stamped
    persistable (sub, code, subdim, c) relation (geometry stamps
    refuse a mis-matched restore), and a NEW batch's queries
    (vec_id % 5 == 0, first 3) are answered by ADC against the
    standing codes — the standing corpus is encoded once and never
    re-trained when batches arrive. Oracle replays training on the
    standing slice, encoding, and the ADC tables closed-form.
    [extension]"""
    from db2pq_spark.operators.pq import (
        pq_adc_topk, pq_books_df, pq_books_restore, pq_encode,
        pq_train)

    emb = t(spark, sf_dir, "embeddings")
    standing = emb.where(F.col("vec_id") % 5 != 0)
    newq = emb.where((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 15))
    books = pq_train(standing, "embedding", "vec_id", m=2, k=4,
                     iterations=1, dim=64)
    restored = pq_books_restore(pq_books_df(spark, books), 2, 4, 32)
    codes = pq_encode(standing, restored, "embedding", "vec_id")
    return pq_adc_topk(codes, newq, restored, k_top=10,
                       vec_col="embedding", id_col="vec_id") \
        .select(F.col("query_id").cast("bigint").alias("query_id"),
                F.col("vec_id").cast("bigint").alias("vec_id"),
                "adc_d2", "rank")


@production("q157_pq_increment")
def _q157_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q151 production geometry for train-once/query-increments:
    Arrow trainer and encoder, 8×16 codebooks, standing/batch split."""
    from db2pq_spark.operators.pq import pq_adc_topk, pq_encode, pq_train

    emb = t(spark, sf_dir, "embeddings")
    standing = emb.where(F.col("vec_id") % 5 != 0)
    newq = emb.where((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 100))
    books = pq_train(standing, "embedding", "vec_id", m=8, k=16,
                     iterations=2, dim=64, impl="arrow")
    codes = pq_encode(standing, books, "embedding", "vec_id", impl="arrow")
    return pq_adc_topk(codes, newq, books, k_top=10,
                       vec_col="embedding", id_col="vec_id")


def _q158_oracle(depth: int = 3, width: int = 256) -> str:
    from db2pq_spark.operators.cms import cms_col_sql

    def cells(src: str) -> str:
        return "\n      UNION ALL ".join(
            f"SELECT {r} AS row, {cms_col_sql('tok', r, width)} AS col"
            f" FROM {src}" for r in range(depth))

    probe = "\n      UNION ALL ".join(
        f"SELECT tok, {r} AS row,"
        f" {cms_col_sql('tok', r, width)} AS col FROM cexact"
        for r in range(depth))
    return f"""
    WITH ctoks AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ),
    cexact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM ctoks GROUP BY tok
      ORDER BY exact_cnt DESC, tok LIMIT 20
    ),
    ccells AS (
      SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ({cells('ctoks')})
      GROUP BY row, col
    ),
    cprobe AS ({probe}),
    cest AS (
      SELECT p.tok, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
      FROM cprobe p LEFT JOIN ccells s USING (row, col)
      GROUP BY p.tok
    )
    SELECT e.tok, e.exact_cnt, cest.est,
           cest.est >= e.exact_cnt AS overcount_ok
    FROM cexact e JOIN cest USING (tok)
    """


@query("q158_cms_heavy_hitters", oracle=_q158_oracle())
def q158_cms_heavy_hitters(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Count-min sketch frequency state (operators/cms.py — Cormode &
    Muthukrishnan 2005: d×w counter grid, row-salted hashes, point
    query = min over d counters, overcounts only): the standing
    corpus (doc_id % 5 != 0) and a new batch (doc_id % 5 == 0) are
    sketched separately and MERGED cell-wise — the fixed-size
    incremental-state sibling of the exact heavy hitters (q100) with
    O(d·w) state instead of vocabulary-sized. The gate probes the
    exact global top-20 tokens and asserts the one-sided error
    contract (est ≥ exact) per probe; the oracle sketches the union
    corpus directly, so equality PROVES the merge is lossless. Gate
    pins d=3, w=256, md5 hashes (DuckDB replays every cell);
    production runs xxhash64 at d=4, w=65536. [extension]"""
    from db2pq_spark.operators.cms import (
        cms_build, cms_merge, cms_probe)
    from db2pq_spark.operators.textstats import tokens as _tk

    docs = t(spark, sf_dir, "documents")
    d, w = 3, 256
    standing = cms_build(docs.where(F.col("doc_id") % 5 != 0),
                         "text", depth=d, width=w)
    batch = cms_build(docs.where(F.col("doc_id") % 5 == 0),
                      "text", depth=d, width=w)
    merged = cms_merge(standing, batch, depth=d, width=w)
    exact = (docs.select(F.explode(_tk("text")).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("exact_cnt"))
             .orderBy(F.desc("exact_cnt"), F.asc("tok")).limit(20))
    est = cms_probe(merged, exact, "tok", depth=d, width=w)
    return (exact.join(est, "tok")
            .select("tok", F.col("exact_cnt").cast("bigint"),
                    "est",
                    (F.col("est") >= F.col("exact_cnt"))
                    .alias("overcount_ok")))


@production("q158_cms_heavy_hitters")
def _q158_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production sketch geometry: xxhash64 row hashes, d=4, w=65536.
    The gate pins d=3/w=256/md5 so DuckDB replays every cell."""
    from db2pq_spark.operators.cms import cms_build, cms_merge, cms_probe
    from db2pq_spark.operators.textstats import tokens as _tk

    docs = t(spark, sf_dir, "documents")
    d, w = 4, 65536
    merged = cms_merge(
        cms_build(docs.where(F.col("doc_id") % 5 != 0), "text",
                  depth=d, width=w, keys="xxhash64"),
        cms_build(docs.where(F.col("doc_id") % 5 == 0), "text",
                  depth=d, width=w, keys="xxhash64"),
        depth=d, width=w, keys="xxhash64")
    exact = (docs.select(F.explode(_tk("text")).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("exact_cnt"))
             .orderBy(F.desc("exact_cnt"), F.asc("tok")).limit(20))
    return exact.join(cms_probe(merged, exact, "tok", depth=d, width=w,
                                keys="xxhash64"), "tok")


def _q159_oracle() -> str:
    from db2pq_spark.operators.logreg import logreg_sql
    from db2pq_spark.operators.sampling import hash_bucket_sql

    body = logreg_sql("documents", _TOKENS, "doc_id",
                      "(source = 'src0')",
                      hash_bucket_sql("tok", 64, salt="lr"),
                      n_buckets=64, epochs=3, lr_micro=500_000)
    return f"""
    WITH {body},
    aucsc AS (
      SELECT s.margin_units AS s, b.y
      FROM scored s JOIN lrbase b USING (id)
    ),
    aucg AS (
      SELECT s, COUNT(*) AS n, SUM(y) AS np_s FROM aucsc GROUP BY s
    ),
    aucr AS (
      SELECT np_s, n,
             2 * COALESCE(SUM(n) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) + n + 1 AS r2
      FROM aucg
    ),
    auct AS (
      SELECT SUM(np_s) AS n_pos, SUM(n) - SUM(np_s) AS n_neg,
             SUM(np_s * r2) AS r2pos
      FROM aucr
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(r2pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             round(CAST(r2pos - n_pos * (n_pos + 1) AS DOUBLE)
                   / (2.0e0 * n_pos * n_neg), 6)
           END AS auc
    FROM auct
    """


@query("q159_classifier_auc", oracle=_q159_oracle())
def q159_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed ROC-AUC (operators/evalmetrics.py:roc_auc —
    Mann–Whitney rank-sum identity, ties at half credit) of the q153
    logistic-regression margins against the seed labels: score-keyed
    aggregate, range-partitioned exclusive prefix sum (no single-
    partition window), doubled average ranks so every quantity stays
    exact int64 until the one final IEEE division. The training half
    replays q153's oracle; the AUC half replays the rank arithmetic.
    [extension]"""
    from db2pq_spark.operators.evalmetrics import roc_auc
    from db2pq_spark.operators.logreg import (
        logreg_score, logreg_train, logreg_weights_df)

    docs = t(spark, sf_dir, "documents")
    w = logreg_train(docs, "text", "doc_id",
                     F.col("source") == "src0",
                     n_buckets=64, epochs=3, lr_micro=500_000)
    scored = logreg_score(docs, logreg_weights_df(spark, w), "text",
                          "doc_id", n_buckets=64)
    joined = scored.join(
        docs.select(F.col("doc_id").alias("id"),
                    (F.col("source") == "src0").alias("_y")), "id")
    return roc_auc(joined, "margin_units", F.col("_y"))


@production("q159_classifier_auc")
def _q159_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC over the q153 production classifier (xxhash64/4096)."""
    from db2pq_spark.operators.evalmetrics import roc_auc

    return roc_auc(_production_labelled(spark, sf_dir), "margin_units",
                   F.col("_y"))


_Q160_SQL = f"""
    WITH mibase AS (
      SELECT doc_id, CAST(source = 'src0' AS INT) AS y,
             list_distinct({_TOKENS}) AS tks
      FROM documents
    ),
    mipres AS (
      SELECT doc_id, y, unnest(tks) AS tok FROM mibase
    ),
    micounts AS (
      SELECT tok, SUM(y) AS n11, SUM(1 - y) AS n10
      FROM mipres GROUP BY tok
    ),
    mitot AS (
      SELECT COUNT(*) AS n, SUM(y) AS np FROM mibase
    )
    SELECT tok,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(np - n11 AS BIGINT) AS n01,
           CAST(n - np - n10 AS BIGINT) AS n00,
           round(
             (CASE WHEN n11 > 0 THEN
               (CAST(n11 AS DOUBLE) / CAST(n AS DOUBLE))
               * log2(CAST(n11 * n AS DOUBLE)
                      / CAST((n11 + n10) * np AS DOUBLE))
              ELSE 0.0e0 END)
             + (CASE WHEN n10 > 0 THEN
               (CAST(n10 AS DOUBLE) / CAST(n AS DOUBLE))
               * log2(CAST(n10 * n AS DOUBLE)
                      / CAST((n11 + n10) * (n - np) AS DOUBLE))
              ELSE 0.0e0 END)
             + (CASE WHEN np - n11 > 0 THEN
               (CAST(np - n11 AS DOUBLE) / CAST(n AS DOUBLE))
               * log2(CAST((np - n11) * n AS DOUBLE)
                      / CAST((n - n11 - n10) * np AS DOUBLE))
              ELSE 0.0e0 END)
             + (CASE WHEN n - np - n10 > 0 THEN
               (CAST(n - np - n10 AS DOUBLE) / CAST(n AS DOUBLE))
               * log2(CAST((n - np - n10) * n AS DOUBLE)
                      / CAST((n - n11 - n10) * (n - np) AS DOUBLE))
              ELSE 0.0e0 END), 6) AS mi
    FROM micounts, mitot
    ORDER BY mi DESC, tok LIMIT 30
"""


@query("q160_token_mi", oracle=_Q160_SQL)
def q160_token_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature selection
    (operators/quality.py:token_mi — IIR §13.5.1): tokens ranked by
    I(presence; seed label), the diagnostic complement of the NB/
    logreg scorers and the vocabulary a production filter restricts
    its features to. Per-doc presence is in-row array_distinct BEFORE
    the explode (no corpus-sized distinct shuffle); the token
    aggregate is zipf-bounded, totals a broadcast 1-row relation,
    top-k a TakeOrdered. [extension]"""
    from db2pq_spark.operators.quality import token_mi

    docs = t(spark, sf_dir, "documents")
    return token_mi(docs, "text", "doc_id",
                    F.col("source") == "src0", k=30)


_Q161_SQL = f"""
    WITH lpdocs AS (
      SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000, text, 'zz' AS lang FROM documents
      WHERE text IS NOT NULL AND doc_id < 15
      UNION ALL
      SELECT doc_id + 2000000, text, lang FROM documents
      WHERE text IS NOT NULL AND doc_id < 15
    ),
    lph AS (
      SELECT doc_id, lang, md5({_NORM}) AS h FROM lpdocs
    ),
    lpg AS (
      SELECT doc_id, lang,
             MIN(doc_id) OVER (PARTITION BY h) AS comp,
             COUNT(*) OVER (PARTITION BY h) AS n
      FROM lph
    ),
    lpvotes AS (
      SELECT comp, lang, COUNT(*) AS cnt
      FROM lpg WHERE n >= 2 GROUP BY comp, lang
    ),
    lpwin AS (
      SELECT comp, lang AS label_repaired FROM (
        SELECT comp, lang,
               ROW_NUMBER() OVER (PARTITION BY comp
                                  ORDER BY cnt DESC, lang) AS rn
        FROM lpvotes) WHERE rn = 1
    )
    SELECT g.doc_id AS id, g.comp, g.lang AS label,
           w.label_repaired
    FROM lpg g JOIN lpwin w USING (comp)
    WHERE g.n >= 2
"""


@query("q161_label_propagation", oracle=_Q161_SQL)
def q161_label_propagation(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Majority-vote label propagation across duplicate clusters
    (operators/components.py:propagate_labels) — metadata repair: a
    mirrored page's language-ID flip is outvoted by its duplicates.
    Reuses q82's augmented 3-member chain fixture with the middle
    clone's lang deliberately corrupted to 'zz' (the 2-of-3 majority
    restores the original; ties break to the smallest label via a
    min-of-struct aggregate, no window). The oracle computes the
    component fixpoint closed-form (min id per content hash) and
    replays the vote. [extension]"""
    from db2pq_spark.operators.components import propagate_labels
    from db2pq_spark.operators.dedup import normalize_text

    base = (t(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull())
            .select("doc_id", "text", "lang"))
    docs = base
    for shift, lab in ((1_000_000, F.lit("zz")),
                       (2_000_000, F.col("lang"))):
        docs = docs.unionByName(
            base.where(F.col("doc_id") < 15)
            .select((F.col("doc_id") + shift).alias("doc_id"),
                    "text", lab.alias("lang")))
    hashed = docs.select("doc_id",
                         F.md5(normalize_text("text")).alias("h"))
    nxt = F.lead("doc_id").over(W.partitionBy("h").orderBy("doc_id"))
    edges = (hashed.select("doc_id", nxt.alias("next_id"))
             .where(F.col("next_id").isNotNull()))
    return propagate_labels(docs, edges, "doc_id", "lang",
                            src="doc_id", dst="next_id")


def _q162_oracle() -> str:
    from db2pq_spark.operators.logreg import logreg_sql
    from db2pq_spark.operators.sampling import hash_bucket_sql

    body = logreg_sql("documents", _TOKENS, "doc_id",
                      "(source = 'src0')",
                      hash_bucket_sql("tok", 64, salt="lr"),
                      n_buckets=64, epochs=3, lr_micro=500_000)
    return f"""
    WITH {body},
    calsc AS (
      SELECT s.prob6 AS p, b.y
      FROM scored s JOIN lrbase b USING (id)
    ),
    calb AS (
      SELECT CAST(LEAST(FLOOR(p * 10.0e0), 9) AS INT) AS bucket,
             y, p,
             CAST(round((p - CAST(y AS DOUBLE))
                        * (p - CAST(y AS DOUBLE)), 12)
                  AS DECIMAL(28,12)) AS sq
      FROM calsc
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DECIMAL(38,6))
             AS sum_prob,
           round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS mean_label,
           CAST(SUM(sq) AS DECIMAL(38,12)) AS sum_brier
    FROM calb GROUP BY bucket
    """


@query("q162_calibration", oracle=_q162_oracle())
def q162_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration buckets
    (operators/evalmetrics.py:calibration_buckets): the q153
    classifier's 6-digit probabilities cut into deciles (one IEEE
    multiply + floor — identical doubles in every engine), per-bucket
    positives vs probability mass plus the Brier accumulation
    (12-digit-rounded squared errors into an exact decimal sum). The
    reliability diagram + Brier score every production filter
    threshold decision should read. [extension]"""
    from db2pq_spark.operators.evalmetrics import calibration_buckets
    from db2pq_spark.operators.logreg import (
        logreg_score, logreg_train, logreg_weights_df)

    docs = t(spark, sf_dir, "documents")
    w = logreg_train(docs, "text", "doc_id",
                     F.col("source") == "src0",
                     n_buckets=64, epochs=3, lr_micro=500_000)
    scored = logreg_score(docs, logreg_weights_df(spark, w), "text",
                          "doc_id", n_buckets=64)
    joined = scored.join(
        docs.select(F.col("doc_id").alias("id"),
                    (F.col("source") == "src0").alias("_y")), "id")
    return calibration_buckets(joined, "prob6", F.col("_y"))


def _production_labelled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q153's production scores joined to the src0 label (q159/q162)."""
    docs = t(spark, sf_dir, "documents")
    return _q153_production(spark, sf_dir).join(
        docs.select(F.col("doc_id").alias("id"),
                    (F.col("source") == "src0").alias("_y")), "id")


@production("q162_calibration")
def _q162_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration buckets over the q153 production classifier
    (xxhash64/4096)."""
    from db2pq_spark.operators.evalmetrics import calibration_buckets

    return calibration_buckets(_production_labelled(spark, sf_dir),
                               "prob6", F.col("_y"))


_Q163_SQL = f"""
    WITH zc AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT unnest({_TOKENS}) AS tok FROM documents)
      GROUP BY tok
    ),
    zr AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
      FROM zc
    ),
    zt AS (
      SELECT freq,
             CAST(round(ln(CAST(rank AS DOUBLE)), 9)
                  AS DECIMAL(28,9)) AS x,
             CAST(round(ln(CAST(freq AS DOUBLE)), 9)
                  AS DECIMAL(28,9)) AS y,
             CAST(round(ln(CAST(rank AS DOUBLE))
                        * ln(CAST(rank AS DOUBLE)), 9)
                  AS DECIMAL(28,9)) AS xx,
             CAST(round(ln(CAST(rank AS DOUBLE))
                        * ln(CAST(freq AS DOUBLE)), 9)
                  AS DECIMAL(28,9)) AS xy,
             CAST(round(ln(CAST(freq AS DOUBLE))
                        * ln(CAST(freq AS DOUBLE)), 9)
                  AS DECIMAL(28,9)) AS yy
      FROM zr
    ),
    za AS (
      SELECT COUNT(*) AS n, SUM(freq) AS n_tokens,
             SUM(x) AS sx, SUM(y) AS sy, SUM(xx) AS sxx,
             SUM(xy) AS sxy, SUM(yy) AS syy
      FROM zt
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0
                THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE)
                                * CAST(sx AS DOUBLE)), 6)
           END AS slope,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0
                THEN round((CAST(sy AS DOUBLE)
                            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE)
                                  * CAST(sy AS DOUBLE))
                               / (CAST(n AS DOUBLE)
                                  * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE)
                                    * CAST(sx AS DOUBLE)))
                              * CAST(sx AS DOUBLE))
                           / CAST(n AS DOUBLE), 6)
           END AS intercept,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0)
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) != 0)
                THEN round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                               - CAST(sx AS DOUBLE)
                                 * CAST(sy AS DOUBLE)))
                           / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE)
                                 * CAST(sx AS DOUBLE))
                              * (CAST(n AS DOUBLE)
                                 * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE)
                                   * CAST(sy AS DOUBLE))), 6)
           END AS r2
    FROM za
"""


@query("q163_zipf_fit", oracle=_Q163_SQL)
def q163_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law corpus diagnostic
    (operators/textstats.py:zipf_fit): least-squares slope of
    ln(freq) vs ln(rank) over the frequency-ranked vocabulary —
    natural text sits near −1; template floods and synthetic text
    drift off. Ranks from the range-partitioned global rank (total
    order, no single-partition window); per-point regression terms
    round to 9 digits before exact decimal accumulation, so the
    closed-form slope/intercept/r² replay wherever engines' ln
    doubles agree. One explode, one zipf-bounded aggregate, one 1-row
    fold. [extension]"""
    from db2pq_spark.operators.textstats import zipf_fit

    return zipf_fit(t(spark, sf_dir, "documents"), "text")


_Q164_SQL = f"""
    WITH dra AS (
      SELECT tok, COUNT(*) AS cnt_a
      FROM (SELECT unnest({_TOKENS}) AS tok FROM documents
            WHERE doc_id % 5 <> 0)
      GROUP BY tok
    ),
    drb AS (
      SELECT tok, COUNT(*) AS cnt_b
      FROM (SELECT unnest({_TOKENS}) AS tok FROM documents
            WHERE doc_id % 5 = 0)
      GROUP BY tok
    ),
    drm AS (
      SELECT COALESCE(a.tok, b.tok) AS tok,
             COALESCE(a.cnt_a, 0) AS cnt_a,
             COALESCE(b.cnt_b, 0) AS cnt_b
      FROM dra a FULL OUTER JOIN drb b ON a.tok = b.tok
    ),
    drt AS (
      SELECT SUM(cnt_a) AS na, SUM(cnt_b) AS nb, COUNT(*) AS v
      FROM drm
    )
    SELECT tok, CAST(cnt_a AS BIGINT) AS cnt_a,
           CAST(cnt_b AS BIGINT) AS cnt_b,
           round(
             ((CAST(cnt_b AS DOUBLE) + 1.0e0)
              / (CAST(nb AS DOUBLE) + 1.0e0 * CAST(v AS DOUBLE)))
             * log2(((CAST(cnt_b AS DOUBLE) + 1.0e0)
                     / (CAST(nb AS DOUBLE)
                        + 1.0e0 * CAST(v AS DOUBLE)))
                    / ((CAST(cnt_a AS DOUBLE) + 1.0e0)
                       / (CAST(na AS DOUBLE)
                          + 1.0e0 * CAST(v AS DOUBLE)))), 6)
           AS kl_term
    FROM drm, drt
    ORDER BY abs(kl_term) DESC, tok LIMIT 30
"""


@query("q164_token_drift", oracle=_Q164_SQL)
def q164_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift detection (operators/quality.py:token_drift) —
    the distribution-shift QA gate between the standing corpus
    (doc_id % 5 != 0) and a new crawl batch (doc_id % 5 == 0):
    per-token KL(B‖A) contributions under Laplace smoothing over the
    union vocabulary, top-30 by absolute contribution (tokens that
    exploded or vanished ARE the diagnosis; Σ terms = the KL
    statistic). Two zipf-bounded token aggregates, one full-outer
    vocabulary merge, broadcast 1-row totals, TakeOrdered.
    [extension]"""
    from db2pq_spark.operators.quality import token_drift

    docs = t(spark, sf_dir, "documents")
    return token_drift(docs.where(F.col("doc_id") % 5 != 0),
                       docs.where(F.col("doc_id") % 5 == 0), "text")


_Q165_SQL = f"""
    WITH kbase AS (
      SELECT doc_id, {_TOKENS} AS toks FROM documents
      WHERE {_HAS_TEXT}
    ),
    kg AS (
      SELECT doc_id, i - 1 AS pos,
             md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS h
      FROM kbase, unnest(generate_series(1, len(toks) - 2)) AS t(i)
      WHERE len(toks) >= 3
    ),
    kocc AS (
      SELECT doc_id, pos, h,
             COUNT(*) OVER (PARTITION BY h) AS c,
             ROW_NUMBER() OVER (PARTITION BY h
                                ORDER BY doc_id, pos) AS rn
      FROM kg
    ),
    kcov AS (
      SELECT DISTINCT doc_id, pos + o.o AS ti
      FROM kocc, unnest(generate_series(0, 2)) AS o(o)
      WHERE c >= 2 AND rn > 1
    ),
    ktok AS (
      SELECT doc_id, i - 1 AS ti, toks[i] AS tok
      FROM kbase, unnest(generate_series(1, len(toks))) AS t(i)
    ),
    kkept AS (
      SELECT tr.doc_id,
             string_agg(tr.tok, ' ' ORDER BY tr.ti) AS clean_text,
             COUNT(*) AS n_kept
      FROM ktok tr
      LEFT JOIN kcov c ON tr.doc_id = c.doc_id AND tr.ti = c.ti
      WHERE c.ti IS NULL
      GROUP BY tr.doc_id
    )
    SELECT b.doc_id AS id,
           COALESCE(k.clean_text, '') AS clean_text,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(b.toks) - COALESCE(k.n_kept, 0) AS BIGINT)
             AS n_removed
    FROM kbase b LEFT JOIN kkept k USING (doc_id)
"""


@query("q165_keep_one_removal", oracle=_Q165_SQL)
def q165_keep_one_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-ONE duplicated-span removal (operators/dedup.py:
    remove_duplicate_spans keep="one") — the Lee et al. 2107.06499
    canonical-occurrence semantics q116's drop-all variant deviates
    from: per corpus-duplicated trigram key, the exemplar occurrence
    (min (id, pos), the argmin-by-struct pattern) survives; every
    other occurrence is cut and documents reassemble in-row. The
    oracle replays the exemplar choice with a ROW_NUMBER over
    (doc_id, pos) per span key. Gate-exactness config
    ``span_hash="md5"``; production default is xxhash64.
    [extension]"""
    from db2pq_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        n=3, min_count=2, span_hash="md5", keep="one")


@production("q165_keep_one_removal")
def _q165_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator default keys: xxhash64, canonical-occurrence exemplar
    spared. The gate pins md5 so DuckDB replays the exemplar choice."""
    from db2pq_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(t(spark, sf_dir, "documents"), "text",
                                  "doc_id", n=3, min_count=2, keep="one")


def _q166_oracle(iterations: int = 5) -> str:
    teleport = 1_000_000 - (1_000_000 * 17) // 20
    ctes = ["""
    hw_edges AS (
      SELECT a.source AS src, b.source AS dst
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    ),
    hw_nodes AS (SELECT DISTINCT source AS node FROM documents),
    hw_deg AS (
      SELECT n.node, CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg
      FROM hw_nodes n LEFT JOIN (
        SELECT src AS node, COUNT(*) AS deg FROM hw_edges GROUP BY 1
      ) d USING (node)
    ),
    hw_n AS (SELECT COUNT(*) AS n FROM hw_nodes),
    hw_r0 AS (
      SELECT node, deg, CAST(1000000 AS BIGINT) AS ru FROM hw_deg
    )"""]
    for i in range(1, iterations + 1):
        ctes.append(f"""
    hw_c{i} AS (
      SELECT e.dst AS node, CAST(r.ru // r.deg AS BIGINT) AS c
      FROM hw_r{i - 1} r JOIN hw_edges e ON r.node = e.src
      WHERE r.deg > 0
    ),
    hw_s{i} AS (SELECT node, SUM(c) AS s FROM hw_c{i} GROUP BY 1),
    hw_d{i} AS (
      SELECT COALESCE(SUM(ru), 0) AS dsum FROM hw_r{i - 1}
      WHERE deg = 0
    ),
    hw_r{i} AS (
      SELECT b.node, b.deg,
             CAST({teleport}
               + (17 * (COALESCE(s.s, 0) + (d.dsum // nc.n))) // 20
               AS BIGINT) AS ru
      FROM hw_deg b LEFT JOIN hw_s{i} s USING (node), hw_d{i} d, hw_n nc
    )""")
    return f"""
    WITH {",".join(ctes)},
    hw_counts AS (
      SELECT source AS host, COUNT(*) AS host_doc_count
      FROM documents GROUP BY 1
    )
    SELECT d.doc_id, d.source AS host,
           CAST(r.ru AS BIGINT) AS host_rank_units,
           CAST(c.host_doc_count AS BIGINT) AS host_doc_count,
           CAST(r.ru // c.host_doc_count AS BIGINT) AS weight_units
    FROM documents d
    JOIN hw_r{iterations} r ON r.node = d.source
    JOIN hw_counts c ON c.host = d.source
    """


@query("q166_host_rank_weights", oracle=_q166_oracle())
def q166_host_rank_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph curation weights (operators/graph.py:
    host_rank_weights) — the Common Crawl seed-weighting composition:
    PageRank the HOST graph, split each host's integer rank mass
    evenly (floor units) across its documents, broadcast the
    host-sized weight relation back onto the corpus (the corpus never
    shuffles). Fixture host graph: `source` is the host; the
    host→host edge relation is the consecutive-doc co-citation chain
    (doc i's host links doc i+1's host — parallel edges weight the
    link, exactly the multiplicity semantics real outlink extraction
    yields). 5 damped 17/20 power steps in exact int64 micro-units;
    the oracle replays the recurrence and the floor split
    bit-for-bit. [extension]"""
    from db2pq_spark.operators.graph import host_rank_weights

    docs = t(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.col("source").alias("src_host"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_id"),
                    F.col("source").alias("dst_host"))
    edges = a.join(b, "doc_id").select("src_host", "dst_host")
    return host_rank_weights(docs, edges, host_col="source",
                             iterations=5)


@query("q167_stream_token_drift", oracle=_Q164_SQL)
def q167_stream_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED corpus-drift monitor (streaming/drift.py:
    stream_token_drift) — q164's token_drift composed with the
    foreachBatch exactly-once discipline: standing token counts live
    as a stamped rollup table (seeded here from the standing corpus
    via init_token_counts), the new-crawl batch arrives as a stream,
    and the single availableNow trigger emits its top-30 KL
    contributions against the standing counts before folding them in
    (sidecar batch-id + checkpoint lineage, the stream_rollup
    mechanism). The emission must equal the batch operator on the
    same split — hence q164's oracle verbatim. Restart/no-double-
    count and stamp-refusal are pinned in tests/test_streaming.py.
    [extension]"""
    import tempfile

    from db2pq_spark.core import Engine
    from db2pq_spark.streaming.drift import (init_token_counts,
                                             stream_token_drift)

    docs = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="q167_drift_")
    eng = Engine(spark, tmp)
    init_token_counts(eng, docs.where(F.col("doc_id") % 5 != 0),
                      "stream", "td_counts")
    got: dict[int, DataFrame] = {}

    def sink(df: DataFrame, batch_id: int) -> None:
        got[batch_id] = df

    # the file streaming source needs a directory: a single-file
    # fixture streams its parent with a name glob (read_events_stream's
    # discipline); a directory fixture (scale replicas) streams as-is
    import os

    src = f"{sf_dir}/documents.parquet"
    reader = spark.readStream.schema(spark.read.parquet(src).schema)
    if os.path.isfile(src):
        raw = reader.option("pathGlobFilter", "documents.parquet") \
            .parquet(sf_dir)
    else:
        raw = reader.parquet(src)
    stream = raw.where(F.col("doc_id") % 5 == 0)
    q = stream_token_drift(stream, eng, "stream", "td_counts", sink,
                           checkpoint_dir=f"{tmp}/ckpt")
    q.awaitTermination()
    assert len(got) == 1, f"expected one trigger, got {sorted(got)}"
    return next(iter(got.values()))
