"""DSIR — Data Selection with Importance Resampling.

Xie et al., *Data Selection for Language Models via Importance
Resampling* (NeurIPS 2023): to pick pretraining data that "looks like"
a target corpus, estimate importance weights in a HASHED n-gram
feature space — ``w(d) = Π_f (p_target(f)/p_raw(f))^{c_f(d)}`` under
smoothed bag-of-features models — and sample without replacement with
probability ∝ w via the Gumbel-top-k trick. The hashed feature space
(bucket the n-grams, keep a B-dimensional multinomial) is what makes
it tractable at corpus scale, and the whole estimator is closed-form
counts — fully relational, no training loop.

Reference repo has no data-selection surface (ETL/sync only,
``/root/reference/README.md:1-17``); [extension] per the driver
charter, following the paper's construction.

Scale shape: one corpus explode into hashed bigram features → one
B-bounded feature aggregate with conditional partial counts (target
vs raw in a single pass) → AQE-broadcast of the B-row log-ratio
relation into the occurrence join → one doc-keyed re-aggregate, then
Gumbel keys are a narrow projection and top-k is a TakeOrdered (no
global sort materialization). B is a constant (2¹²–2¹⁸ in the paper),
so nothing here grows with corpus size except the two linear passes.

``keys`` picks the feature-bucket hash: ``"md5"`` (gate exactness —
:func:`~db2pq_spark.operators.sampling.hash_bucket` replays
bit-for-bit in DuckDB) or ``"xxhash64"`` (production: one 64-bit hash
per bigram, no hex-string build — same stance as the span/winnow
keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.sampling import hash_bucket, salted_bucket
from db2pq_spark.operators.textstats import tokens


def _bigram_features(df: DataFrame, text_col: str, id_col: str,
                     target: Column, n_buckets: int,
                     keys: str) -> DataFrame:
    """(id, _tgt, feat) — hashed-bigram feature occurrences. Word
    bigrams are the paper's default feature; hashing them into
    ``n_buckets`` is what bounds the model size."""
    toked = df.select(F.col(id_col).alias("id"), target.alias("_tgt"),
                      tokens(text_col).alias("_toks")) \
        .where(F.size("_toks") >= 2)
    pairs = F.arrays_zip(
        F.slice("_toks", F.lit(1), F.size("_toks") - 1),
        F.slice("_toks", F.lit(2), F.size("_toks") - 1))
    bg = (toked.select("id", "_tgt", F.explode(pairs).alias("_p"))
          .select("id", "_tgt",
                  F.concat_ws(" ", F.col("_p").getField("0"),
                              F.col("_p").getField("1")).alias("_gram")))
    feat = salted_bucket(F.col("_gram"), n_buckets, "dsir", keys)
    return bg.select("id", "_tgt", feat.alias("feat"))


def dsir_log_weights(
    df: DataFrame, text_col: str, id_col: str, target: Column,
    n_buckets: int = 4096, alpha: float = 1.0,
    round_digits: int = 6, keys: str = "md5",
) -> DataFrame:
    """Per-document DSIR log importance weight
    ``Σ_f c_f(d) · log2( p̂_target(f) / p̂_raw(f) )`` over hashed
    bigram features, with Laplace-``alpha`` smoothing,

        p̂_c(f) = (count_c(f) + α) / (N_c + α·B).

    ``target`` is a boolean Column marking the target-distribution
    exemplars (the paper's "formal text" side); the RAW distribution
    is the whole of ``df`` — matching the paper, where raw is the
    pool being selected from and the target set is tiny by
    comparison.

    Returns ``(id, n_feats, sum_logw, mean_logw)`` — ``sum_logw`` the
    exact DECIMAL accumulation of per-feature log-ratios rounded to
    ``round_digits`` (order-independent, the oracle-compared value),
    ``mean_logw`` the double convenience."""
    feats = _bigram_features(df, text_col, id_col, target,
                             n_buckets, keys)
    counts = (feats.groupBy("feat")
              .agg(F.sum(F.when(F.col("_tgt"), 1).otherwise(0))
                   .alias("ct"),
                   F.count("*").alias("cr")))
    totals = counts.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    a = F.lit(float(alpha))
    b = F.lit(float(n_buckets))
    # smoothing denominator uses B (the full hashed space), not the
    # number of OCCUPIED buckets — empty buckets are part of the
    # multinomial; evaluation order mirrored in the oracle SQL
    logratio = F.round(
        F.log2((F.col("ct").cast("double") + a)
               / (F.col("nt").cast("double") + a * b))
        - F.log2((F.col("cr").cast("double") + a)
                 / (F.col("nr").cast("double") + a * b)),
        round_digits).cast("decimal(28,10)")
    ratios = (counts.crossJoin(F.broadcast(totals))
              .select("feat", logratio.alias("s")))
    # ratios is B-bounded (≤ n_buckets rows, unconditionally) — force
    # the broadcast: the occurrence side is an explode whose size
    # estimate stays at the pre-explode scan bytes, so the static
    # planner otherwise builds the broadcast from the exploded corpus
    return (feats.join(F.broadcast(ratios), "feat")
            .groupBy("id")
            .agg(F.count("*").alias("n_feats"), F.sum("s").alias("_sum"))
            .select("id",
                    F.col("n_feats").cast("bigint").alias("n_feats"),
                    F.col("_sum").cast("decimal(38,10)").alias("sum_logw"),
                    (F.col("_sum").cast("double") / F.col("n_feats"))
                     .alias("mean_logw")))


def dsir_sample(
    df: DataFrame, text_col: str, id_col: str, target: Column, k: int,
    n_buckets: int = 4096, alpha: float = 1.0,
    round_digits: int = 6, keys: str = "md5",
    gumbel_buckets: int = 1_000_000, salt: str = "dsir-gumbel",
) -> DataFrame:
    """Gumbel-top-k importance resample: the ``k`` documents with the
    largest ``log w(d) + Gumbel(d)``, which is a draw WITHOUT
    replacement with probability ∝ w(d) (the Gumbel-max argument the
    paper uses). The Gumbel noise is deterministic — ``-ln(-ln(u))``
    with ``u`` an md5-derived uniform of the document id (the
    Efraimidis–Spirakis machinery from
    :mod:`~db2pq_spark.operators.sampling`) — so the sample is
    reproducible across engines and re-runs. Mean (not sum) log-weight
    enters the key: per the paper, weights are per-document
    distributions, so length must not dominate the draw.

    Top-k runs as a TakeOrdered (per-partition heaps + driver merge of
    k×partitions rows), never a global sort."""
    lw = dsir_log_weights(df, text_col, id_col, target, n_buckets,
                          alpha, round_digits, keys)
    u = (hash_bucket(F.col("id"), gumbel_buckets, salt=salt)
         .cast("double") + F.lit(1.0)) / F.lit(float(gumbel_buckets + 1))
    g = -F.log(-F.log(u))
    key = F.round(F.col("mean_logw") + g, round_digits).alias("gumbel_key")
    return (lw.select("id", "n_feats", "sum_logw", "mean_logw", key)
            .orderBy(F.col("gumbel_key").desc(), F.col("id"))
            .limit(int(k)))
