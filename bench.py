#!/usr/bin/env python
"""Benchmark harness. Prints a full detail record (also mirrored to
BENCH_DETAIL.json) followed by ONE compact JSON line — the driver keeps
the last 2000 chars of stdout and parses that final line into
BENCH_r{N}.json, so it stays short (compact keys, 2-dp, asserted
<1500 chars; round 6's single fat line overflowed the window and the
round's perf record came back parsed:null).

Workload shapes mirror the reference's benchmark definitions
(BASELINE.md: full-table export ≈ crsp.dsf, filtered/projected export
≈ comp.funda, small fixed-cost run) plus this engine's headline
analytical queries and extension operators at sf0.1.

Round-11 measurement isolation: queries run in a FRESH WORKER PROCESS
per query family (≤4 related queries per JVM, lightest first), the
same discipline scripts/scale_smoke.py adopted in round 10 — a single
shared 56-query session AGES (stacked cache/checkpoint generations,
GC debt) and fabricated round-over-round "regressions" on queries with
zero code change (q64 2.24 s in-session vs 1.32 s isolated).
Execution stays `.collect()` so historical BENCH comparisons remain
valid; per-query loadavg, steady-run spread and worker pid land in
BENCH_DETAIL.json so a contaminated number is self-diagnosing.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_ANALYTICAL = (
    "q01_pricing_summary", "q03_top_orders", "q05_region_revenue",
    "q06_forecast_revenue", "q08_running_total",
    "q19_tumbling_window", "q20_sessionization",
    "q61_min_cost_supplier", "q64_waiting_supplier",
    "q66_hash_split",
)

_EXTENSION = (
    "q30_exact_dedup", "q31_text_profile", "q33_cosine_topk",
    "q36_minhash_dedup", "q38_lsh_similarity",
    "q94_range_join", "q95_validation", "q96_bm25",
    "q102_duplicate_spans", "q103_vocab_encode",
    # round-5 operator tier — benched so regressions are visible
    "q109_source_mix", "q110_quantize_embeddings", "q111_bloom_probe",
    "q112_unigram_surprisal", "q113_training_pipeline",
    "q114_semantic_dedup",
    # round-6 additions
    "q115_quantized_topk", "q116_span_removal", "q117_kmeans",
    "q118_split_leakage",
    # round-7/8 additions
    "q119_winnow_overlap", "q120_bpe_merges", "q121_kneser_ney",
    "q122_bpe_segment", "q123_winnow_incremental",
    # round-9 additions
    "q124_nb_quality", "q125_dsir_sample", "q126_embedding_moments",
    "q127_cluster_representatives", "q128_mmr_select",
    "q129_nb_score_increment",
    # round-10 additions — the corpus quality-filter battery
    "q130_gopher_rules", "q131_edit_confirm", "q132_char_entropy",
    "q133_source_cap", "q134_line_filter", "q135_vocab_coverage",
    "q136_span_corruption", "q137_repeated_lines",
    "q138_repeated_lines_incremental", "q139_budget_select",
    "q140_ccnet_buckets", "q141_kn_score_increment",
    # round-11 additions — incremental semantic dedup + unigram LM
    "q142_semdedup_incremental", "q143_unigram_train",
    "q144_unigram_segment", "q145_unigram_segment_increment",
    "q146_wordpiece_segment", "q147_gopher_repetition",
    # round-12 additions
    "q148_unigram_soft", "q149_longest_dup_span",
    "q150_longest_span_removal", "q151_pq_adc_topk",
    "q152_hard_negatives", "q153_logreg_quality",
    "q154_logreg_score_increment", "q155_pagerank",
    "q156_prototype_prune", "q157_pq_increment",
    "q158_cms_heavy_hitters", "q159_classifier_auc",
    "q160_token_mi", "q161_label_propagation", "q162_calibration",
    "q163_zipf_fit", "q164_token_drift",
    # round-13 additions
    "q165_keep_one_removal", "q166_host_rank_weights",
    "q167_stream_token_drift",
)


def _q38_ann_default(spark, sf_dir: str):
    """The sub-linear ANN configuration (operator defaults: 8 planes ×
    4 tables, multi-probe radius 2) — what a 100 TB deployment runs.
    The registry's q38 gate entry probes exhaustively so it can carry
    an exact oracle; benchmarking THAT would time brute force, so the
    bench pins the approximate config rounds 2-4 measured."""
    from pyspark.sql import functions as F

    from db2pq_spark.operators.similarity import lsh_bucket_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q36_minhash_default(spark, sf_dir: str):
    """The production MinHash-LSH configuration (operator defaults:
    16 bands × 4 rows, skew cap on, Arrow signature kernel). The
    registry's q36 gate entry runs the exactness config (32×2 banding,
    cap OFF) so its oracle claim is structural; that config generates
    strictly more candidates, so benchmarking it conflates the
    gate-exactness surcharge with operator throughput — rounds ≤4
    benched the production shape, this pins it explicitly (the r4→r5
    'regression' was exactly this config drift)."""
    from db2pq_spark.operators.dedup import minhash_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup(docs, "text", "doc_id", num_hashes=64,
                         bands=16, threshold=0.7, max_bucket=1000,
                         impl="arrow")


def _q110_quantize_real_shape(spark, sf_dir: str):
    """The production output shape: (vec_id, qvec array<tinyint>,
    qscale). The registry's q110 gate entry posexplodes every code to
    scalars because the driver canon can't sort array cells — at sf0.1
    that's an |vecs|×dim row collect, which times driver transfer of
    the exploded relation, not the operator (pure narrow codegen)."""
    from db2pq_spark.operators.quantize import quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return quantize_embeddings(emb, "embedding") \
        .select("vec_id", "qvec", "qscale")


def _q117_kmeans_arrow(spark, sf_dir: str):
    """The production trainer config (impl='arrow': BLAS assignment,
    fully narrow). The registry's q117 entry runs the exact-decimal
    configuration so its oracle replays both iterations bit-for-bit;
    that exactness surcharge is an oracle cost, not deployed behavior
    (same override rationale as q36/q38)."""
    from db2pq_spark.operators.clustering import kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, _ = kmeans_fit(emb, "embedding", "vec_id",
                             k=4, iterations=2, impl="arrow")
    return assigned.groupBy("cluster").count()


def _q119_winnow_production(spark, sf_dir: str):
    """Production winnowing config (operator defaults: 5-token grams,
    window 4, hot-fingerprint cap 1000, arrow64 long fingerprints
    via the Arrow numpy kernel).
    The gate entry pins k=4/w=3 uncapped md5_60 so its DuckDB oracle
    replays every pair."""
    from db2pq_spark.operators.dedup import winnow_overlap_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_overlap_pairs(docs, "text", "doc_id", min_shared=2)


def _q107_incremental_production(spark, sf_dir: str):
    """Incremental dedup at production defaults (16×4 capped banding,
    hashed-long shingles). The gate entry pins 32×2 uncapped text
    shingles so its oracle is exact all-pairs Jaccard replay."""
    from pyspark.sql import functions as F

    from db2pq_spark.operators.dedup import minhash_dedup_incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0), "text", "doc_id")


def _q123_winnow_inc_production(spark, sf_dir: str):
    """Incremental winnowing at production defaults (arrow64
    fingerprints, k=5/w=4, cap 1000). The gate entry pins md5_60
    k=4/w=3 uncapped so DuckDB replays the fingerprints."""
    from pyspark.sql import functions as F

    from db2pq_spark.operators.dedup import winnow_overlap_incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_overlap_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "text", "doc_id", min_shared=2)


def _q118_leakage_production(spark, sf_dir: str):
    """Leakage audit at minhash_dedup's production defaults (16×4
    banding, 1000-doc bucket cap). The gate entry pins 32×2 uncapped
    banding so its DuckDB oracle is exact all-pairs Jaccard."""
    from pyspark.sql import functions as F

    from db2pq_spark.operators.dedup import minhash_dedup
    from db2pq_spark.operators.sampling import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup(docs, "text", "doc_id")
    sp = split_assign(docs, "doc_id", {"train": 0.8, "test": 0.2}) \
        .select("doc_id", "split")
    return (pairs
            .join(sp.withColumnsRenamed(
                {"doc_id": "id1", "split": "split1"}), "id1")
            .join(sp.withColumnsRenamed(
                {"doc_id": "id2", "split": "split2"}), "id2")
            .where(F.col("split1") != F.col("split2")))


def _q121_kn_hash_keys(spark, sf_dir: str):
    """Kneser–Ney at the production key configuration (xxhash64 long
    bigram keys — ~4× narrower shuffles). The gate entry keys by the
    bigram strings so DuckDB replays every statistic exactly."""
    from db2pq_spark.operators.textstats import kneser_ney_bigrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kneser_ney_bigrams(docs, "text", "doc_id", keys="hash",
                              broadcast_stats=True)


def _q102_spans_xxh(spark, sf_dir: str):
    """Production span keys: xxhash64 (8-byte longs, ~4× less shuffle
    width than the md5 hex strings the gate-exactness config pins so
    DuckDB can replay the keys)."""
    from db2pq_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_spans(docs, "text", "doc_id", n=3)


def _q116_removal_xxh(spark, sf_dir: str):
    """Production span-removal config: xxhash64 keys (same
    gate/production split as q102)."""
    from db2pq_spark.operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicate_spans(docs, "text", "doc_id",
                                  n=3, min_count=2)


def _q165_keep_one_xxh(spark, sf_dir: str):
    """Production keep-one removal config: xxhash64 keys (the gate
    entry pins md5 so DuckDB replays the exemplar choice)."""
    from db2pq_spark.operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicate_spans(docs, "text", "doc_id",
                                  n=3, min_count=2, keep="one")


#: bench-local overrides: query name -> callable(spark, sf_dir)
def _q125_dsir_production(spark, sf_dir: str):
    """DSIR at production feature keys (xxhash64 bucket hash — one
    64-bit hash per bigram, no hex-string build). The gate entry pins
    keys='md5' so DuckDB replays buckets and ranking bit-for-bit."""
    from pyspark.sql import functions as F

    from db2pq_spark.operators.importance import dsir_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_sample(docs, "text", "doc_id",
                       F.col("source") == "src1", k=200,
                       keys="xxhash64")


def _q126_moments_arrow(spark, sf_dir: str):
    """Embedding moments via the arrow impl (one BLAS Xt·X per Arrow
    batch — d² fewer rows than the exact explode-pairs gate config)."""
    from db2pq_spark.operators.pca import embedding_moments

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_moments(emb, "embedding", impl="arrow")


def _q131_confirm_production(spark, sf_dir: str):
    """Production two-phase fuzzy dedup: MinHash-LSH recall stage
    (operator defaults) feeding the Levenshtein confirm. The gate's
    q131 entry generates candidates with a (source, length-bucket)
    blocked self-join so its oracle can replay the pair set exactly —
    that blocking is quadratic within a block, an oracle surcharge,
    not the deployed candidate generator."""
    from db2pq_spark.operators.dedup import minhash_dedup
    from db2pq_spark.operators.filtering import edit_confirm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup(docs, "text", "doc_id").select("id1", "id2")
    return edit_confirm(docs, pairs, "text", "doc_id",
                        min_sim=0.75, max_len=160)


def _q132_entropy_arrow(spark, sf_dir: str):
    """Production char-entropy path (impl='arrow'): one mapInPandas
    histogram pass — no per-character explode, no shuffle. The gate's
    q132 entry pins the expression form whose per-char explode +
    two-level aggregate the DuckDB oracle replays; that is ~300× the
    row volume for the same (bit-identical) answer."""
    from db2pq_spark.operators.filtering import char_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return char_entropy(docs, "text", "doc_id", impl="arrow") \
        .select("id", "n_chars", "sum_clog2c")


def _q147_hash_keys(spark, sf_dir: str):
    """Production gram keys: xxhash64 over slices of the per-token
    hash array — gram strings never constructed (bit-identical values
    by the (count, length) tie discipline; the gate entry pins
    keys='exact' so DuckDB replays the gram keys)."""
    from db2pq_spark.operators.repetition import gopher_repetition

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_repetition(docs, "text", "doc_id", keys="arrow")


def _q151_pq_production(spark, sf_dir: str):
    """Production IVF-PQ: arrow trainers/encoder, 8×16 codebooks,
    8-cell coarse quantizer with 4-probe — the deployed ANN config
    (the gate entry pins the tiny 2×4 exact-decimal configuration its
    CTE-replay oracle can afford)."""
    from pyspark.sql import functions as F  # noqa: F811

    from db2pq_spark.operators.pq import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_topk(emb, emb.where(F.col("vec_id") < 20),
                       k_top=10, m=8, k_codes=16, n_clusters=8,
                       n_probe=4, impl="arrow")


def _q149_hash_keys(spark, sf_dir: str):
    """Production level keys: xxhash64 composition — gram strings
    never built (the gate pins keys='exact' against the independent
    substring-enumeration oracle)."""
    from db2pq_spark.operators.suffixes import longest_dup_span

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return longest_dup_span(docs, "text", "doc_id", keys="hash")


def _q150_hash_keys(spark, sf_dir: str):
    """Production removal config (xxhash64-composed level keys)."""
    from db2pq_spark.operators.suffixes import remove_long_dup_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_long_dup_spans(docs, "text", "doc_id", min_len=8,
                                 keys="hash")


def _q153_logreg_production(spark, sf_dir: str):
    """Production feature config: xxhash64 buckets (no hex-string
    md5 build), 4096-dim hashed space — the fastText-scale feature
    width (the gate pins md5/64 so DuckDB replays buckets)."""
    from pyspark.sql import functions as F  # noqa: F811

    from db2pq_spark.operators.logreg import (
        logreg_score, logreg_train, logreg_weights_df)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = logreg_train(docs, "text", "doc_id",
                     F.col("source") == "src0", n_buckets=4096,
                     epochs=3, keys="xxhash64")
    return logreg_score(docs, logreg_weights_df(spark, w), "text",
                        "doc_id", n_buckets=4096, keys="xxhash64")


def _q154_logreg_inc_production(spark, sf_dir: str):
    """Production increment: xxhash64/4096 features, weights trained
    on the standing corpus, batch scored under the broadcast."""
    from pyspark.sql import functions as F  # noqa: F811

    from db2pq_spark.operators.logreg import (
        logreg_score, logreg_train, logreg_weights_df)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = logreg_train(docs.where(F.col("doc_id") % 7 != 0), "text",
                     "doc_id", F.col("source") == "src0",
                     n_buckets=4096, epochs=3, keys="xxhash64")
    return logreg_score(docs.where(F.col("doc_id") % 7 == 0),
                        logreg_weights_df(spark, w), "text",
                        "doc_id", n_buckets=4096, keys="xxhash64")


def _q156_prune_arrow(spark, sf_dir: str):
    """Production trainer: arrow (BLAS) assignment, k=8 — the gate
    pins the exact-decimal k=4 config its CTE oracle replays."""
    from db2pq_spark.operators.clustering import prototype_prune

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return prototype_prune(emb, "embedding", "vec_id", k=8,
                           iterations=2, drop=(1, 4), impl="arrow")


def _q157_pq_inc_production(spark, sf_dir: str):
    """Production increment config: arrow trainer/encoder, 8×16
    codebooks (the q151 production geometry), standing/batch split."""
    from pyspark.sql import functions as F  # noqa: F811

    from db2pq_spark.operators.pq import (
        pq_adc_topk, pq_encode, pq_train)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    standing = emb.where(F.col("vec_id") % 5 != 0)
    newq = emb.where((F.col("vec_id") % 5 == 0)
                     & (F.col("vec_id") < 100))
    books = pq_train(standing, "embedding", "vec_id", m=8, k=16,
                     iterations=2, dim=64, impl="arrow")
    codes = pq_encode(standing, books, "embedding", "vec_id",
                      impl="arrow")
    return pq_adc_topk(codes, newq, books, k_top=10,
                       vec_col="embedding", id_col="vec_id")


def _q158_cms_production(spark, sf_dir: str):
    """Production sketch geometry: xxhash64 row hashes, d=4, w=65536
    (the gate pins d=3/w=256/md5 so DuckDB replays every cell)."""
    from pyspark.sql import functions as F  # noqa: F811

    from db2pq_spark.operators.cms import (
        cms_build, cms_merge, cms_probe)
    from db2pq_spark.operators.textstats import tokens as _tk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
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
    est = cms_probe(merged, exact, "tok", depth=d, width=w,
                    keys="xxhash64")
    return exact.join(est, "tok")


def _q159_auc_production(spark, sf_dir: str):
    """AUC over the production classifier config (xxhash64/4096)."""
    from pyspark.sql import functions as F  # noqa: F811

    from db2pq_spark.operators.evalmetrics import roc_auc

    scored = _q153_logreg_production(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = scored.join(
        docs.select(F.col("doc_id").alias("id"),
                    (F.col("source") == "src0").alias("_y")), "id")
    return roc_auc(joined, "margin_units", F.col("_y"))


def _q162_calibration_production(spark, sf_dir: str):
    """Calibration over the production classifier config."""
    from pyspark.sql import functions as F  # noqa: F811

    from db2pq_spark.operators.evalmetrics import calibration_buckets

    scored = _q153_logreg_production(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = scored.join(
        docs.select(F.col("doc_id").alias("id"),
                    (F.col("source") == "src0").alias("_y")), "id")
    return calibration_buckets(joined, "prob6", F.col("_y"))


_OVERRIDES = {"q38_lsh_similarity": _q38_ann_default,
              "q36_minhash_dedup": _q36_minhash_default,
              "q110_quantize_embeddings": _q110_quantize_real_shape,
              "q117_kmeans": _q117_kmeans_arrow,
              "q102_duplicate_spans": _q102_spans_xxh,
              "q116_span_removal": _q116_removal_xxh,
              "q165_keep_one_removal": _q165_keep_one_xxh,
              "q119_winnow_overlap": _q119_winnow_production,
              "q118_split_leakage": _q118_leakage_production,
              "q121_kneser_ney": _q121_kn_hash_keys,
              "q107_incremental_dedup": _q107_incremental_production,
              "q123_winnow_incremental": _q123_winnow_inc_production,
              "q125_dsir_sample": _q125_dsir_production,
              "q126_embedding_moments": _q126_moments_arrow,
              "q131_edit_confirm": _q131_confirm_production,
              "q132_char_entropy": _q132_entropy_arrow,
              "q147_gopher_repetition": _q147_hash_keys,
              "q149_longest_dup_span": _q149_hash_keys,
              "q150_longest_span_removal": _q150_hash_keys,
              "q151_pq_adc_topk": _q151_pq_production,
              "q153_logreg_quality": _q153_logreg_production,
              "q154_logreg_score_increment": _q154_logreg_inc_production,
              "q156_prototype_prune": _q156_prune_arrow,
              "q157_pq_increment": _q157_pq_inc_production,
              "q158_cms_heavy_hitters": _q158_cms_production,
              "q159_classifier_auc": _q159_auc_production,
              "q162_calibration": _q162_calibration_production}

#: executed-configuration provenance, recorded verbatim in the JSON so
#: a future timing shift can be attributed to config vs plan changes
_CONFIGS = {
    "q36_minhash_dedup": {
        "signature_impl": "arrow", "bands": "16x4", "max_bucket": 1000,
        "shingle_repr": "hash",
        "note": "production defaults (hashed-long shingles: stringless "
                "build + long-array Jaccard verify, round 8); gate "
                "entry uses 32x2/no-cap/text-shingle exactness config",
    },
    "q38_lsh_similarity": {
        "signature_impl": "arrow", "planes_tables": "8x4",
        "probe_radius": "3 (derived from target_recall=0.9)",
        "note": "production ANN defaults; gate entry probes "
                "exhaustively",
    },
    "q110_quantize_embeddings": {
        "note": "production array shape (qvec+qscale); gate entry "
                "explodes to scalars for driver canon",
    },
    "q117_kmeans": {
        "impl": "arrow",
        "note": "production BLAS assignment (vec carried through the "
                "Arrow batch — zero joins); gate entry runs the "
                "exact-decimal oracle configuration",
    },
    "q102_duplicate_spans": {
        "span_hash": "xxhash64",
        "note": "production long keys; gate entry pins md5 so DuckDB "
                "replays the keys",
    },
    "q116_span_removal": {
        "span_hash": "xxhash64",
        "note": "production long keys + in-row array_except cut; gate "
                "entry pins md5",
    },
    "q165_keep_one_removal": {
        "span_hash": "xxhash64", "keep": "one",
        "note": "production long keys, canonical-occurrence exemplar "
                "spared; gate entry pins md5",
    },
    "q119_winnow_overlap": {
        "k_w_cap": "5/4/1000", "token_hash": "arrow64",
        "note": "production winnowing defaults (arrow64 long "
                "fingerprints); gate entry pins k=4/w=3 uncapped "
                "md5_60 for the exact oracle",
    },
    "q118_split_leakage": {
        "minhash": "production 16x4/cap-1000 arrow",
        "note": "gate entry pins 32x2 uncapped banding for the exact "
                "all-pairs-Jaccard oracle",
    },
    "q121_kneser_ney": {
        "keys": "hash", "broadcast_stats": "true",
        "note": "production xxhash64 long bigram keys + zipf-asserted "
                "stats broadcast; gate entry keys by strings for the "
                "exact DuckDB replay",
    },
    "q107_incremental_dedup": {
        "minhash": "production 16x4/cap-1000 arrow, shingle_repr=hash",
        "note": "gate entry pins 32x2 uncapped text shingles for the "
                "exact oracle",
    },
    "q123_winnow_incremental": {
        "winnow": "production arrow64 k=5/w=4/cap-1000",
        "note": "gate entry pins md5_60 k=4/w=3 uncapped for the "
                "exact fingerprint replay",
    },
    "q125_dsir_sample": {
        "keys": "xxhash64",
        "note": "production 64-bit feature-bucket hash; gate entry "
                "pins md5 buckets for the exact DuckDB replay",
    },
    "q126_embedding_moments": {
        "impl": "arrow",
        "note": "per-batch BLAS XtX partials; gate entry runs the "
                "exact explode-pairs decimal path",
    },
    "q131_edit_confirm": {
        "candidates": "minhash_dedup defaults (16x4, cap 1000)",
        "min_sim_max_len": "0.75/160",
        "note": "production recall stage; gate entry blocks by "
                "(source, length-bucket) so the oracle replays the "
                "pair set exactly",
    },
    "q147_gopher_repetition": {
        "keys": "hash",
        "note": "production xxhash64 gram keys over token-hash "
                "slices (no gram strings); gate entry pins "
                "keys='exact' for the DuckDB replay",
    },
    "q149_longest_dup_span": {
        "keys": "hash",
        "note": "production xxhash64-composed doubling keys; gate "
                "entry pins keys='exact' against the INDEPENDENT "
                "substring-enumeration oracle",
    },
    "q150_longest_span_removal": {
        "keys": "hash", "min_len": 8,
        "note": "production xxhash64-composed doubling keys; gate "
                "entry pins keys='exact'",
    },
    "q151_pq_adc_topk": {
        "index": "ivf-pq", "m_k": "8x16", "coarse": "8 cells/4 probe",
        "impl": "arrow",
        "note": "production IVF-PQ (arrow trainers, BLAS encode); "
                "gate entry pins the 2x4 exact-decimal config its "
                "CTE-replay oracle affords",
    },
    "q132_char_entropy": {
        "impl": "arrow",
        "note": "mapInPandas histogram kernel, bit-identical to the "
                "expression form; gate entry pins the per-char "
                "explode the oracle replays",
    },
}


def _short(name: str) -> str:
    """Compact per-query key for the final JSON line: 'q01_pricing_
    summary' -> 'q01', exports -> 'exp_full'/'exp_proj'/'exp_head'.
    The full-name mapping lives in BENCH_DETAIL.json."""
    if name.startswith("q"):
        return name.split("_", 1)[0]
    return {"export_full_table": "exp_full",
            "export_filtered_projected": "exp_proj",
            "export_obs_1000_fixed_cost": "exp_head"}.get(name, name[:10])


#: query families — each runs in its OWN worker process (fresh JVM),
#: lightest-first within a family, heaviest member last (the same
#: isolation discipline as scripts/scale_smoke.py). Motivation
#: (round 10 evidence): the old single shared 56-query session AGED —
#: stacked cache/checkpoint generations and GC debt inflated late-slot
#: queries (q64 measured 2.24 s in-session vs 1.32 s isolated in the
#: smoke's fresh worker; five >1.25x r9->r10 "regressions" had zero
#: code change and vanished under isolation). Grouping related queries
#: amortizes JVM+warmup cost while keeping every session under ~12
#: timed executions.
_FAMILIES = [
    ("exports", ["export_obs_1000_fixed_cost",
                 "export_filtered_projected", "export_full_table"]),
    ("relational_light", ["q06_forecast_revenue", "q08_running_total",
                          "q19_tumbling_window", "q61_min_cost_supplier"]),
    ("relational_mid", ["q66_hash_split", "q03_top_orders",
                        "q05_region_revenue", "q20_sessionization"]),
    ("relational_heavy", ["q94_range_join", "q01_pricing_summary",
                          "q64_waiting_supplier"]),
    ("retrieval_span", ["q96_bm25", "q103_vocab_encode",
                        "q102_duplicate_spans", "q116_span_removal"]),
    ("doc_filters", ["q133_source_cap", "q134_line_filter",
                     "q132_char_entropy", "q130_gopher_rules"]),
    ("dedup_mix", ["q110_quantize_embeddings", "q30_exact_dedup",
                   "q109_source_mix", "q111_bloom_probe"]),
    ("ann", ["q126_embedding_moments", "q115_quantized_topk",
             "q33_cosine_topk", "q38_lsh_similarity"]),
    ("lm_quality", ["q129_nb_score_increment", "q121_kneser_ney",
                    "q124_nb_quality", "q125_dsir_sample"]),
    ("text_pipeline", ["q113_training_pipeline", "q112_unigram_surprisal",
                       "q31_text_profile", "q95_validation"]),
    ("vocab_lines", ["q135_vocab_coverage", "q136_span_corruption",
                     "q137_repeated_lines", "q139_budget_select"]),
    ("tokenizer_winnow", ["q120_bpe_merges", "q122_bpe_segment",
                          "q119_winnow_overlap",
                          "q123_winnow_incremental"]),
    ("minhash_confirm", ["q118_split_leakage", "q36_minhash_dedup",
                         "q131_edit_confirm"]),
    ("cluster_select", ["q127_cluster_representatives", "q117_kmeans",
                        "q114_semantic_dedup", "q128_mmr_select"]),
    ("lm_deploy", ["q141_kn_score_increment",
                   "q138_repeated_lines_incremental",
                   "q140_ccnet_buckets"]),
    ("incremental_tokenizer", ["q142_semdedup_incremental",
                               "q143_unigram_train",
                               "q145_unigram_segment_increment",
                               "q144_unigram_segment"]),
    ("soft_tokenizer", ["q148_unigram_soft"]),
    ("suffix_dedup", ["q151_pq_adc_topk", "q150_longest_span_removal",
                      "q149_longest_dup_span"]),
    ("keep_one", ["q165_keep_one_removal"]),
    ("stream_drift", ["q167_stream_token_drift"]),
    ("wordpiece", ["q147_gopher_repetition",
                   "q146_wordpiece_segment"]),
    # round-12 additions: the trained classifier pair, graph/prune,
    # and the PQ increment next to its q151 sibling's family
    ("classifier", ["q152_hard_negatives",
                    "q154_logreg_score_increment",
                    "q153_logreg_quality"]),
    ("graph_prune", ["q157_pq_increment", "q156_prototype_prune",
                     "q155_pagerank", "q166_host_rank_weights"]),
    ("sketch_mi", ["q163_zipf_fit", "q158_cms_heavy_hitters",
                   "q160_token_mi", "q164_token_drift",
                   "q161_label_propagation"]),
    ("classifier_eval", ["q162_calibration", "q159_classifier_auc"]),
]

_EXPORT_NAMES = ("export_full_table", "export_filtered_projected",
                 "export_obs_1000_fixed_cost")


def _export_fn(name: str, eng, li):
    """The three reference workload shapes (BASELINE.md)."""
    if name == "export_full_table":
        return lambda: eng.df_to_pq(
            li, "bench", "lineitem_full",
            last_modified="Last modified: 01/01/2026 00:00:00")
    if name == "export_filtered_projected":
        return lambda: eng.df_to_pq(
            li, "bench", "lineitem_filtered",
            keep=["^l_orderkey$", "^l_quantity$", "^l_extendedprice$",
                  "^l_shipdate$", "^l_returnflag$"],
            rename={"l_returnflag": "flag"},
            col_types={"l_quantity": "decimal(12,2)"},
            where="l_quantity > 25")
    return lambda: eng.df_to_pq(li, "bench", "lineitem_head", obs=1000)


def _worker_main() -> None:
    """Measure ONE query family in this fresh process, then exit.

    Per query: one COLD run (pays whole-stage-codegen compilation and
    plan analysis — the session fixed cost a long-lived cluster pays
    once), then min-of-3 STEADY runs (.collect-based, the r02-r12
    headline, kept as the `collect_total` continuity column), then the
    noop-sink column (min-of-2, the scale smoke's instrument) which is
    the HEADLINE as of round 13 — same plans, minus the Py4J
    row-pickling cost that is a local[] artifact, not a cluster cost.

    Env contract (set by the orchestrator): BENCH_WORKER_QUERIES
    (comma list), BENCH_WORKER_SF, BENCH_WORKER_OUT (partial JSON).
    """
    import gc

    from db2pq_spark import workload
    from db2pq_spark.core import Engine
    from db2pq_spark.session import get_spark

    names = os.environ["BENCH_WORKER_QUERIES"].split(",")
    sf_dir = os.environ["BENCH_WORKER_SF"]
    spark = get_spark(app_name="db2pq_spark_bench_worker",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    tmp = tempfile.mkdtemp(prefix="bench_repo_")
    eng = Engine(spark, tmp)

    # warm the JVM + file cache outside every timed region (footer
    # reads and scan codegen are session fixed costs, not per-query
    # throughput), and spawn the reused Python/Arrow worker pool so the
    # first Arrow-kernel query isn't charged the fork/import cost
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()
    from db2pq_spark.functions.arrow import series_pandas_udf

    spark.range(32).select(
        series_pandas_udf(lambda s: s, "long")("id")).count()
    for tbl in ("lineitem", "orders", "customer", "supplier", "part",
                "nation", "region", "documents", "embeddings", "events"):
        try:
            # DATA-PAGE touch, not count(): count() reads only parquet
            # footers, so the first timed query of a family paid the
            # page-in of wide columns — q118's committed r12 reading was
            # ~8x its own noop time purely from the documents.text
            # cold-page + GC variance (VERDICT r12 #1). Hashing every
            # column through one map-side aggregate forces the actual
            # column chunks through the OS page cache, JVM-side, with a
            # 1-row result.
            df_w = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
            df_w.select([F.count(F.col(c)).alias(f"_c{i}") for i, c
                         in enumerate(df_w.columns)]).collect()
        except Exception as exc:  # noqa: BLE001
            print(f"bench: warmup {tbl} FAILED: {exc}", file=sys.stderr)

    def cleanup():
        # between EVERY timed run: operators that stage intermediates
        # (LSH candidates, staged ranks) build new cache/checkpoint
        # blocks per invocation; clearCache drops CacheManager entries
        # and the gc pass lets the ContextCleaner release
        # localCheckpoint blocks deterministically
        spark.catalog.clearCache()
        gc.collect()
        # the Python gc drops the Py4J proxies, but the JVM-side RDDs
        # they pinned are only released when the ContextCleaner's WEAK
        # references clear — i.e. after a JVM GC, which small-heap
        # pressure alone may not trigger for minutes on a 32g driver.
        # Without this, checkpoint blocks from earlier queries in the
        # family accumulate and the LAST query of a checkpoint-heavy
        # family measures the debris, not the plan (r13: q149 in-family
        # noop read 6.6-11.4 s vs 3.6 s in a fresh worker with
        # byte-identical code; the r12 q118 artifact was the same
        # class). One explicit System.gc() per timed run bounds it.
        spark.sparkContext._jvm.System.gc()
        # the ContextCleaner drains its reference queue on its OWN
        # thread — give it a beat (untimed) so block removal does not
        # race the next timed run
        time.sleep(0.3)

    fns = {}
    missing: set[str] = set()
    for name in names:
        if name in _EXPORT_NAMES:
            fns[name] = _export_fn(name, eng, li)
        else:
            # r14: a name absent from the registry degrades to a
            # per-query err instead of killing the whole family worker.
            # Unreachable at HEAD (main() asserts families == tiers and
            # tests pin the registry) — it exists so this HARNESS can
            # be pointed at an older code revision for an
            # instrument-controlled A/B (VERDICT r13 item 1) without
            # one missing query zeroing out its family's measurements.
            qfn = _OVERRIDES.get(name) or workload.REGISTRY.get(name,
                                                                (None,))[0]
            if qfn is None:
                missing.add(name)
                continue
            fns[name] = lambda qfn=qfn: qfn(spark, sf_dir).collect()

    # two passes: COLD for the whole family first (one-time codegen +
    # plan analysis per query), then STEADY min-of-3 — by the steady
    # pass the session carries the same JIT/page-cache warmth a
    # long-lived cluster has, without ever aging past ~16 executions
    # (min-of-2 immediately after a single cold run under-warmed: the
    # first fresh-worker cut measured light queries ~25% above both
    # the aged-session r10 numbers and the smoke's isolated minima)
    out: dict[str, dict] = {
        name: {"load": round(os.getloadavg()[0], 2),
               "worker_pid": os.getpid()} for name in names}
    for name in missing:
        out[name]["err"] = "not in workload registry (older revision?)"
    for name in names:
        rec = out[name]
        if "err" in rec:
            continue
        try:
            t0 = time.perf_counter()
            fns[name]()
            rec["cold"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            # per-query fault isolation: one broken query must not
            # zero out the family — record and keep going
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: {name} FAILED: {rec['err']}", file=sys.stderr)
        finally:
            cleanup()
    for name in names:
        if "err" in out[name]:
            continue
        rec = out[name]
        rec["load"] = round(os.getloadavg()[0], 2)
        runs = []
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                fns[name]()
                runs.append(round(time.perf_counter() - t0, 3))
                cleanup()
        except Exception as exc:  # noqa: BLE001
            rec["err"] = f"steady: {type(exc).__name__}: {exc}"[:500]
            print(f"bench: steady {name} FAILED: {rec['err']}",
                  file=sys.stderr)
            cleanup()
        if runs and "err" not in rec:
            rec["steady_runs"] = runs
            rec["steady"] = min(runs)
        elif runs:
            # a partially-failed steady loop must not feed the headline
            # steady_total AND the error count at the same time — keep
            # the partial timings for diagnosis only
            rec["partial_steady_runs"] = runs
    # bridge column (round 12): the same plans timed through Spark's
    # built-in `noop` sink — the scale smoke's instrument — recorded
    # ALONGSIDE the collect-based steady column so a future round can
    # migrate BENCH off `.collect()` (Py4J row pickling dominates
    # output-heavy queries) without losing round-over-round
    # continuity. Exports already ARE a sink write; they skip it.
    for name in names:
        rec = out[name]
        if "err" in rec or name in _EXPORT_NAMES:
            continue
        qfn = _OVERRIDES.get(name) or workload.REGISTRY[name][0]
        nruns = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                qfn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                nruns.append(round(time.perf_counter() - t0, 3))
                cleanup()
        except Exception as exc:  # noqa: BLE001
            rec["noop_err"] = f"{type(exc).__name__}: {exc}"[:200]
        if nruns and "noop_err" not in rec:
            rec["noop_runs"] = nruns
            rec["noop"] = min(nruns)
    with open(os.environ["BENCH_WORKER_OUT"], "w") as fh:
        json.dump(out, fh)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


def _run_family(names: list[str], sf_dir: str) -> dict[str, dict]:
    """Launch a fresh worker process for one family; return partials.

    A worker crash (not a query error — those are caught in-worker)
    degrades to per-query err records so the bench artifact survives."""
    import subprocess

    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as fh:
        out_path = fh.name
    env = dict(os.environ,
               BENCH_WORKER_QUERIES=",".join(names),
               BENCH_WORKER_SF=sf_dir,
               BENCH_WORKER_OUT=out_path)
    proc = subprocess.run([sys.executable, os.path.abspath(__file__)],
                          env=env, capture_output=True, text=True)
    try:
        with open(out_path) as fh:
            res = json.load(fh)
    except (OSError, json.JSONDecodeError):
        res = {}
    finally:
        try:
            os.unlink(out_path)
        except OSError:
            pass
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-1000:] + proc.stderr[-3000:])
        for name in names:
            res.setdefault(name, {"err": f"worker rc={proc.returncode}"})
    return res


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    load_before = [round(x, 2) for x in os.getloadavg()]

    # the tier tuples stay the benched-set source of truth; families
    # are a partition of them — adding a query to one without the
    # other must fail loudly, not silently drop it from the bench
    tiers = set(_ANALYTICAL) | set(_EXTENSION) | set(_EXPORT_NAMES)
    fam_qs = [q for _, names in _FAMILIES for q in names]
    assert len(fam_qs) == len(set(fam_qs)), "duplicate query in families"
    assert set(fam_qs) == tiers, (
        f"family/tier drift: {set(fam_qs) ^ tiers}")

    results: dict[str, dict] = {}
    for fam, names in _FAMILIES:
        print(f"bench family {fam}: {len(names)} queries",
              file=sys.stderr, flush=True)
        results.update(_run_family(names, sf_dir))

    timings = {n: r["cold"] for n, r in results.items() if "cold" in r}
    steady = {n: r["steady"] for n, r in results.items() if "steady" in r}
    errors = {n: r["err"] for n, r in results.items() if "err" in r}

    total = round(sum(timings.values()), 3)
    load_after = [round(x, 2) for x in os.getloadavg()]
    detail = {
        "cold": timings,
        "cold_total": total,
        "steady_state": steady,
        "steady_total": round(sum(steady.values()), 3),
        "sf": sf,
        # round-11 isolation: fresh worker process per family (the
        # scale-smoke discipline) — per-query loadavg at measurement
        # start, steady run spread, and worker pid recorded below so a
        # contaminated number is self-diagnosing
        "isolation": "fresh worker process per query family",
        "query_load": {n: r["load"] for n, r in results.items()
                       if "load" in r},
        "worker_pid": {n: r["worker_pid"] for n, r in results.items()
                       if "worker_pid" in r},
        "steady_runs": {n: r["steady_runs"] for n, r in results.items()
                        if "steady_runs" in r},
        # noop-sink column (bridge in round 12, HEADLINE since round
        # 13): same plans, smoke's instrument; collect steady_state
        # retained above for r02-r12 continuity
        "steady_noop": {n: r["noop"] for n, r in results.items()
                        if "noop" in r},
        "noop_total": round(sum(r["noop"] for r in results.values()
                                if "noop" in r), 3),
        "families": {fam: names for fam, names in _FAMILIES},
        # which implementation/config each overridden query executed
        "configs": _CONFIGS,
        "load_before": load_before,
        "load_after": load_after,
        "short_names": {_short(k): k for k in steady},
    }
    if errors:
        detail["errors"] = errors
    # Full record first (and mirrored to a repo file): the driver keeps
    # only the LAST 2000 chars of stdout, so this line may be truncated
    # there — the committed file is the durable copy. Reduced-core
    # scaling runs write a CPU-suffixed file so they stop clobbering
    # the committed full-core record (VERDICT r13 item 7). The usable
    # cores are the process's affinity mask (taskset/cgroup cpusets
    # shrink it; os.cpu_count() reports host cores regardless),
    # further capped by SPARK_GRAFT_CPUS when set.
    print(json.dumps(detail))
    host_cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:  # platform without an affinity API
        cores = host_cores
    try:
        cores = min(cores, int(os.environ.get("SPARK_GRAFT_CPUS", cores)))
    except ValueError:
        pass
    detail_name = (f"BENCH_DETAIL_c{cores}.json" if cores < host_cores
                   else "BENCH_DETAIL.json")
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               detail_name), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:  # read-only checkout: detail line still printed
        print(f"bench: BENCH_DETAIL.json not written: {exc}",
              file=sys.stderr)
    # THE parseable record, printed last and kept far under the
    # driver's 2000-char tail window. HEADLINE (round 13, the bridge
    # flip VERDICT r12 asked for): the noop-sink column — same plans,
    # the scale smoke's instrument, free of Py4J row-pickling cost that
    # dominated output-heavy queries under .collect(). Exports are
    # already real sink writes and keep their steady timing. The
    # collect-based steady total rides along as `collect_total`
    # (continuity with BENCH_r02-r12, whose `value` was collect-based).
    noop = detail["steady_noop"]
    headline = {n: noop.get(n, steady.get(n)) for n in
                set(noop) | set(steady)}
    headline = {n: v for n, v in headline.items() if v is not None}
    out = {
        "metric": "bench_noop_total_seconds",
        # harness-generation stamp (VERDICT r13 item 1): any future
        # change to the timed methodology MUST bump this, so a metric
        # flip is self-announcing in the JSON line instead of being
        # inferred from git archaeology. "r13-noop" = the round-13
        # methodology (fresh worker per family, data-page warmup,
        # JVM-GC+settle between timed runs, min-of-2 noop headline,
        # min-of-3 collect continuity column) — UNCHANGED in round 14.
        "bv": "r13-noop",
        "value": round(sum(headline.values()), 2),
        "unit": "sec",
        "queries": {_short(k): round(v, 2)
                    for k, v in headline.items()},
        "sf": sf,
        "cold_total": round(total, 2),
        "load": [load_before[0], load_after[0]],
        "n_err": len(errors),
        "collect_total": round(sum(steady.values()), 2),
        "iso": "worker-per-family",
        "detail": detail_name,
    }
    line = json.dumps(out, separators=(",", ":"))
    if len(line) >= 1500:
        # Degrade, never abort: drop the per-query map (full version
        # lives in BENCH_DETAIL.json), keep the headline metrics.
        slim = {k: v for k, v in out.items() if k != "queries"}
        slim["queries_dropped"] = len(out["queries"])
        line = json.dumps(slim, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    if os.environ.get("BENCH_WORKER_OUT"):
        _worker_main()
    else:
        main()
