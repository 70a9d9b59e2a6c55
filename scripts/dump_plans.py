#!/usr/bin/env python
"""Regenerate PLANS.md: executed physical plans for representative
workload queries, annotated with the plan property each one is
demonstrating (the same properties tests/test_plan_hygiene.py asserts).

Usage: python scripts/dump_plans.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: query -> the plan property it demonstrates
SHOWCASE = {
    "q02_export_plan": "projection + filter pushdown into the parquet "
                       "scan (ReadSchema / PushedFilters)",
    "q01_pricing_summary": "whole-stage codegen scan→partial agg→final "
                           "agg; one shuffle",
    "q05_region_revenue": "star join: every dimension broadcast, only "
                          "the fact tables shuffle",
    "q03_top_orders": "TakeOrderedAndProject — global top-10 without a "
                      "global sort",
    "q07_topk_per_group": "WindowGroupLimit pushes the per-group top-k "
                          "below the shuffle",
    "q15_outer_join_having": "aggregate-before-join: the fact side "
                             "pre-aggregates per partkey (the preserved "
                             "outer side can't broadcast), then AQE "
                             "broadcasts the aggregate",
    "q64_waiting_supplier": "EXISTS/NOT EXISTS pair collapsed to "
                            "aggregates (no semi/anti self-joins, no "
                            "ObjectHashAggregate): ONE explicit "
                            "orderkey pre-partition of the 3-column "
                            "fact satisfies every downstream "
                            "aggregate/join distribution — a NOT NULL "
                            "prefilter keeps the three legs "
                            "canonically equal, so AQE stage reuse "
                            "plans a single fact scan and zero "
                            "further exchanges",
    "q71_volume_shipping": "double-aliased dimension (nation ×2) still "
                           "broadcasts; no cartesian",
    "q74_returned_items": "top-20 by exact-decimal revenue via "
                          "TakeOrderedAndProject",
    "q79_supplier_count": "NOT IN → null-aware anti join + two-phase "
                          "distinct aggregation",
    "q83_interval_join": "stream-stream-shaped interval join stays a "
                         "hash join (equi key + residual range)",
    "q84_unpivot": "unpivot is an Expand node — no extra shuffle",
    "q66_hash_split": "deterministic split is a narrow projection — "
                      "no Exchange before the final agg",
    "q91_top_supplier": "uncorrelated scalar MAX subquery over a reused "
                        "aggregate view — one-row subquery, no rejoin",
    "q93_value_concentration": "two aggregation passes over one table; "
                               "the global-sum threshold is a scalar "
                               "subquery broadcast",
    "q86_packing": "per-group cumulative window — single shuffle on "
                   "the group key, no sequential state",
    "q94_range_join": "keyless range join rewritten to an equi hash "
                      "join on time bins + residual predicate — no "
                      "nested-loop/cartesian",
    "q95_validation": "row rules + uniqueness share ONE scan+aggregate; "
                      "the FK check is a broadcast anti-join",
    "q96_bm25": "ONE corpus scan: sentinel-explode partial-agg whose "
                "exchange every consumer (stats, tf, df) reuses — "
                "lambda-free tokenize + a filter barrier keep the "
                "subtrees canonically identical, so the final plan is "
                "one FileScan + one shuffle + ReusedExchange; stats "
                "and df broadcast back",
    "q97_weighted_sample": "weighted sample is a narrow score + "
                           "TakeOrderedAndProject — no full sort",
    "q130_gopher_rules": "one narrow codegen'd projection — every "
                         "ratio rule an integer cross-multiplication, "
                         "no shuffle",
    "q131_edit_confirm": "pair relation bounded by blocking; "
                         "levenshtein is a codegen'd JVM expression "
                         "over a 160-char prefix — pairs x prefix^2, "
                         "never corpus^2",
    "q132_char_entropy": "sequence+substr explode (no lambda in the "
                         "Generate), map-side (id,ch) partial counts "
                         "collapse each doc to its alphabet before "
                         "the shuffle",
    "q133_source_cap": "WindowGroupLimit Partial BEFORE the exchange: "
                       "each map task forwards <=10 rows per source — "
                       "a mega-source cannot flood one reducer",
    "q134_line_filter": "purely narrow per-row transform (split + "
                        "HOF filter + array_join) — no shuffle",
    "q135_vocab_coverage": "counts pinned once (one corpus scan for "
                           "three consumers); rank + prefix sum are "
                           "the two-stage range-partitioned "
                           "construction — no single-partition window",
    "q136_span_corruption": "spans computed IN-ROW on the token array "
                            "(transform/filter/slice per block): one "
                            "corpus scan, zero Exchanges — the only "
                            "Generate is over the ~n/(block*rate)-"
                            "element span array; one md5 per position "
                            "instead of the exploded shape's two",
    "q137_repeated_lines": "document text never shuffles: staged "
                           "per-doc line arrays, bare 8-byte-key "
                           "map-side-combined count, forced-broadcast "
                           "boilerplate set, in-row array filter",
    "q138_repeated_lines_incremental": "persisted line-count state "
                                       "never shuffles — semi-filtered "
                                       "by the broadcast batch key "
                                       "set (the q107/q108/q123 "
                                       "batch-key discipline)",
    "q139_budget_select": "global rank + exclusive prefix sum both "
                          "two-stage range-partitioned — no "
                          "single-partition window on the corpus-"
                          "sized (skinny) relation",
    "q142_semdedup_incremental": "the corpus signature state never "
                                 "shuffles: broadcast distinct batch "
                                 "buckets semi-filter it, the skew "
                                 "count runs on the matched minority, "
                                 "cosine verify is one broadcast join",
    "q143_unigram_train": "training on the distinct-word relation: "
                          "substring explode + broadcast vocab-score "
                          "join + Arrow DP kernel per EM round — "
                          "the vocabulary never visits the driver",
    "q144_unigram_segment": "corpus pays one tokenize + one word-"
                            "keyed join against the distinct-word "
                            "segmentation; doc reassembly is the "
                            "only doc-keyed shuffle",
    "q147_gopher_repetition": "one in-row gram flatten (9 sizes, "
                              "char intervals resolved BEFORE the "
                              "explode), map-side-combined (id,n,"
                              "gram) count, per-(doc,n) island "
                              "windows — no global sort (gate "
                              "config; production keys='arrow' is "
                              "ONE shuffle-free mapInPandas kernel, "
                              "22.7x -> 5.4x at the 100x replica)",
    "q153_logreg_quality": "3 GD epochs: B+1-row weight relation "
                           "broadcast per epoch, design relation "
                           "pre-partitioned on the doc key so every "
                           "epoch is exchange-free except the "
                           "B-bounded gradient aggregate",
    "q155_pagerank": "per step one source-keyed rank-edges join + "
                     "one destination-keyed SUM; dangling mass a "
                     "1-row broadcast; rank states localCheckpoint "
                     "per step — no cartesian anywhere",
    "q156_prototype_prune": "within-cluster ranks via the range-"
                            "partitioned global rank (window keyed "
                            "by _pid, never by the k-small cluster "
                            "id); per-cluster counts k-bounded "
                            "broadcast",
    "q158_cms_heavy_hitters": "sketch build collapses to <= d*w "
                              "cells map-side; probe joins the "
                              "broadcast sketch; merge is a "
                              "bounded-relation re-aggregate",
    "q160_token_mi": "presence via in-row array_distinct BEFORE the "
                     "explode — no corpus-sized distinct shuffle; "
                     "top-k a TakeOrderedAndProject",
    "q98_sliding_window": "sliding windows are one Expand (4 rows per "
                          "event) + the tumbling agg pipeline",
    "q100_heavy_hitters": "corpus heavy hitters: map-side combine "
                          "collapses partitions to their vocabulary, "
                          "then TakeOrderedAndProject — no global sort",
    "q101_pii_scrub": "PII redaction is a zero-shuffle codegen'd regex "
                      "projection",
    "q102_duplicate_spans": "exact-substring dedup: per-doc span-key "
                            "arrays staged once (localCheckpoint); "
                            "n_spans computed in-row from size(_sh), "
                            "key totals explode bare longs through one "
                            "map-side-combined aggregate, only "
                            "duplicated occurrences shuffle — no "
                            "Sort/Window node, no pair "
                            "materialization, never quadratic",
    "q103_vocab_encode": "vocab join broadcasts (AQE-sized); encode "
                         "reassembles docs with one doc-keyed shuffle",
    "q113_training_pipeline": "composed corpus build (dedup → quality "
                              "band → mix): content-hash aggregate + "
                              "semi join, filter folded into the scan, "
                              "broadcast decision join — one plan, "
                              "nothing quadratic or driver-bound",
    "q109_source_mix": "corpus mixing: per-source aggregate + "
                       "broadcast decision join + bounded explode — "
                       "the corpus never shuffles",
    "q111_bloom_probe": "bloom probe: the one-row bitmap broadcasts; "
                        "the probe side is a narrow projection, no "
                        "Exchange on either side of the membership "
                        "check",
    "q112_unigram_surprisal": "LM surprisal: explode → zipf-bounded "
                              "vocabulary aggregate → AQE-broadcast "
                              "probability join → one doc-keyed "
                              "re-aggregate",
    "q36_minhash_dedup": "MinHash-LSH: signatures materialize once "
                         "(persist) through one Arrow-batched kernel "
                         "(ArrowEvalPython — the only Python stage); "
                         "banding, bucket pairs, and exact-Jaccard "
                         "verify are all aggregates/broadcasts on the "
                         "persisted relation — never quadratic",
    "q107_incremental_dedup": "batch-vs-corpus dedup: the corpus never "
                              "shuffles — batch band keys broadcast in, "
                              "candidates broadcast back for the "
                              "exact-Jaccard verify; the only exchanges "
                              "are keys-only (hot-bucket count, "
                              "candidate distinct)",
    "q115_quantized_topk": "search over int8-quantized storage: "
                           "reconstruction fused into the scan (narrow "
                           "transform), then the broadcast-queries + "
                           "window-rank cosine plan",
    "q116_span_removal": "duplicated-span removal: staged per-doc "
                         "(tokens, span-key array) relation feeds "
                         "detection AND the rebuild (one tokenize+hash "
                         "pass total); the cut is IN-ROW (array_except "
                         "on each row's own token array), only "
                         "duplicated START positions shuffle, and "
                         "untouched docs take the WHEN-IS-NULL native "
                         "concat_ws fast path",
    "q117_kmeans": "verifiable k-means: k-row centroid broadcast, "
                   "map-side-combined exact-decimal distance sums, "
                   "per-id argmin; only the k x dim matrix reaches "
                   "the driver",
    "q119_winnow_overlap": "MOSS winnowing: k-gram hashing, window "
                           "minima, and the distinct all in-row; the "
                           "fingerprint self-join is the only wide op "
                           "(hot fingerprints capped in production)",
    "q120_bpe_merges": "BPE merge learning: ONE corpus pass (word "
                       "counts) collapses to the vocab relation; each "
                       "round is in-row rewrites + a tiny pair "
                       "aggregate + a 1-row driver collect",
    "q121_kneser_ney": "Kneser-Ney bigram surprisal: arrays_zip pair "
                       "explode (no lambda in Generate) into the "
                       "zipf-collapsed bigram aggregate; context/"
                       "continuation/type stats are vocabulary-sized "
                       "aggregates; probability relation joins back "
                       "broadcast, one doc-keyed re-aggregate",
    "q122_bpe_segment": "BPE train->apply: bounded trainer (per-round "
                        "1-row collect) then tokens hash-join the "
                        "trained word->symbols vocab (AQE-broadcast) "
                        "— per-word segmentation once per DISTINCT "
                        "word, one doc-keyed aggregate",
    "q123_winnow_incremental": "incremental winnowing: batch "
                               "fingerprint KEYS broadcast as a semi "
                               "filter before the hot-cap count, so "
                               "the corpus never shuffles and only "
                               "the batch-matched relation "
                               "materializes",
    "q124_nb_quality": "NB quality filter: one corpus explode, one "
                       "conditional vocabulary aggregate (both class "
                       "counts in one pass), AQE-broadcast weight "
                       "join, one doc-keyed re-aggregate",
    "q125_dsir_sample": "DSIR: hashed-bigram features into a "
                        "B-bounded aggregate, broadcast log-ratio "
                        "join, TakeOrderedAndProject for the "
                        "Gumbel-top-k (no global sort)",
    "q126_embedding_moments": "embedding moments (gate/exact path): "
                              "explode-pairs with decimal partial "
                              "sums collapsing map-side to d(d+1)/2 "
                              "rows",
    "q127_cluster_representatives": "cluster canonicalization: "
                                    "hash-min component labels, "
                                    "id-keyed quality join, one "
                                    "max_by-style aggregate (no "
                                    "window sort) per cluster",
    "q128_mmr_select": "MMR diversified selection: k rounds of one "
                       "narrow corpus pass each (cosine folds "
                       "against <=k literal vectors) ending in "
                       "TakeOrderedAndProject LIMIT 1 + a 1-row "
                       "collect — the bounded-iteration discipline",
    "q129_nb_score_increment": "train-once/score-increments quality "
                               "filter: vocabulary-sized weight "
                               "relation broadcast into the batch "
                               "explode, OOV constant via 1-row "
                               "cross join — the corpus is never "
                               "touched at scoring time",
}

HEADER = """\
# PLANS — executed physical plans (auto-generated)

Regenerate with `python scripts/dump_plans.py`. Each section names the
scale-relevant plan property the query demonstrates; the same
properties are asserted in `tests/test_plan_hygiene.py`, so regressions
fail CI rather than silently degrading at scale.
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from db2pq_spark import workload
    from db2pq_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")

    out = [HEADER]
    for name, why in SHOWCASE.items():
        df = workload.REGISTRY[name][0](spark, sf_dir)
        df.collect()  # finalize AQE so the executed plan is the real one
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"\n## {name}\n\n*{why}*\n\n```\n{plan.rstrip()}\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
