"""The engine's named query workload — the correctness + bench surface.

Every operator capability from SURVEY.md §2 is expressed here as a named
query: a Spark DataFrame program plus (where SQL-expressible) an ANSI-SQL
oracle that DuckDB executes on the same parquet fixtures. The driver
hash-compares both at sf0.01; ``scripts/check_oracle.py`` replicates that
check locally.

Determinism rules (so value hashes match across engines):

- Every computed column is aliased identically in Spark and SQL.
- Sums over ``double`` columns go through a decimal cast
  (``CAST(x AS DECIMAL(18,4))``) so accumulation is exact and
  associative — float sums are order-dependent and Spark/DuckDB
  aggregate in different orders.
- Averages are computed as ``exact_decimal_sum :: double / count`` —
  identical operands → identical IEEE division result in both engines.
- ``LIMIT`` appears only under a total (tie-broken) ORDER BY.
- Timestamps stay timezone-naive end-to-end: the fixtures' parquet
  timestamps load as TIMESTAMP_NTZ in Spark and naive TIMESTAMP in
  DuckDB, so results are independent of either engine's session zone.
"""
from __future__ import annotations

# Shared plumbing (registry, decorator, fixture loader, determinism
# helpers) — re-exported so `workload.t`, `workload.REGISTRY`, ... keep
# working for every existing caller.
from db2pq_spark.workload_base import (  # noqa: F401
    _NORM,
    _TOKENS,
    PRODUCTION,
    REGISTRY,
    QueryFn,
    _dsum_sql,
    dsum,
    production,
    query,
    t,
    timed,
)

# Query definitions, split by family. IMPORT ORDER IS LOAD-BEARING: it
# is the REGISTRY registration order, which fixes the ordering of the
# non-gate remainder of queries() (the gate's first 50 are pinned by
# GATE_PRIORITY below regardless). The star re-exports keep
# `workload.q01_pricing_summary`-style attribute access working
# (__spark_entry__ and tests rely on it).
from db2pq_spark.workload_relational import *  # noqa: F401,F403
from db2pq_spark.workload_text_ann import *  # noqa: F401,F403
from db2pq_spark.workload_tpch_udf import *  # noqa: F401,F403
from db2pq_spark.workload_pipeline import *  # noqa: F401,F403


#: The driver's correctness gate checks the FIRST 50 entries of
#: ``queries()``. Order them explicitly so every SURVEY §2 family AND
#: every LLM-pipeline operator family has ≥1 representative inside the
#: window; redundant TPC-H variants (q58-q64 keep one, q70-q79, scalar
#: batteries beyond one per type) sit past slot 50 and stay verified by
#: pytest + scripts/check_oracle.py.
GATE_PRIORITY: list[str] = [
    # -- core relational families (SURVEY §2.2-§2.7, §2.12) -------------
    "q01_pricing_summary",        # §2.4 hash aggregate
    "q02_export_plan",            # P1/P2/P3/P6 keep/drop/rename/cast
    "q23_count_clamp",            # A1 count + where + limit clamp
    "q40_sql_api",                # S2 Spark-side SQL surface
    "q03_top_orders",             # join + total order + limit
    "q16_anti_join",
    "q05_region_revenue",         # star join (broadcast dims)
    "q11_rollup",
    "q22_pivot",
    "q07_topk_per_group",         # §2.6 window rank
    "q10_set_ops",
    "q14_scalar_functions",       # §2.7 strings
    "q18_safe_boolean",           # T3
    "q24_numeric_modes",          # T4/T6
    "q19_tumbling_window",
    "q20_sessionization",
    "q54_pandas_udf_scalar",      # §2.12 vectorized UDF
    "q57_grouped_pandas",         # applyInPandas
    "q80_udtf_tokens",            # UDTF
    # -- LLM-pipeline extension families --------------------------------
    "q30_exact_dedup",
    "q31_text_profile",
    "q32_ngram_jaccard",
    "q33_cosine_topk",
    "q34_asof_join",
    "q35_multimodal_features",
    "q36_minhash_dedup",
    "q43_fingerprints",
    "q46_ivf_topk",
    "q47_range_join",
    "q68_stateful_stream",
    "q82_dup_clusters",
    "q85_chunking",
    "q86_packing",
    "q95_validation",
    "q96_bm25",
    "q99_repetition_profile",
    "q102_duplicate_spans",
    "q103_vocab_encode",
    "q104_decontamination",
    "q105_label_centroids",
    # -- round-11/12 operator families (gate rotated in round 13 so the
    #    driver's independent check covers the newest code; the displaced
    #    relational variants stay verified by scripts/check_oracle.py) ---
    "q148_unigram_soft",          # soft-EM unigram LM training
    "q149_longest_dup_span",      # suffix-doubling exact-substring dedup
    "q151_pq_adc_topk",           # IVF-PQ ANN (ADC scan)
    "q153_logreg_quality",        # integer logistic-regression classifier
    "q155_pagerank",              # integer PageRank
    "q157_pq_increment",          # train-once / query-increments PQ
    "q158_cms_heavy_hitters",     # count-min sketch
    "q159_classifier_auc",        # exact ROC-AUC
    "q161_label_propagation",     # label propagation over dup clusters
    "q164_token_drift",           # corpus-drift detection
]


def _ordered() -> dict[str, tuple[QueryFn, str | None]]:
    missing = [n for n in GATE_PRIORITY if n not in REGISTRY]
    if missing:  # fail loudly at call time if a rename breaks the gate
        raise KeyError(f"GATE_PRIORITY names not registered: {missing}")
    rest = [n for n in REGISTRY if n not in set(GATE_PRIORITY)]
    return {n: REGISTRY[n] for n in [*GATE_PRIORITY, *rest]}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _ordered().items()}


def oracles() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _ordered().items()
            if sql is not None}
