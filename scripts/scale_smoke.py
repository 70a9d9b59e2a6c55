#!/usr/bin/env python
"""Scale smoke: replicate sf0.1 N× (default 10×, ~6 M-row lineitem) and
check that headline queries scale ~linearly — the local evidence that
the plans hold when data outgrows the fixtures. Writes SCALE_SMOKE.md
(10×) or SCALE_SMOKE_{N}x.md.

Replication shifts the join keys per copy so key cardinality grows with
the data (a pure union of identical copies would degenerate the joins:
N× duplicate keys instead of N× data). CONTENT columns are perturbed
per copy too:

- ``documents.text``: every token gets a per-copy suffix, so replicas
  are NOT near-duplicates of each other. Without this, every document
  has N−1 exact clones and the dedup family's OUTPUT grows
  quadratically in N — an artifact of content-identical replication,
  not an operator property; with it, duplicate structure (and therefore
  output) grows linearly, which is the realistic "corpus grows with new
  content" regime.
- ``embeddings.embedding``: a per-copy deterministic Rademacher sign
  pattern (component-wise ±1) — norm-preserving, decorrelates replicas
  (expected cosine ≈ 0), so ANN/semantic-dedup candidates scale with
  corpus size instead of every vector having N−1 parallel clones.

Dedup/ANN entries run the PRODUCTION operator configurations (16×4
capped MinHash banding, default SimHash chunking, 8×4 multi-probe LSH)
— the registry's gate entries pin exactness configs for their oracles,
which do strictly more work; scale behavior of the deployed defaults is
what this smoke certifies. Each query resolves through
``workload.timed`` (its ``@production`` variant where one is
registered), the same lookup bench.py uses.

Round-10 measurement isolation: queries run in a FRESH WORKER PROCESS
per query family (one JVM each), because a single long session ages —
stacked cache/checkpoint generations, code-cache pressure, GC debt —
and the round-9 artifact shipped 2-4× "regressions" (q94 4.4×→19.5×,
q127 runs 13.0/28.7/17.8 s) on queries with zero code change, measured
late in a 44-query shared session under rising load. Each sidecar entry
now records the 1-min loadavg at measurement start and the worker pid,
so a contaminated number is self-diagnosing instead of crying wolf.
Workers launch through bench.py's ``run_family`` and release staged
blocks between runs with bench.py's ``cleanup`` (JVM GC plus settle).

Usage: python scripts/scale_smoke.py            (~6 min on local[32])
       SMOKE_COPIES=100 python scripts/scale_smoke.py   (~60 M rows)
       SMOKE_ONLY=q94_range_join,q96_bm25 python scripts/scale_smoke.py
           (isolated re-measure of a subset; writes no .md, prints
            per-query results + sidecar-shaped JSON to stdout)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import bench  # noqa: E402  (the shared fresh-worker plumbing)

SF_DIR = "/root/testdata/sf0.1"
COPIES = int(os.environ.get("SMOKE_COPIES", "10"))
#: 3 steady repetitions at every factor: big-factor runs were assumed
#: "long enough to be stable" at 2, but back-to-back 100× script runs
#: shipped q118 17.9s-min-of-3 and then 53.1s-min-of-2 with zero code
#: change — IO-heavy queries on the freshly-written replica warm the
#: page cache over SEVERAL runs (q118's recorded sequence 86→30→18 s),
#: so min-of-2 regularly misses the steady state entirely
RUNS = 3

#: key columns to shift per table so each replica has distinct keys
KEY_SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    # events: new ids AND a 31-day time shift per copy so windowed /
    # range-join work grows linearly (overlapping copies would instead
    # deepen every window 10×, a different regime)
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

#: query families — each runs in its OWN worker process (fresh JVM):
#: grouped by the operator tier they exercise, ≤4 queries per session
#: so no measurement happens in an aged session (a first cut with a
#: 7-query relational family measured q64 at 26 s in slot 6 of its
#: worker vs 12 s isolated — even ~18 prior executions skew a heavy
#: join's numbers on this box). Within each family queries run
#: LIGHTEST FIRST: a heavy member's runs durably degrade the worker
#: (storage-memory generations the cleanup can't fully release), and
#: whatever it leaves behind lands on the NEXT query's numbers — q66
#: measured 19.6× in the slot after q64 (1.35× isolated, runs growing
#: 7.5→14.3 s) and q97 15.2× after q95 (1.6× isolated), so the
#: heaviest query is always the last thing its worker measures.
FAMILIES = [
    ("relational_agg", ["q06_forecast_revenue", "q03_top_orders",
                        "q01_pricing_summary", "q05_region_revenue"]),
    ("relational_join", ["q66_hash_split", "q08_running_total",
                         "q64_waiting_supplier"]),
    ("window_sample", ["q97_weighted_sample", "q94_range_join",
                       "q98_sliding_window", "q95_validation"]),
    ("retrieval_span", ["q96_bm25", "q103_vocab_encode",
                        "q102_duplicate_spans", "q116_span_removal"]),
    # round-13: keep-one canonical-occurrence removal — q116's plan
    # plus one argmin-by-struct exemplar fold in the same key
    # aggregate and an in-row filter
    ("keep_one", ["q165_keep_one_removal"]),
    # round-13: streamed drift monitor — q164 + exactly-once fold;
    # one availableNow trigger over the (filtered) documents stream,
    # standing counts seeded then folded through refresh_rollup
    ("stream_drift", ["q167_stream_token_drift"]),
    # dedup / ANN families at production configs (workload.timed)
    ("minhash", ["q118_split_leakage", "q36_minhash_dedup",
                 "q37_simhash_dedup", "q107_incremental_dedup"]),
    ("winnow_bpe", ["q120_bpe_merges", "q123_winnow_incremental",
                    "q119_winnow_overlap", "q122_bpe_segment"]),
    ("ann", ["q117_kmeans", "q115_quantized_topk",
             "q38_lsh_similarity", "q114_semantic_dedup"]),
    ("embed_select", ["q126_embedding_moments",
                      "q127_cluster_representatives",
                      "q128_mmr_select"]),
    ("lm_quality", ["q129_nb_score_increment", "q125_dsir_sample",
                    "q124_nb_quality", "q121_kneser_ney"]),
    ("lm_deploy", ["q141_kn_score_increment", "q140_ccnet_buckets"]),
    ("filtering", ["q133_source_cap", "q130_gopher_rules",
                   "q134_line_filter", "q132_char_entropy"]),
    ("span_confirm", ["q135_vocab_coverage", "q136_span_corruption",
                      "q131_edit_confirm"]),
    # line_dedup runs the registry entries' gate config (text-string
    # line keys) — a CONSERVATIVE upper bound: the production default
    # (line_key='xxhash64') pushes 8-byte longs through the same count
    # shuffle instead of full normalized lines, so it can only be
    # lighter than what this smoke certifies.
    ("line_dedup", ["q138_repeated_lines_incremental",
                    "q137_repeated_lines"]),
    ("curation", ["q139_budget_select"]),
    # round-11 additions: incremental semantic dedup (bounded batch
    # probing the growing state — the realistic increment regime) and
    # the unigram-LM tokenizer pair (distinct-word training; word
    # cardinality grows ~linearly under the per-copy token suffixes,
    # the adversarial vocabulary-growth regime, same as q121)
    ("inc_tokenizer", ["q142_semdedup_incremental",
                       "q143_unigram_train",
                       "q145_unigram_segment_increment",
                       "q144_unigram_segment"]),
    ("wordpiece", ["q147_gopher_repetition",
                   "q146_wordpiece_segment"]),
    # round-12: soft-EM unigram training (forward-backward lattice +
    # likelihood-loss prune) — same distinct-word scale shape as
    # q143, roughly 2× the per-word kernel work (alpha AND beta)
    ("soft_tokenizer", ["q148_unigram_soft"]),
    # round-12: suffix-doubling exact-substring dedup — production
    # hash keys (the gate's exact string composition is an
    # oracle-replay surcharge); duplicate structure grows linearly
    # under the per-copy token suffixes, so survivor sets and the
    # extension buckets grow with real content, not replication
    ("suffix_dedup", ["q149_longest_dup_span",
                      "q150_longest_span_removal"]),
    # round-12: production IVF-PQ (arrow trainers, 8x16 codebooks,
    # 4-probe) — embedding cardinality grows with the replicas; the
    # train-once/query-increments deployment rides the same family
    ("ivf_pq", ["q151_pq_adc_topk", "q157_pq_increment"]),
    # round-12: trained classifier pair (4096-dim xxhash features,
    # 3 GD epochs) + hard negatives — corpus-linear margin/gradient
    # passes, B-bounded weight relations
    ("classifier", ["q152_hard_negatives",
                    "q154_logreg_score_increment",
                    "q153_logreg_quality"]),
    # round-12: graph centrality (edge relation grows with orders x
    # lineitem pairs) + D4 prototype pruning (arrow trainer)
    ("graph_prune", ["q156_prototype_prune", "q155_pagerank",
                     "q166_host_rank_weights"]),
    # round-12: fixed-size mergeable sketch state (d*w cells, corpus
    # explode x d), MI feature ranking (zipf-bounded aggregate), and
    # dup-cluster label repair (hash-min components)
    ("sketch_mi", ["q163_zipf_fit", "q158_cms_heavy_hitters",
                   "q160_token_mi", "q164_token_drift",
                   "q161_label_propagation"]),
    # round-12: classifier eval over the production logreg config
    ("classifier_eval", ["q162_calibration", "q159_classifier_auc"]),
]
QUERIES = [q for _, qs in FAMILIES for q in qs]

#: 31 days in nanoseconds (when events.ts is epoch-nanos int64)
_MONTH_NS = 31 * 24 * 3600 * 1_000_000_000


def replicate(spark, table: str, out_dir: str, offset: int) -> None:
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    ts_is_long = (table == "events"
                  and dict(df.dtypes)["ts"] in ("bigint", "long"))
    parts = []
    for i in range(COPIES):
        c = df
        for key in KEY_SHIFTS.get(table, []):
            c = c.withColumn(key, F.col(key) + F.lit(i * offset))
        if table == "events":
            # shift by 31 days per copy, in whichever unit ts carries
            c = (c.withColumn("ts", F.col("ts") + F.lit(i * _MONTH_NS))
                 if ts_is_long else
                 c.withColumn("ts", F.col("ts")
                              + F.expr(f"INTERVAL '{i * 31}' DAY")))
        if table == "documents" and i > 0:
            # per-copy token suffix: replicas stop being near-dups of
            # each other (see module docstring)
            c = c.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1_c{i}"))
        if table == "embeddings" and i > 0:
            # per-copy Rademacher sign pattern: norm-preserving,
            # decorrelates replicas (expected cross-copy cosine ≈ 0)
            idx = F.sequence(F.lit(0), F.size("embedding") - 1)
            c = c.withColumn(
                "embedding",
                F.zip_with(
                    "embedding", idx,
                    lambda x, d: F.when(
                        F.xxhash64(d, F.lit(i))
                         .bitwiseAND(F.lit(1)) == 1, x).otherwise(-x)))
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")


def build_replica(spark, out_dir: str) -> None:
    """Write the COPIES× replica of every fixture table under
    ``out_dir``. A table whose ``_SUCCESS`` marker is already there is
    kept, so a prebuilt replica is reused (scripts/build_replica.py)."""
    # events carries ns timestamps (read as epoch-nanos longs, as in
    # workload.t)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    for tbl in ("lineitem", "orders", "customer", "supplier", "part",
                "nation", "region", "documents", "embeddings", "events"):
        if os.path.exists(f"{out_dir}/{tbl}.parquet/_SUCCESS"):
            continue
        if tbl in KEY_SHIFTS:
            replicate(spark, tbl, out_dir, 100_000_000)
        else:
            # dimensions/fixtures stay as-is (broadcast sides)
            spark.read.parquet(f"{SF_DIR}/{tbl}.parquet") \
                .write.mode("overwrite").parquet(f"{out_dir}/{tbl}.parquet")
        print(f"  {tbl} done at {time.perf_counter() - t0:.0f}s",
              flush=True)


def _worker_main() -> None:
    """Measure ONE query family at ONE scale in this fresh process,
    then exit — the session never ages past ~7 queries × 4 runs.
    Env contract (set by the orchestrator): SMOKE_WORKER_QUERIES
    (comma list), SMOKE_WORKER_SF (fixture dir), SMOKE_WORKER_OUT
    (partial-JSON path)."""
    import json

    from db2pq_spark import workload
    from db2pq_spark.session import get_spark

    names = os.environ["SMOKE_WORKER_QUERIES"].split(",")
    sf_dir = os.environ["SMOKE_WORKER_SF"]
    spark = get_spark(app_name="scale_smoke_worker",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    # events carries ns timestamps (read as epoch-nanos longs, as in
    # workload.t)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, dict] = {}

    # min of N steady runs: single-shot steady timings on this box
    # swing several-× run-to-run (GC pauses, page-cache misses on a
    # freshly-written replica), which fabricates phantom super-linear
    # ratios; the minimum is the standard noise-robust estimator for a
    # fixed workload. ALL runs land in the sidecar so the spread stays
    # visible, and at big copy factors measurement EXTENDS (cap 6)
    # while the runs are still descending or the recent spread exceeds
    # 1.5× — a minimum that sits on the last run means warm-up never
    # converged, and min-of-2 under heap pressure twice shipped
    # numbers that didn't reproduce.
    # execute via the built-in "noop" sink, NOT .collect(): noop runs
    # the identical physical plan (every output column materialized —
    # the sink consumes full rows) without the Py4J row conversion,
    # which is NOT an engine property and at big copy factors DOMINATES
    # any query whose OUTPUT also scales with the data (measured on
    # q136 at the 100× replica: 2.2 s noop vs 11–12 s collect — the
    # 9 s delta is pure Python-gateway pickling of 2.2 M result rows,
    # identical work per row at every scale, so it fabricates a
    # phantom super-linear RATIO for exactly the queries that return
    # per-document results). A real pipeline writes results to a sink
    # distributed; it never funnels them through the driver gateway.
    def run_once(fn):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    for name in names:
        fn = workload.timed(name)
        load = round(os.getloadavg()[0], 2)
        run_once(fn)                         # warm (codegen)
        bench.cleanup(spark)
        times = []
        for _ in range(RUNS):
            times.append(run_once(fn))
            bench.cleanup(spark)
        # extend while still DESCENDING: a min that sits on the last
        # run means the page-cache warm-up never converged (q136
        # recorded 33.0 -> 27.5 -> 22.1 and stopped — the 17.2× "weak"
        # row was an unconverged minimum, not a plan property). Also
        # extend on >1.5× residual spread. Cap at 6 total runs.
        while (COPIES >= 100 and len(times) < 6
               and (times[-1] == min(times)
                    or max(times[-3:]) > 1.5 * min(times[-3:]))):
            times.append(run_once(fn))
            bench.cleanup(spark)
        out[name] = {"runs": times, "load": load,
                     "worker_pid": os.getpid()}
    with open(os.environ["SMOKE_WORKER_OUT"], "w") as fh:
        json.dump(out, fh)
    spark.stop()


def _run_family(names: list[str], sf_dir: str) -> dict[str, dict]:
    """Measure one (family, scale) in a fresh worker; a crashed worker
    fails the smoke."""
    res = bench.run_family(__file__, "SMOKE_WORKER", names, sf_dir)
    failed = {n: r["err"] for n, r in res.items() if "err" in r}
    if failed:
        raise RuntimeError(f"smoke worker for {names} failed: {failed}")
    return res


def main() -> None:
    import json

    from db2pq_spark.session import get_spark

    only = [q for q in os.environ.get("SMOKE_ONLY", "").split(",") if q]
    families = [(fam, [q for q in qs if not only or q in only])
                for fam, qs in FAMILIES]
    families = [(fam, qs) for fam, qs in families if qs]
    queries = [q for _, qs in families for q in qs]

    # -- replica build (own session, stopped before any measurement) --
    spark = get_spark(app_name="scale_smoke_build",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    # SMOKE_REPLICA_DIR: reuse a replica prebuilt by
    # scripts/build_replica.py (same build_replica() code) — skips the
    # ~10 min build and keeps it for later perf iteration
    prebuilt = os.environ.get("SMOKE_REPLICA_DIR")
    big = prebuilt or tempfile.mkdtemp(prefix="sf1_replica_")

    t0 = time.perf_counter()
    build_replica(spark, big)
    build_s = time.perf_counter() - t0
    rows_small = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    rows_big = spark.read.parquet(f"{big}/lineitem.parquet").count()
    spark.stop()  # workers get clean JVMs; no concurrent sessions

    # -- measurement: one fresh worker process per (family, scale) ----
    small: dict[str, dict] = {}
    large: dict[str, dict] = {}
    for fam, names in families:
        print(f"family {fam}: {len(names)} queries", flush=True)
        small.update(_run_family(names, SF_DIR))
        large.update(_run_family(names, big))

    sidecar = {}
    for name in queries:
        ms, mb = min(small[name]["runs"]), min(large[name]["runs"])
        r = mb / ms if ms > 0 else float("inf")
        fam = next(f for f, qs in families if name in qs)
        sidecar[name] = {"runs_small": small[name]["runs"],
                         "runs_big": large[name]["runs"],
                         "min_small": ms, "min_big": mb,
                         "ratio": round(r, 2),
                         "family": fam,
                         "load_small": small[name]["load"],
                         "load_big": large[name]["load"],
                         "worker_pid_small": small[name]["worker_pid"],
                         "worker_pid_big": large[name]["worker_pid"]}

    if only:
        # isolated re-measure mode: no artifacts by default, just the
        # sidecar-shaped record on stdout. SMOKE_MERGE=1 additionally
        # merges the measured rows into the existing committed
        # .json/.md pair (each sidecar row carries its own runs/load/
        # pid, so a per-row refresh stays self-describing) — the way
        # a NEW query joins the artifacts without re-measuring the
        # other ~50 (a full regen is ~1.5 h at 100×).
        print(json.dumps({"copies": COPIES, "isolated": True,
                          "queries": sidecar}, indent=1))
        if os.environ.get("SMOKE_MERGE") == "1":
            out_md = ("/root/repo/SCALE_SMOKE.md" if COPIES == 10
                      else f"/root/repo/SCALE_SMOKE_{COPIES}x.md")
            out_js = out_md.replace(".md", ".json")
            with open(out_js) as fh:
                full = json.load(fh)
            full["queries"].update(sidecar)
            with open(out_js, "w") as fh:
                json.dump(full, fh, indent=1)
            # regenerate the .md table from the merged sidecar so the
            # two stay consistent (ordering: FAMILIES order)
            with open(out_md) as fh:
                md = fh.read()
            head, table = md.split("| query |", 1)
            rows = ["| query | sf0.1 s | " f"{COPIES}× s | ratio |",
                    "|---|---|---|---|"]
            for name in [q for _, qs in FAMILIES for q in qs]:
                s = full["queries"].get(name)
                if s:
                    rows.append(
                        f"| {name} | {s['min_small']} | {s['min_big']} "
                        f"| {s['ratio']:.1f}× |")
            tail = table.split("\n\n", 1)
            trailer = ("\n\n" + tail[1]) if len(tail) > 1 else "\n"
            with open(out_md, "w") as fh:
                fh.write(head + "\n".join(rows) + trailer)
            print(f"merged {len(sidecar)} rows into {out_md} + .json")
        if not prebuilt:
            import shutil
            shutil.rmtree(big, ignore_errors=True)
        return

    out_md = ("/root/repo/SCALE_SMOKE.md" if COPIES == 10
              else f"/root/repo/SCALE_SMOKE_{COPIES}x.md")
    lines = [
        f"# SCALE_SMOKE — {COPIES}× replica run (auto-generated)\n",
        f"\nlineitem rows: {rows_small:,} (sf0.1) → {rows_big:,} "
        f"({COPIES}× replica; join keys shifted, document text and "
        f"embeddings perturbed per copy so duplicate/near-dup structure "
        f"grows linearly); replica build {build_s:.0f}s. Steady-state "
        f"timings (codegen warmed, min of ≥{RUNS} — every run recorded "
        f"in the .json sidecar next to this file), local[32]. Each "
        f"query family measured in a FRESH worker process per scale "
        f"(no session aging; per-query 1-min loadavg + worker pid in "
        f"the sidecar). Execution sink: Spark's built-in `noop` writer "
        f"— the identical physical plan with every output column "
        f"materialized, minus the Py4J driver row conversion (round "
        f"10 change: `.collect()` paid ~9 s of pure Python-gateway "
        f"pickling on 2.2 M-row outputs at 100×, fabricating "
        f"super-linear ratios for exactly the queries whose output "
        f"scales with the corpus; a real pipeline writes to a "
        f"distributed sink). Dedup/ANN rows run production operator "
        f"configs (see script docstring).\n",
        f"\n| query | sf0.1 s | {COPIES}× s | ratio |\n|---|---|---|---|\n",
    ]
    for name in queries:
        s = sidecar[name]
        lines.append(f"| {name} | {s['min_small']} | {s['min_big']} "
                     f"| {s['ratio']:.1f}× |\n")
    lines.append(
        f"\nA ratio ≲ {COPIES}× means the plan scales at-or-better than "
        "linearly in rows (broadcast dims unchanged, partial aggs "
        "absorb the fan-in); super-linear ratios would flag a shuffle "
        "or skew problem to fix. Per-run times (spread, not just the "
        "min), per-query loadavg and worker pids are in the committed "
        "sidecar JSON.\n")
    with open(out_md, "w") as fh:
        fh.writelines(lines)
    with open(out_md.replace(".md", ".json"), "w") as fh:
        json.dump({"copies": COPIES, "lineitem_rows": rows_big,
                   "isolation": "fresh worker process per family+scale",
                   "queries": sidecar}, fh, indent=1)
    print(f"wrote {out_md} (+ .json sidecar, lineitem {rows_big:,} rows)")
    for name in queries:
        print(f"  {name}: {sidecar[name]['min_small']}s -> "
              f"{sidecar[name]['min_big']}s")
    if not prebuilt:
        import shutil
        shutil.rmtree(big, ignore_errors=True)


if __name__ == "__main__":
    if os.environ.get("SMOKE_WORKER_OUT"):
        _worker_main()
    else:
        main()
