"""Repetition / redundancy quality signals and PII scrubbing.

[extension — not in the reference] The reference has no text-quality
operators (it delegates all data-plane computation to source-DB SQL,
see SURVEY.md §2.7); these are LLM-training-pipeline additions in the
style of the Gopher/MassiveText repetition filters: documents whose
token stream is dominated by a few repeated n-grams are low-quality
training data and get filtered before dedup/tokenization.

All pure Catalyst expressions + relational ops — no Python UDFs:

- ``repetition_profile``: per-document redundancy metrics
  (distinct-token ratio, top-bigram concentration).
- ``top_tokens``: corpus-level exact heavy hitters (token frequency
  top-k).
- ``scrub_pii``: regex redaction of emails / phones / IPv4s / digit
  runs with per-row redaction counts.

Scale notes (100 TB mindset):

- ``repetition_profile`` shuffles twice, both keyed by document
  ((doc, bigram) then doc) — volume is linear in corpus tokens, keys
  are near-unique so no skew; the final stats↔top join is doc-keyed
  and AQE picks broadcast vs sort-merge by actual size.
- ``top_tokens`` is explode → partial+final hash aggregate (one
  shuffle keyed by token; map-side combine collapses each partition
  to its vocabulary first) → global top-k via TakeOrderedAndProject
  (per-partition heaps, no full sort).
- ``scrub_pii`` is a narrow stage-local projection: regexes run
  inside whole-stage codegen, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.textstats import tokens

#: Engine-neutral regexes (valid in Java regex and DuckDB/RE2 alike —
#: no lookarounds, no \d shorthand divergence risk: spelled [0-9]).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\-\s]{6,}[0-9]",
    "number": r"[0-9]+",
}


def bigrams(toks: Column) -> Column:
    """Adjacent-token bigram array from a token array (empty for
    fewer than two tokens — Spark's ``sequence(1, 0)`` would count
    *down*, so the short case is guarded explicitly)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1)),
    )
    return F.when(F.size(toks) >= 2, grams) \
            .otherwise(F.array().cast("array<string>"))


def repetition_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition metrics: ``n_tokens``,
    ``distinct_token_ratio`` (vocabulary richness), ``n_bigrams`` and
    ``top_bigram_fraction`` (share of the most frequent adjacent
    bigram — the Gopher-style concentration signal; high ⇒ boilerplate
    or looping text). Ratios rounded to 6 places for cross-engine
    hash parity."""
    base = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    stats = base.select(
        F.col(id_col),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.round(F.size(F.array_distinct("_toks")) / F.size("_toks"), 6)
         .alias("distinct_token_ratio"),
    )
    bg = (
        base.where(F.size("_toks") >= 2)
        .select(F.col(id_col), F.explode(bigrams(F.col("_toks"))).alias("_bg"))
    )
    top = (
        bg.groupBy(id_col, "_bg").agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_top_c"),
             F.sum("_c").alias("_n_bigrams"))
    )
    return (
        stats.join(top, id_col, "left")
        .select(
            F.col(id_col), "n_tokens", "distinct_token_ratio",
            F.coalesce("_n_bigrams", F.lit(0)).cast("bigint")
             .alias("n_bigrams"),
            F.round(
                F.when(F.col("_n_bigrams") > 0,
                       F.col("_top_c") / F.col("_n_bigrams"))
                 .otherwise(F.lit(0.0)), 6)
             .alias("top_bigram_fraction"),
        )
    )


def top_tokens(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Corpus-wide exact heavy hitters: the ``k`` most frequent
    whitespace tokens with counts, ties broken by token text so the
    result is total-ordered and engine-portable."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def scrub_pii(df: DataFrame, col: str,
              kinds: tuple[str, ...] = ("email", "ipv4", "phone"),
              token: str = "[REDACTED]") -> DataFrame:
    """Redact PII-shaped substrings in ``col`` in place and append a
    ``<col>_redactions`` count (matches counted on the *original*
    value per kind, before any replacement, so kinds never double- or
    under-count each other's rewrites). Patterns applied in the given
    order."""
    unknown = set(kinds) - PII_PATTERNS.keys()
    if unknown:
        raise ValueError(
            f"unknown PII kinds {sorted(unknown)}; "
            f"available: {sorted(PII_PATTERNS)}")
    counts = None
    scrubbed = F.col(col)
    for kind in kinds:
        pat = PII_PATTERNS[kind]
        c = F.regexp_count(F.col(col), F.lit(pat))
        counts = c if counts is None else counts + c
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.withColumns({
        col: scrubbed,
        f"{col}_redactions": F.coalesce(counts.cast("bigint"), F.lit(0)),
    })


#: Gopher §A1.1 repetition thresholds (Rae et al. arXiv:2112.11446,
#: Table A1): max fraction of characters in the TOP n-gram (n=2..4)
#: and max fraction of characters covered by DUPLICATED n-grams
#: (n=5..10), expressed in integer percent for exact cross-multiplied
#: decisions.
GOPHER_TOP_NGRAM_MAX_PCT = {2: 20, 3: 18, 4: 16}
GOPHER_DUP_NGRAM_MAX_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def _gopher_arrow(
    df: DataFrame, text_col: str, id_col: str,
    top_max_pct: dict[int, int], dup_max_pct: dict[int, int],
) -> DataFrame:
    """The shuffle-free production path of :func:`gopher_repetition`:
    ONE ``mapInPandas`` kernel computes every per-document statistic —
    the relational path's 9×-token-volume gram explode feeds a corpus-
    wide (id, n, key) aggregate with ``collect_list`` interval
    buffers plus per-(doc, n) windows, which measured **22.7×** at
    the 100× replica (a ~40-byte row per gram through the exchange);
    but every Gopher repetition statistic is a WITHIN-document
    computation, so the kernel does it all in-process per Arrow
    batch: grams group by exact slice CONTENT over the per-token
    hash array (a batch-wide rank-doubling chain, see
    :func:`_gopher_batch` — no second-level gram hash,
    so strictly fewer collisions than xxhash64 gram keys), top
    attribution maximizes (count, char-length) with the value-
    invariant tie discipline, and coverage is a vectorized running-
    max interval union over the (already s-sorted) occurrence list.
    Bit-identical to ``keys="exact"`` wherever the per-token xxhash64
    relabeling is collision-free (the q149 stance; pinned by test).
    Only integers cross the Arrow boundary (token lengths + hashes
    in, 10 int64 columns out)."""
    from pyspark.sql.types import (LongType, StructField, StructType)

    from db2pq_spark.operators.dedup import doc_tokens, token_hashes_sql

    top_ns, dup_ns = sorted(top_max_pct), sorted(dup_max_pct)
    all_ns = sorted(set(top_ns) | set(dup_ns))
    base = (doc_tokens(df, text_col, id_col)
            .selectExpr("id", "transform(_toks, t -> length(t)) AS _lens",
                        f"{token_hashes_sql()} AS _th"))
    cols = (["n_chars"] + [f"top{n}_chars" for n in top_ns]
            + [f"dup{n}_chars" for n in dup_ns])
    schema = StructType([base.schema["id"]]
                        + [StructField(c, LongType()) for c in cols])

    def kern(batches):
        for pdf in batches:
            yield _gopher_batch(pdf, top_max_pct, dup_max_pct)

    return base.mapInPandas(kern, schema=schema)


def _gopher_batch(pdf, top_max_pct: dict[int, int],
                  dup_max_pct: dict[int, int]):
    """One :func:`_gopher_arrow` batch — (id, _lens, _th) pandas in,
    the 10 int64 stat columns out.

    r13: batch-vectorized rank doubling. The old per-doc
    ``np.unique(axis=0)`` grouped each document's gram slices with one
    void-dtype row sort PER (doc, n) — ~9·|batch| calls whose fixed
    cost dominated the kernel. Gram identity is instead built ONCE per
    batch as a rank chain: rank_1 = dense rank of token hashes,
    rank_n = dense rank of (rank_{n-1}[i], rank_1[i+n-1]) — an
    injective integer pairing, so grouping is EXACT content equality,
    identical to the slice-row grouping it replaces (grams never span
    documents: positions are validity-masked per doc before any
    count). Pinned bit-identical to the old kernel by
    ``tests/test_operators.py`` batch-equivalence cases."""
    import numpy as np
    import pandas as pd

    top_ns, dup_ns = sorted(top_max_pct), sorted(dup_max_pct)
    all_ns = sorted(set(top_ns) | set(dup_ns))
    cols = (["n_chars"] + [f"top{n}_chars" for n in top_ns]
            + [f"dup{n}_chars" for n in dup_ns])
    n_max = all_ns[-1]
    nb = len(pdf)
    if nb == 0:
        df0 = pd.DataFrame({"id": pdf["id"]})
        for c in cols:
            df0[c] = pd.Series([], dtype="int64")
        return df0
    lens_l = [np.asarray(v, dtype=np.int64) for v in pdf["_lens"]]
    th_l = [np.asarray(v, dtype=np.int64) for v in pdf["_th"]]
    m_arr = np.array([len(a) for a in th_l], dtype=np.int64)
    th = np.concatenate(th_l)
    lens = np.concatenate(lens_l)
    ntok = th.shape[0]
    doc_of = np.repeat(np.arange(nb, dtype=np.int64), m_arr)
    doc_tok0 = np.concatenate(([0], np.cumsum(m_arr)))
    # char start of each token within its own doc (the old offs[j]);
    # per-doc reset = global cumsum minus doc base
    gstart = np.concatenate(([0], np.cumsum(lens + 1)))[:-1]
    start = gstart - np.repeat(gstart[doc_tok0[:-1]], m_arr)
    pos_in = np.arange(ntok, dtype=np.int64) \
        - np.repeat(doc_tok0[:-1], m_arr)
    doc_len = np.repeat(m_arr, m_arr)
    out = {c: np.zeros(nb, dtype=np.int64) for c in cols}
    out["n_chars"] = np.add.reduceat(lens + 1, doc_tok0[:-1]) - 1
    _, rank = np.unique(th, return_inverse=True)
    rank1 = rank.astype(np.int64)
    ranks = {1: rank1}
    idx = np.arange(ntok, dtype=np.int64)
    for n in range(2, n_max + 1):
        # clipped next-token index: out-of-range positions are
        # validity-masked before use, so a cross-doc (or clipped)
        # composition can never pollute a count — injectivity only
        # matters for WITHIN-doc valid grams
        nxt = np.minimum(idx + (n - 1), ntok - 1)
        key = ranks[n - 1] * np.int64(ntok + 1) + rank1[nxt]
        _, rn = np.unique(key, return_inverse=True)
        ranks[n] = rn.astype(np.int64)
    big = int(out["n_chars"].max()) + 2
    for n in all_ns:
        # an n present in BOTH dicts yields BOTH columns from one
        # grouping pass; docs shorter than n keep 0
        valid = pos_in + n <= doc_len
        if not valid.any():
            continue
        vidx = np.flatnonzero(valid)
        rn = ranks[n][vidx]
        d = doc_of[vidx]
        un = int(rn.max()) + 1
        uq, inv, cnts = np.unique(d * un + rn, return_inverse=True,
                                  return_counts=True)
        s = start[vidx]
        e = start[vidx + n - 1] + lens[vidx + n - 1]
        if n in top_max_pct:
            # per (doc, gram): max count (>= 2), tie -> max char
            # length; chars = cnt * glen (both factors
            # tie-determined, so the pick is value-invariant)
            glen = np.full(len(cnts), np.iinfo(np.int64).max)
            np.minimum.at(glen, inv, e - s)
            cand = cnts >= 2
            if cand.any():
                dg = uq[cand] // un
                cg = cnts[cand].astype(np.int64)
                gg = glen[cand]
                order = np.lexsort((gg, cg, dg))
                dgo = dg[order]
                last = np.flatnonzero(np.r_[dgo[1:] != dgo[:-1], True])
                sel = order[last]
                out[f"top{n}_chars"][dg[sel]] = cg[sel] * gg[sel]
        if n in dup_max_pct:
            dup = cnts[inv] >= 2
            if dup.any():
                dd = d[dup]
                # per-doc running-max interval union in ONE global
                # accumulate: shifting every doc's char interval by
                # doc·big keeps docs from interfering (a previous
                # doc's max E is always below the next doc's base, so
                # the first interval of each doc self-covers, exactly
                # the old per-doc pmax seeding)
                sh = dd * big
                su, eu = s[dup] + sh, e[dup] + sh
                pmax = np.concatenate(
                    ([su[0]], np.maximum.accumulate(eu)[:-1]))
                cov = np.maximum(eu - np.maximum(su, pmax), 0)
                out[f"dup{n}_chars"] += np.bincount(
                    dd, weights=cov, minlength=nb).astype(np.int64)
    res = {"id": pdf["id"].to_numpy()}
    res.update(out)
    return pd.DataFrame(res)


def gopher_repetition(
    df: DataFrame, text_col: str, id_col: str,
    top_max_pct: dict[int, int] | None = None,
    dup_max_pct: dict[int, int] | None = None,
    keys: str = "exact",
) -> DataFrame:
    """The n-gram half of Gopher's repetition-removal battery (Rae et
    al. arXiv:2112.11446 §A1.1 — the companion of
    :func:`..filtering.gopher_rules`, which implements the
    word/symbol/stopword rules): per document,

    - ``top{n}_chars`` (n = 2..4): characters attributed to the MOST
      FREQUENT n-gram — ``count × chars(gram)``, where ``chars`` is
      the gram's length in the single-space-joined normalized token
      stream (intra-gram separator spaces count; count ties prefer
      the LONGEST gram — the conservative flag — so ``chars`` is
      determined by (count, length) alone and any residual tie is
      value-invariant, which is what makes the arrow and exact key
      configurations bit-identical);
    - ``dup{n}_chars`` (n = 5..10): characters COVERED by n-grams
      occurring 2+ times — the union of the occurrences' character
      intervals, so overlapping duplicates never double-count
      (Gopher's "fraction of characters contained in duplicate
      n-grams");
    - ``n_chars``: the stream length — every fraction's denominator;
    - ``pass``: the conjunction of all nine rules, decided by integer
      cross-multiplication (``chars × 100 <= pct × n_chars``) so no
      float ever decides a flag (the q130 discipline).

    All char accounting is exact integers, which is what lets the
    gate oracle replay every column bit-for-bit.

    ``keys``: ``"exact"`` (default, the gate configuration) keys the
    count aggregate by the gram STRING — DuckDB-replayable, ties
    broken by the lexicographically smallest gram. ``"arrow"`` is
    the PRODUCTION configuration — see :func:`_gopher_arrow`: one
    shuffle-free ``mapInPandas`` kernel (the relational gram explode
    measured 22.7× at the 100× replica; the kernel 5.7×), grams
    grouped by exact slice content over the per-token hashes —
    bit-identical to ``"exact"`` wherever the token relabeling is
    collision-free (pinned by test).

    Scale: gram enumeration is IN-ROW (one flatten/transform over the
    token array — 9 gram sizes ≈ 9× token volume, linear; char
    intervals are pure offset arithmetic, no strings); counts are one
    (id, n, key)-keyed map-side-combined aggregate; the coverage
    union is the classic gaps-and-islands window PARTITIONED PER
    (doc, n) — millions of tiny partitions, embarrassingly parallel,
    never a global sort. Documents shorter than ``n`` tokens score 0
    for that ``n`` (vacuously passing, as in Gopher)."""
    top_max_pct = dict(GOPHER_TOP_NGRAM_MAX_PCT if top_max_pct is None
                       else top_max_pct)
    dup_max_pct = dict(GOPHER_DUP_NGRAM_MAX_PCT if dup_max_pct is None
                       else dup_max_pct)
    if keys not in ("exact", "arrow"):
        raise ValueError(f"unknown keys {keys!r} — 'exact' or 'arrow'")
    top_ns, dup_ns = sorted(top_max_pct), sorted(dup_max_pct)
    if keys == "arrow":
        out = _gopher_arrow(df, text_col, id_col, top_max_pct,
                            dup_max_pct)
        checks = [
            F.col(f"top{n}_chars") * 100
            <= F.lit(int(top_max_pct[n])) * F.col("n_chars")
            for n in top_ns
        ] + [
            F.col(f"dup{n}_chars") * 100
            <= F.lit(int(dup_max_pct[n])) * F.col("n_chars")
            for n in dup_ns
        ]
        passed = checks[0]
        for c in checks[1:]:
            passed = passed & c
        return out.select("*", passed.alias("pass"))
    from db2pq_spark.operators.dedup import doc_tokens

    base = doc_tokens(df, text_col, id_col)
    # char offsets in the single-space-joined stream: offs[j] = start
    # of token j (1-based), PLUS one sentinel offs[m+1] = total + 1 —
    # so every gram's char length is offs[j+n] - offs[j] - 1, pure
    # integer arithmetic, never a string build. The prefix scan runs
    # as an Arrow cumsum kernel over the (length+1) array — a Catalyst
    # aggregate+array_append fold copies the accumulator each step,
    # O(m²) element copies per m-token document, which silently breaks
    # the linear-in-corpus-tokens claim on very long documents; only
    # ints cross the Arrow boundary (2m+1 per doc)
    from db2pq_spark.functions.arrow import series_pandas_udf

    def _offs_kernel(lens):
        import numpy as np
        import pandas as pd
        return pd.Series(
            [np.concatenate(([0], np.cumsum(np.asarray(v,
                                                       dtype=np.int64))))
             .astype(np.int32) for v in lens])

    offs = series_pandas_udf(_offs_kernel, "array<int>")(
        F.transform("_toks", lambda t_: F.length(t_) + 1))
    base = base.select(
        "id", "_toks", offs.alias("_offs"),
        F.length(F.concat_ws(" ", "_toks")).alias("n_chars"))
    # every (n, char interval, key) in ONE in-row flatten — the char
    # interval is resolved against the offsets array BEFORE the
    # explode, so the m-element offsets array never rides the m-row
    # gram relation through the shuffle (that would be O(m²) bytes
    # per document)
    all_ns = sorted(set(top_ns) | set(dup_ns))

    def _grams_for(n: int):
        # sequence(1, x) DESCENDS when x < 1 (emitting index 0), so
        # clamp to 1 and blank the whole list for docs shorter than n
        def entry(j):
            s = F.element_at("_offs", j)
            # the j+n index is clamped: for docs shorter than n the
            # whole array is discarded by the when() below, but ANSI
            # element_at still type-checks/evaluates the clamped
            # branch entry eagerly enough to throw on a raw overrun
            e = F.element_at(
                "_offs", F.least(j + n, F.size("_offs"))) - 1
            key = F.concat_ws(" ", F.slice("_toks", j, n))
            return F.struct(F.lit(n).alias("n"), s.alias("s"),
                            e.alias("e"), key.alias("key"))

        arr = F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.size("_toks") - n + 1, F.lit(1))),
            entry)
        return F.when(F.size("_toks") >= n, arr) \
            .otherwise(F.slice(arr, 1, 0))

    gram_arr = F.flatten(F.array(*[_grams_for(n) for n in all_ns]))
    grams = base.select(
        "id", F.explode(gram_arr).alias("g")
    ).select("id", F.col("g.n").alias("n"), F.col("g.s").alias("s"),
             F.col("g.e").alias("e"), F.col("g.key").alias("key"))
    counts = (grams.groupBy("id", "n", "key")
              .agg(F.count("*").alias("cnt"),
                   F.min(F.col("e") - F.col("s")).alias("glen"),
                   F.collect_list(F.struct("s", "e")).alias("ivs")))
    # top n-gram chars (n in top_ns): max by (cnt, tie -> smallest
    # key) via min(struct(-cnt, key)) — one hash aggregate. Only
    # grams occurring 2+ times qualify: a count-1 "top" gram is not
    # repetition, and on short documents its single occurrence alone
    # can exceed the threshold (documented deviation from
    # implementations that skip the count guard; Gopher's corpora are
    # long web pages where the distinction never binds)
    top = (counts.where(F.col("n").isin([int(x) for x in top_ns])
                        & (F.col("cnt") >= 2))
           .groupBy("id", "n")
           .agg(F.min(F.struct((-F.col("cnt")).alias("_negc"),
                               (-F.col("glen")).alias("_negl"),
                               F.col("key").alias("key")))
                .alias("_t"))
           .select("id", "n", F.lit("top").alias("kind"),
                   ((-F.col("_t._negc"))
                    * (-F.col("_t._negl"))).alias("chars")))
    # duplicated-gram coverage (n in dup_ns): explode occurrence
    # intervals, gaps-and-islands union per (id, n)
    from pyspark.sql import Window as W

    dup_iv = (counts.where(F.col("n").isin([int(x) for x in dup_ns])
                           & (F.col("cnt") >= 2))
              .select("id", "n", F.explode("ivs").alias("iv"))
              .select("id", "n", F.col("iv.s").alias("s"),
                      F.col("iv.e").alias("e")))
    w = W.partitionBy("id", "n").orderBy("s", "e") \
        .rowsBetween(W.unboundedPreceding, -1)
    dup = (dup_iv.withColumn("_pmax", F.max("e").over(w))
           .select("id", "n",
                   F.greatest(
                       F.col("e") - F.greatest(
                           F.col("s"), F.coalesce(F.col("_pmax"),
                                                  F.col("s"))),
                       F.lit(0)).alias("_cov"))
           .groupBy("id", "n")
           .agg(F.lit("dup").alias("kind"),
                F.sum("_cov").alias("chars"))
           .select("id", "n", "kind", "chars"))
    per_n = top.unionByName(dup)
    # pivot keyed on (n, kind) — an n in BOTH dicts carries two rows
    # per doc (top attribution AND dup coverage) that must land in
    # their own columns, never be max-merged
    agg_cols = [F.coalesce(
        F.max(F.when((F.col("n") == n) & (F.col("kind") == "top"),
                     F.col("chars"))), F.lit(0))
        .cast("bigint").alias(f"top{n}_chars") for n in top_ns] + \
        [F.coalesce(
            F.max(F.when((F.col("n") == n) & (F.col("kind") == "dup"),
                         F.col("chars"))), F.lit(0))
         .cast("bigint").alias(f"dup{n}_chars") for n in dup_ns]
    stats = per_n.groupBy("id").agg(*agg_cols)
    out = base.select("id", "n_chars").join(stats, "id", "left")
    out = out.select(
        "id", F.col("n_chars").cast("bigint").alias("n_chars"),
        *[F.coalesce(F.col(f"top{n}_chars"), F.lit(0)).cast("bigint")
          .alias(f"top{n}_chars") for n in top_ns],
        *[F.coalesce(F.col(f"dup{n}_chars"), F.lit(0)).cast("bigint")
          .alias(f"dup{n}_chars") for n in dup_ns])
    checks = [
        F.col(f"top{n}_chars") * 100 <= F.lit(int(top_max_pct[n]))
        * F.col("n_chars") for n in top_ns
    ] + [
        F.col(f"dup{n}_chars") * 100 <= F.lit(int(dup_max_pct[n]))
        * F.col("n_chars") for n in dup_ns
    ]
    passed = checks[0]
    for c in checks[1:]:
        passed = passed & c
    return out.select("*", passed.alias("pass"))
