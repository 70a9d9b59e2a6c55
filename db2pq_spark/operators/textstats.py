"""Text analysis operators for document pipelines.

[extension — not in the reference] All pure Catalyst expressions
(codegen'd, no UDFs): token counting (whitespace + BPE-ish subword
estimate), quality scoring (length / punctuation / stopword ratios),
n-gram-heuristic language ID, and document fingerprinting.

Every function is a Column factory or a DataFrame transform usable in
any plan; the workload exposes them with exact DuckDB-SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.dedup import normalize_text, tokens_sql

# Tiny per-language stopword inventories for the n-gram/stopword
# language heuristic. Deliberately small and ASCII-comparable so the
# oracle SQL replays the identical decision function.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "de", "que", "es", "un", "para"),
}


def tokens(col: str) -> Column:
    return F.expr(tokens_sql(col))


def token_count(col: str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation characters / total characters (0 for empty)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    punct = total - F.length(F.regexp_replace(c, r"[\.,;:!\?]", ""))
    return F.when(total > 0, punct / total).otherwise(F.lit(0.0))


def stopword_count_sql(col: str, lang: str = "en") -> str:
    """SQL text of the number of ``lang`` stopword tokens in ``col``."""
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter({tokens_sql(col)}, x -> x IN ({words})))"


def stopword_count(col: str, lang: str = "en") -> Column:
    return F.expr(stopword_count_sql(col, lang))


def stopword_ratio(col: str, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_count(col, lang) / n).otherwise(F.lit(0.0))


def mean_token_len(col: str) -> Column:
    """Mean token length — exact rational (total chars of tokens /
    token count) so engines agree bit-for-bit."""
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0).cast("bigint"),
                        lambda acc, x: acc + F.length(x))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: str) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    rewards stopword presence and moderate length, penalizes
    punctuation/digit noise. Deterministic double arithmetic."""
    length_ok = F.length(F.col(col)).between(100, 10_000).cast("double")
    return F.round(
        0.4 * stopword_ratio(col) * 5.0  # typical en ratio ~0.2 → saturate
        + 0.3 * length_ok
        + 0.3 * (1.0 - F.least(punct_ratio(col) * 10.0, F.lit(1.0))),
        6,
    )


def rolling_fingerprint(col: Column | str, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over code points: ``h = (h*31 + cp) % m``.

    Sequential fold (F.aggregate) → deterministic and replayable in any
    engine with an ordered list-reduce; stays in int64 under ANSI
    arithmetic (acc < m ≈ 2^30, acc*31+cp < 2^36). Empty text → 0."""
    c = F.col(col) if isinstance(col, str) else col
    folded = F.aggregate(
        F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, cp: (acc * 31 + cp) % mod,
    )
    return F.when(F.length(c) > 0, folded).otherwise(F.lit(0).cast("long"))


def wordpiece_count(col: Column | str) -> Column:
    """BPE-ish token count: one token per word or per non-space symbol
    (``\\w+|[^\\w\\s]``) — the regex twin of the chars/4 estimate; both
    Java regex and RE2 agree on these ASCII classes (CJK chars land in
    the symbol branch, one token each)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"\w+|[^\w\s]")).cast("bigint")


def fingerprint(col: str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (Engine code paths that don't need cross-engine parity can use
    ``xxhash64`` for speed; md5 keeps the oracle exact.)"""
    return F.md5(F.encode(normalize_text(col), "UTF-8"))


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per document with the full feature battery.

    Two-stage projection: tokenization (regex + split) materializes once
    per row in the first stage; every feature in the second stage
    references the token-array **attribute**. The single-stage form
    re-evaluates the tokenizer per feature column (and, inside
    higher-order lambdas, per element — they run interpreted, no
    common-subexpression elimination)."""
    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_raw"),
        tokens(text_col).alias("_toks"),
    )
    toks = F.col("_toks")
    raw = F.col("_raw")
    n_tok = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0).cast("bigint"),
                            lambda acc, x: acc + F.length(x))
    sw = {
        lang: F.size(F.filter(toks, lambda x: x.isin(*words)))
        for lang, words in STOPWORDS.items()
    }
    best = F.greatest(*sw.values())
    total_chars = F.length(raw)
    punct = total_chars - F.length(F.regexp_replace(raw, r"[\.,;:!\?]", ""))
    punct_r = F.when(total_chars > 0, punct / total_chars).otherwise(F.lit(0.0))
    sw_ratio = F.when(n_tok > 0, sw["en"] / n_tok).otherwise(F.lit(0.0))
    length_ok = total_chars.between(100, 10_000).cast("double")
    return staged.select(
        F.col(id_col),
        n_tok.cast("bigint").alias("n_tokens"),
        F.ceil(total_chars / F.lit(4)).cast("bigint").alias("n_subwords"),
        F.when(n_tok > 0, total_len / n_tok).otherwise(F.lit(0.0))
         .alias("mean_token_len"),
        punct_r.alias("punct_ratio"),
        sw_ratio.alias("stopword_ratio_en"),
        F.round(0.4 * sw_ratio * 5.0 + 0.3 * length_ok
                + 0.3 * (1.0 - F.least(punct_r * 10.0, F.lit(1.0))), 6)
         .alias("quality"),
        (F.when(raw.isNull(), F.lit("und"))
          .when(raw.rlike(r"[一-鿿]"), F.lit("zh"))
          .when(best.isNull() | (best == 0), F.lit("und"))
          .when(sw["en"] == best, F.lit("en"))
          .when(sw["de"] == best, F.lit("de"))
          .when(sw["fr"] == best, F.lit("fr"))
          .otherwise(F.lit("es"))).alias("lang_pred"),
        F.md5(F.encode(F.concat_ws(" ", toks), "UTF-8")).alias("fingerprint"),
    )


def unigram_surprisal(
    df: DataFrame, text_col: str, id_col: str,
    reference: DataFrame | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """CCNet-style language-model quality signal, relationally: per
    document, the mean unigram surprisal ``-log2 p(token)`` under the
    corpus's own (or a ``reference`` corpus's) unigram distribution —
    low = repetitive/boilerplate-like, high = rare-token-heavy/noisy;
    the standard band filter keeps the middle.

    Returns ``(id, n_tokens, sum_surprisal, mean_surprisal)`` —
    ``sum_surprisal`` is the exact DECIMAL accumulation (the
    engine-portable value the oracle hash-compares; a rounded double
    mean sits on rounding boundaries an ulp apart across engines),
    ``mean_surprisal`` the double convenience for band filters.

    Plan shape (the vocab pattern from :mod:`.vocab` / BM25): one
    explode → map-side-combined token-count aggregate (collapses to
    the zipf-bounded vocabulary), a scalar total via one more tiny
    aggregate, then the exploded tokens hash-join the (AQE-broadcast)
    probability relation and re-aggregate per document. The corpus
    pays one explode and one doc-keyed shuffle; nothing is ever
    quadratic and the vocabulary never visits the driver.

    Exactness discipline: per-token surprisal is rounded to
    ``round_digits`` and accumulated as DECIMAL (the q105 pattern), so
    the per-document sum is order-independent and engines agree
    bit-for-bit wherever their ``log2`` doubles agree.

    Smoothing: when scoring against a separate ``reference``, unseen
    tokens get add-one probability ``1/(N+1)`` (self-scoring has no
    OOV)."""
    toked = df.select(F.col(id_col).alias("id"),
                      tokens(text_col).alias("_toks"))
    exploded = toked.select("id", F.explode("_toks").alias("tok"))
    ref = reference if reference is not None else df
    rtoks = (ref.select(F.explode(tokens(text_col)).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("c")))
    totals = rtoks.agg(F.sum("c").alias("n_ref"))
    probs = rtoks.crossJoin(F.broadcast(totals))
    surprise = F.round(
        -F.log2(F.col("c") / F.col("n_ref")), round_digits
    ).cast("decimal(28,10)")
    probs = probs.select("tok", surprise.alias("s"), "n_ref")
    # probs is the token VOCABULARY (zipf-bounded) — broadcast it
    # explicitly: the probe side is an explode whose size estimate
    # stays at the pre-explode scan bytes, so the static planner can
    # otherwise pick the occurrence side as the broadcast build
    joined = (exploded.join(F.broadcast(probs), "tok", "left")
              .join(F.broadcast(totals.select(
                  F.col("n_ref").alias("_nr"))), how="cross")
              .select("id", F.coalesce(
                  F.col("s"),
                  F.round(F.log2(F.col("_nr") + 1), round_digits)
                   .cast("decimal(28,10)")).alias("s")))
    return (joined.groupBy("id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("s").alias("_sum"))
            .select(F.col("id"), F.col("n_tokens").cast("bigint")
                    .alias("n_tokens"),
                    F.col("_sum").cast("decimal(38,10)")
                     .alias("sum_surprisal"),
                    # double mean for humans/filters; NOT the value the
                    # oracle compares (round-on-double differs by an
                    # ulp across engines at exact .5 expansions)
                    (F.col("_sum").cast("double") / F.col("n_tokens"))
                     .alias("mean_surprisal")))


def kneser_ney_bigrams(
    df: DataFrame, text_col: str, id_col: str,
    discount: float = 0.75, round_digits: int = 6,
    keys: str = "exact", broadcast_stats: bool = False,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram surprisal per document — the
    standard next step up from :func:`unigram_surprisal` when ranking
    corpus quality (Kneser & Ney 1995; Chen & Goodman 1998's
    interpolated form): per bigram,

        p(w2|w1) = max(c(w1,w2) − D, 0)/c(w1)
                   + (D·N1+(w1·)/c(w1)) · (N1+(·w2)/|bigram types|)

    where ``c`` are bigram counts, ``N1+(w1·)``/``N1+(·w2)`` the
    distinct-continuation counts and ``D`` the absolute discount. All
    counts are taken from the corpus's own bigram relation (contexts
    are bigram-count sums, the self-consistent relational estimator),
    so every probability is strictly positive and no OOV smoothing is
    needed for self-scoring.

    Returns ``(id, n_bigrams, sum_surprisal, mean_surprisal)`` with
    the same exactness discipline as :func:`unigram_surprisal`:
    per-bigram ``-log2 p`` rounded to ``round_digits`` then
    DECIMAL-accumulated — order-independent, engine-replayable.

    Plan shape: consecutive pairs come from ``arrays_zip`` of the
    token array against itself shifted by one — fully native, NO
    lambda, so the explode subtree stays canonicalizable for exchange
    reuse. One corpus explode collapses into the map-side-combined
    bigram-count aggregate (zipfian, so partial aggregation absorbs
    most of the fan-in); context/continuation/type-total statistics
    are three small aggregates over that vocabulary-sized relation;
    the probability relation joins back to the exploded pairs
    (AQE-broadcast when it fits) and re-aggregates per document. The
    corpus pays one explode and one doc-keyed shuffle — never
    quadratic, nothing vocabulary-sized visits the driver.

    ``keys``: ``"exact"`` (default, the gate configuration) keys every
    aggregate and join by the bigram STRINGS and accumulates per-bigram
    DECIMALs — bit-replayable in any engine. ``"hash"`` is the
    production configuration: xxhash64 long keys derived once in the
    explode projection (~4× narrower shuffle rows; a 64-bit collision
    merges two types' statistics — negligible for a quality-scoring
    signal, same stance as the xxhash64 span keys), and the per-doc
    sum accumulates doubles (order-dependent ulps don't matter for
    scoring; the gate's decimal path stays order-independent for the
    oracle).

    ``broadcast_stats=True`` additionally force-broadcasts the
    context/continuation statistics — pass it when the corpus is
    natural language (zipf-bounded vocabulary keeps those relations
    dimension-sized at any corpus scale), which keeps ``probs`` on the
    bigram-count partitioning and lets the final occurrence join REUSE
    the one corpus exchange instead of re-shuffling both sides
    (measured ~5× at the adversarial 100× replica whose vocab grows
    linearly). The default lets AQE size them, because in the
    zero-vocab-collapse worst case ctx/cont are occurrence-sized and a
    forced broadcast would OOM."""
    bg = _bigram_pairs(df, text_col, id_col)
    if keys == "hash":
        bg = bg.select(
            "id", F.xxhash64("w1").alias("w1"),
            F.xxhash64("w2").alias("w2"))
    elif keys != "exact":
        raise ValueError(f"unknown keys {keys!r} — 'exact' or 'hash'")
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = bc.groupBy("w1").agg(F.sum("c12").alias("c1"),
                               F.count("*").alias("n1f"))
    cont = bc.groupBy("w2").agg(F.count("*").alias("n1b"))
    tot = bc.agg(F.count("*").alias("nt"))
    d = F.lit(float(discount))
    # evaluation order mirrored EXACTLY in the oracle SQL — IEEE
    # doubles agree across engines only when the operation tree does
    p = (F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
         / F.col("c1").cast("double")
         + (d * F.col("n1f").cast("double") / F.col("c1").cast("double"))
         * (F.col("n1b").cast("double") / F.col("nt").cast("double")))
    sraw = F.round(-F.log2(p), round_digits)
    if keys == "hash":
        s = sraw  # double accumulation (scoring config)
        # ctx/cont broadcast is GATED on the zipf-bounded-vocabulary
        # assumption via broadcast_stats: in natural language they are
        # dimension-sized (unigram-vocab rows) and broadcasting them
        # keeps probs on the bigram-count partitioning so the final
        # occurrence join reuses the one corpus exchange — but in the
        # zero-vocab-collapse worst case they are occurrence-sized and
        # an unconditional broadcast would OOM the driver (exactly the
        # case the merge hint below defends against). Default: let AQE
        # size them at runtime — small ctx/cont still become broadcast
        # joins (local shuffle read on the bc side), huge ones degrade
        # to the same sort-merge shape as bc. tot is a 1-row
        # aggregate, always broadcast-safe.
        ctx_j = F.broadcast(ctx) if broadcast_stats else ctx
        cont_j = F.broadcast(cont) if broadcast_stats else cont
        probs = (bc.join(ctx_j, "w1")
                 .join(cont_j, "w2")
                 .crossJoin(F.broadcast(tot))
                 .select("w1", "w2", s.alias("s"))
                 # when the bigram-type relation is occurrence-sized
                 # (the zero-vocab-collapse worst case), a shuffled
                 # hash join builds multi-million-entry per-partition
                 # maps (GC-bound, measured ~4× slower); long keys
                 # radix-sort, so sort-merge wins HERE even though the
                 # session globally prefers hash joins
                 .hint("merge"))
    else:
        s = sraw.cast("decimal(28,10)")
        probs = (bc.join(ctx, "w1").join(cont, "w2")
                 .crossJoin(F.broadcast(tot))
                 .select("w1", "w2", s.alias("s")))
    return (bg.join(probs, ["w1", "w2"])
            .groupBy("id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("s").alias("_sum"))
            .select(F.col("id"),
                    F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
                    F.col("_sum").cast("decimal(38,10)")
                     .alias("sum_surprisal"),
                    # double mean for band filters; not oracle-compared
                    (F.col("_sum").cast("double") / F.col("n_bigrams"))
                     .alias("mean_surprisal")))


def _bigram_pairs(df: DataFrame, text_col: str,
                  id_col: str | None = None) -> DataFrame:
    """(id?, w1, w2) consecutive-token pairs — the lambda-free
    arrays_zip construction shared by :func:`kneser_ney_bigrams` and
    the train/score split (docs with < 2 tokens contribute nothing)."""
    cols = ([F.col(id_col).alias("id")] if id_col else []) \
        + [tokens(text_col).alias("_toks")]
    toked = df.select(*cols).where(F.size("_toks") >= 2)
    pairs = F.arrays_zip(
        F.slice("_toks", F.lit(1), F.size("_toks") - 1),
        F.slice("_toks", F.lit(2), F.size("_toks") - 1))
    keep = (["id"] if id_col else [])
    return (toked.select(*keep, F.explode(pairs).alias("_p"))
            .select(*keep, F.col("_p").getField("0").alias("w1"),
                    F.col("_p").getField("1").alias("w2")))


def kn_bigram_stats(df: DataFrame, text_col: str,
                    keys: str = "exact") -> DataFrame:
    """Train once, score increments — the persisted-LM half of the
    CCNet deployment shape (a crawl increment is scored against a
    FIXED language model, not a model retrained per batch): ONE
    zipf-collapsed bigram-count relation ``(w1, w2, c12, _kn_keys)``
    from which every Kneser–Ney statistic (contexts, continuations,
    type total) derives. Persist it as parquet; feed it to
    :func:`kn_score_documents`.

    ``_kn_keys`` stamps the key family (``"exact"`` strings /
    ``"hash"`` xxhash64 longs — same trade as
    :func:`kneser_ney_bigrams`): a state built under one family
    shares no key values with a probe under the other, so the stamp
    lets the scorer REFUSE instead of silently scoring everything as
    out-of-vocabulary (the ``_lk_repr``/``_sig_repr`` discipline of
    the incremental dedup families). The stamp is carried BOTH as a
    column value (authoritative — survives unions of mismatched
    states) and as column-level schema metadata (``{"kn_keys": ...}``,
    parquet round-trip safe), which lets the scorer fast-fail at plan
    time without running a Spark job."""
    bg = _bigram_pairs(df, text_col)
    if keys == "hash":
        bg = bg.select(F.xxhash64("w1").alias("w1"),
                       F.xxhash64("w2").alias("w2"))
    elif keys != "exact":
        raise ValueError(f"unknown keys {keys!r} — 'exact' or 'hash'")
    return (bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
            .select("*", F.lit(keys).alias(
                "_kn_keys", metadata={"kn_keys": keys})))


def kn_score_documents(
    batch: DataFrame, stats: DataFrame, text_col: str, id_col: str,
    discount: float = 0.75, round_digits: int = 6,
    keys: str = "exact", broadcast_stats: bool = False,
) -> DataFrame:
    """Score an increment against persisted :func:`kn_bigram_stats` —
    ``(id, n_bigrams, sum_surprisal, mean_surprisal)`` with the same
    exactness discipline as :func:`kneser_ney_bigrams` (per-bigram
    −log2 p rounded, DECIMAL-accumulated), extended to events the
    self-scoring entry point never sees:

    - seen (w1, w2): the full interpolated probability;
    - seen w1, unseen pair: the discounted term is exactly 0, so
      p = λ(w1)·Pcont(w2) — the standard KN backoff;
    - unseen context w1: p = Pcont(w2) (pure continuation);
    - unseen w2: Pcont = 1/(nt+1) — a deterministic floor strictly
      below every seen continuation probability (documented choice;
      any engine replays it).

    Scale (the batch-key semi-filter discipline of the incremental
    dedup/line families): the corpus-sized stats relation NEVER
    shuffles — pair/context/continuation statistics are semi-filtered
    by the distinct batch key sets before their (tiny) aggregates,
    the type total is a scan-only 1-row count, and all four join back
    to the batch's bigrams. ``broadcast_stats=False`` (default) lets
    AQE size every one of those joins at runtime — small key sets and
    semi-filtered stats still become broadcasts, but a huge increment
    with a large vocabulary degrades to shuffle joins instead of
    OOMing the driver. ``broadcast_stats=True`` force-broadcasts them
    — pass it when the increment is a bounded crawl batch against a
    zipf-bounded vocabulary (the CCNet deployment shape; same gating
    stance as :func:`kneser_ney_bigrams`).

    Stamp validation is FREE or plan-embedded, never an extra job:
    the column-metadata stamp (when present) is checked at plan time;
    the authoritative row-level check (catches unions of mismatched
    states, and an EMPTY stats relation — which would otherwise send
    every bigram to the OOV floor and score 0 surprisal everywhere)
    is folded into the type-total aggregate the plan computes anyway
    and raises at execution."""
    expected = keys
    if keys not in ("exact", "hash"):
        raise ValueError(f"unknown keys {keys!r} — 'exact' or 'hash'")
    if "_kn_keys" not in stats.columns:
        raise ValueError(
            "stats carries no _kn_keys stamp — a state built under a "
            "different key family shares no key values with this "
            "probe and every bigram would silently score as OOV. "
            "Build the state via kn_bigram_stats()")
    # plan-time fast path: kn_bigram_stats stamps the column metadata
    # (parquet round-trip safe) — a wrong-family state fails HERE,
    # before any job runs. States persisted without metadata (or
    # unions that merged it away) fall through to the in-plan guard.
    meta = stats.schema["_kn_keys"].metadata or {}
    stamped = meta.get("kn_keys")
    if stamped is not None and stamped != expected:
        raise ValueError(f"stats was built with keys={stamped!r} "
                         f"but the probe asked for {expected!r}")
    bc = stats.drop("_kn_keys")
    # authoritative guard, folded into the 1-row type-total aggregate
    # the plan needs anyway (zero extra jobs — the old eager
    # distinct().collect() validation re-ran the FULL training
    # aggregate as a separate job when stats was an unpersisted
    # DataFrame): nt is referenced by every probability expression,
    # so column pruning can never drop the assertion.
    # eqNullSafe: a NULL stamp (e.g. a state hand-merged via
    # unionByName(allowMissingColumns=True)) must count as a mismatch,
    # not vanish under three-valued `!=`
    mism = F.count(
        F.when(~F.col("_kn_keys").eqNullSafe(F.lit(expected)), 1))
    tot = (stats.agg(F.count("*").alias("_nt_raw"),
                     mism.alias("_bad"))
           .select(
               F.when(F.col("_bad") > 0, F.raise_error(F.concat(
                   F.lit("kn_score_documents: "),
                   F.col("_bad").cast("string"),
                   F.lit(" stats rows carry a _kn_keys stamp other "
                         f"than {expected!r} — a state built under a "
                         "different key family shares no key values "
                         "with this probe; re-build it with "
                         "kn_bigram_stats(keys=...)"))))
               .when(F.col("_nt_raw") == 0, F.raise_error(F.lit(
                   "kn_score_documents: stats relation is EMPTY "
                   "(empty or fully-filtered training corpus) — "
                   "every bigram would hit the OOV floor 1/(nt+1)=1 "
                   "and score 0 surprisal, making every document "
                   "look maximally fluent; refusing to silently "
                   "mis-score")))
               .otherwise(F.col("_nt_raw")).alias("nt")))
    bg = _bigram_pairs(batch, text_col, id_col)
    if keys == "hash":
        bg = bg.select("id", F.xxhash64("w1").alias("w1"),
                       F.xxhash64("w2").alias("w2"))
    b = F.broadcast if broadcast_stats else (lambda rel: rel)
    pair_keys = bg.select("w1", "w2").distinct()
    w1_keys = bg.select("w1").distinct()
    w2_keys = bg.select("w2").distinct()
    pair_s = bc.join(b(pair_keys), ["w1", "w2"], "left_semi")
    ctx = (bc.join(b(w1_keys), "w1", "left_semi")
           .groupBy("w1").agg(F.sum("c12").alias("c1"),
                              F.count("*").alias("n1f")))
    cont = (bc.join(b(w2_keys), "w2", "left_semi")
            .groupBy("w2").agg(F.count("*").alias("n1b")))
    d = F.lit(float(discount))
    j = (bg.join(b(pair_s), ["w1", "w2"], "left")
         .join(b(ctx), "w1", "left")
         .join(b(cont), "w2", "left")
         .crossJoin(F.broadcast(tot)))
    # evaluation order mirrored EXACTLY in the q141 oracle SQL
    pc = F.when(F.col("n1b").isNotNull(),
                F.col("n1b").cast("double") / F.col("nt").cast("double")) \
        .otherwise(F.lit(1.0) / (F.col("nt").cast("double") + F.lit(1.0)))
    p_seen = (F.greatest(F.coalesce(F.col("c12"), F.lit(0))
                         .cast("double") - d, F.lit(0.0))
              / F.col("c1").cast("double")
              + (d * F.col("n1f").cast("double")
                 / F.col("c1").cast("double")) * pc)
    p = F.when(F.col("c1").isNotNull(), p_seen).otherwise(pc)
    s = F.round(-F.log2(p), round_digits).cast("decimal(28,10)")
    return (j.select("id", s.alias("s"))
            .groupBy("id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("s").alias("_sum"))
            .select("id",
                    F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
                    F.col("_sum").cast("decimal(38,10)")
                     .alias("sum_surprisal"),
                    (F.col("_sum").cast("double") / F.col("n_bigrams"))
                     .alias("mean_surprisal")))


def zipf_fit(df: DataFrame, text_col: str,
             round_digits: int = 9) -> DataFrame:
    """Corpus-health Zipf diagnostic: least-squares fit of
    ``ln(freq) ~ slope·ln(rank) + intercept`` over the frequency-
    ranked vocabulary — natural text sits near slope ≈ −1 (Zipf's
    law); a slope far off flags template/boilerplate floods (too
    steep) or synthetic/shredded text (too flat). The standard quick
    QA gauge on a new crawl before heavier filters run.

    Returns ONE row ``(n_types, n_tokens, slope, intercept, r2)``.

    Determinism: ranks are exact (the range-partitioned global rank
    under (freq DESC, tok ASC) — a total order); each point's
    ``ln``-space regression terms round to ``round_digits`` BEFORE
    exact decimal accumulation (order-independent sums), and the
    closed-form slope/intercept/r² are a fixed arithmetic tree over
    those exact sums — engines agree wherever their ``ln`` doubles
    agree (the established log2/exp stance).

    Shape: one corpus explode → zipf-bounded (tok) count aggregate →
    range-partitioned rank (no single-partition window) → narrow
    per-point terms → ONE 1-row aggregate. Nothing vocabulary-sized
    leaves the cluster."""
    from db2pq_spark.operators.ranking import global_rank_with_total

    counts = (df.select(F.explode(tokens(text_col)).alias("tok"))
              .groupBy("tok").agg(F.count("*").alias("freq")))
    ranked, n_types = global_rank_with_total(
        counts, [F.col("freq").desc(), F.col("tok").asc()],
        rank_col="rank")
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    d = f"decimal(28,{round_digits})"
    terms = ranked.select(
        F.col("freq"),
        F.round(x, round_digits).cast(d).alias("_x"),
        F.round(y, round_digits).cast(d).alias("_y"),
        F.round(x * x, round_digits).cast(d).alias("_xx"),
        F.round(x * y, round_digits).cast(d).alias("_xy"),
        F.round(y * y, round_digits).cast(d).alias("_yy"))
    agg = terms.agg(
        F.count("*").alias("n"),
        F.sum("freq").alias("n_tokens"),
        F.sum("_x").alias("sx"), F.sum("_y").alias("sy"),
        F.sum("_xx").alias("sxx"), F.sum("_xy").alias("sxy"),
        F.sum("_yy").alias("syy"))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    det = n * sxx - sx * sx
    cov = n * sxy - sx * sy
    vary = n * syy - sy * sy
    slope = cov / det
    return agg.select(
        F.col("n").cast("bigint").alias("n_types"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.when(det != 0, F.round(slope, 6)).alias("slope"),
        F.when(det != 0,
               F.round((sy - slope * sx) / n, 6)).alias("intercept"),
        F.when((det != 0) & (vary != 0),
               F.round((cov * cov) / (det * vary), 6)).alias("r2"))
