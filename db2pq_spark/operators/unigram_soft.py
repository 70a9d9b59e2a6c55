"""Soft-EM (forward-backward) unigram-LM tokenizer training.

[extension — not in the reference] The FULL SentencePiece trainer
(Kudo 2018, *Subword Regularization*, arXiv:1804.10959 §4.2), next to
the hard-EM (Viterbi) variant in ``operators/unigram.py``: the E-step
computes EXPECTED piece counts over the whole segmentation lattice via
the forward-backward algorithm (not just the single best path), and
training ends with the likelihood-loss prune — each multi-char piece
is scored by how much the corpus log-likelihood degrades if every one
of its (expected) usages is re-segmented WITHOUT it, and only the
top ``vocab_size − |chars|`` pieces survive (characters are always
retained for coverage).

Scale shape — identical to the hard-EM module: everything runs on the
distinct bounded-word relation, never the corpus. Per EM round the
corpus pays one candidate explode (in-row substrings), one
zipf-bounded vocabulary join, one Arrow-batched forward-backward
kernel per word (O(len × max_piece_len), the same per-word DP shape as
Viterbi), and one (piece, expected-count) aggregate. The prune adds
ONE Viterbi pass whose word relation is the multi-char vocabulary
itself (zipf-bounded) with the full-width candidate excluded.

Cross-engine determinism (every float op mirrored EXACTLY in the
oracle SQL — the q143 discipline extended to real-valued lattices):

- probabilities: ``CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)`` per
  piece; unseen/zero-count single characters get the floor
  ``1000000.0 / (total + 1000000.0)`` (≡ 1/(raw_total+1) on the
  micro-count scale) — one IEEE division each, bit-equal in any
  engine;
- the forward (``alpha``) and backward (``beta``) recurrences sum
  their ≤ ``max_piece_len`` terms in ASCENDING piece-length order
  with left association, and each term is the one product
  ``alpha·p`` (resp. ``p·beta``) — the oracle unrolls the same chain
  one CTE per position with the identical ``COALESCE(t1,0)+t2+…``
  association, so every intermediate double is bit-identical;
- per-occurrence posteriors ``((alpha[i−1]·p)·beta[end])/alpha[n]``
  are rounded to 6 digits and held as micro-unit BIGINTs BEFORE any
  aggregation — expected counts are integer sums (order-free, exact),
  never a float reduction over an unordered relation;
- counts are stored ×10⁶ (micro) end-to-end, so hard integer seeds
  and fractional expected counts live in one column type;
- prune loss ``cnt_micro × (alt_bits − s_bits)`` is an exact integer
  product (DECIMAL(38,0) / HUGEINT), ranked by (loss DESC, piece
  ASC) — no float decides survival.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.unigram import (
    MAX_PIECE_LEN, MAX_WORD_LEN, _scores, _viterbi_words,
    unigram_seed, unigram_seed_sql, unigram_viterbi_sql)
from db2pq_spark.staging import stage

__all__ = ["unigram_train_soft", "soft_em_round", "prune_vocab",
           "soft_seed_sql", "soft_round_sql", "soft_prune_sql"]


def _probs(vocab: DataFrame) -> DataFrame:
    """(piece, p): lattice probabilities from micro counts — one IEEE
    double division, replayed verbatim in the oracle."""
    tot = vocab.agg(F.sum("cnt").cast("double").alias("tot"))
    return (vocab.where(F.col("cnt") > 0)
            .crossJoin(F.broadcast(tot))
            .select("piece",
                    (F.col("cnt").cast("double") / F.col("tot"))
                    .alias("p")))


def _floor_p(vocab: DataFrame) -> DataFrame:
    """1-row (pf): the unseen-character floor probability
    ``10⁶/(total_micro + 10⁶)`` ≡ 1/(raw_total + 1)."""
    return vocab.agg(
        (F.lit(1000000.0)
         / (F.sum("cnt").cast("double") + F.lit(1000000.0)))
        .alias("pf"))


def _floor_bits_micro(vocab: DataFrame) -> DataFrame:
    """1-row (floor_bits): the Viterbi cost of the floor probability,
    ``round(−log2(pf), 6) × 10⁶`` — the micro-count twin of the hard
    module's ``_floor_bits`` (whose ``log2(total+1)`` formula assumes
    RAW counts), used by the prune's alternative segmentation."""
    return vocab.agg(
        (F.round(-F.log2(
            F.lit(1000000.0)
            / (F.sum("cnt").cast("double") + F.lit(1000000.0))), 6)
          .cast("decimal(18,6)") * 1_000_000)
        .cast("bigint").alias("floor_bits"))


def _soft_cands(words: DataFrame, vocab: DataFrame,
                max_piece_len: int) -> DataFrame:
    """(word, freq, endpos, plen, piece, p): every substring position
    of every word joined to its lattice probability — multi-char
    pieces absent from the vocabulary are excluded, single characters
    fall back to the floor (coverage: the lattice always completes)."""
    cand = words.select(
        "word", "freq",
        F.explode(F.flatten(F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.transform(
                F.sequence(F.lit(0),
                           F.least(F.lit(max_piece_len),
                                   F.length("word") - i + 1) - 1),
                lambda n: F.struct(
                    (i + n).alias("endpos"),
                    (n + 1).alias("plen"),
                    F.col("word").substr(i, n + 1).alias("piece"))),
        ))).alias("c"))
    return (cand.join(_probs(vocab).hint("broadcast"),
                      cand["c.piece"] == F.col("piece"), "left")
            .crossJoin(F.broadcast(_floor_p(vocab)))
            .select("word", "freq",
                    F.col("c.endpos").alias("endpos"),
                    F.col("c.plen").alias("plen"),
                    F.col("c.piece").alias("piece"),
                    F.coalesce(
                        F.col("p"),
                        F.when(F.col("c.plen") == 1, F.col("pf")))
                    .alias("p"))
            .where(F.col("p").isNotNull()))


def _fb_words(words: DataFrame, vocab: DataFrame,
              max_piece_len: int) -> DataFrame:
    """Forward-backward over each distinct (word, freq): one row per
    candidate occurrence ``(word, freq, piece, post)`` with ``post``
    the lattice posterior of that occurrence. Sums run in ascending
    piece-length order with left association — the order the oracle's
    unrolled CTE chain replays.

    (r13) shuffle-free and batch-vectorized: the candidate rows of a
    word are generated by ONE in-row explode and reach the kernel
    through only narrow order-preserving operators, so the former
    ``groupBy(word).collect_list`` exchange of the len×max_piece_len
    candidate stream regrouped an adjacency the rows already had —
    :func:`~db2pq_spark.functions.arrow.run_grouped_map` consumes the
    flat relation in place (guide §2.4), and the α/β recurrences run
    as NumPy column sweeps across every word of the Arrow batch at
    once instead of a Python loop per word (guide §4.2). Bit-identical
    to the per-word scalar DP: each word's float sequence is the same
    left-associated chain — absent candidates contribute exact ``+0.0``
    terms (all quantities are non-negative, so ``s + 0.0`` is the
    identity on every partial sum) — and a pure-pandas equivalence
    test pins the batch kernel to the scalar algorithm."""
    import numpy as np
    import pandas as pd

    from db2pq_spark.functions.arrow import run_grouped_map

    scored = _soft_cands(words, vocab, max_piece_len)
    mpl = int(max_piece_len)

    def fb_runs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        word_col = pdf["word"].to_numpy()
        n_tot = len(word_col)
        change = np.empty(n_tot, dtype=bool)
        change[0] = True
        change[1:] = word_col[1:] != word_col[:-1]
        starts = np.flatnonzero(change)
        counts = np.diff(np.append(starts, n_tot))
        run_words = word_col[starts]
        nw = len(run_words)
        lens = np.fromiter((len(w) for w in run_words),
                           dtype=np.int64, count=nw)
        e = pdf["endpos"].to_numpy().astype(np.int64, copy=False)
        pl = pdf["plen"].to_numpy().astype(np.int64, copy=False)
        p = pdf["p"].to_numpy().astype(np.float64, copy=False)
        widx = np.repeat(np.arange(nw), counts)
        # run-completeness guard: every token position always carries
        # its single-char candidate (the floor), so a run missing one
        # means the upstream plan broke per-word contiguity — refuse
        # rather than silently score a fragment lattice
        singles = np.bincount(widx[pl == 1], minlength=nw)
        if not np.array_equal(singles, lens):
            raise RuntimeError(
                "_fb_words: incomplete word run reached the kernel — "
                "per-word candidate contiguity was broken upstream "
                "(a planner change inserted an exchange between the "
                "candidate explode and the kernel; see tests/test_"
                "plan_hygiene.py::TestRunGroupedMapContiguity — "
                "restore the broadcast feed or fall back to a "
                "groupBy(word) re-group)")
        lmax = int(lens.max())
        prob = np.zeros((nw, lmax + 1, mpl))
        prob[widx, e, pl - 1] = p
        alpha = np.zeros((nw, lmax + 1))
        alpha[:, 0] = 1.0
        for j in range(1, lmax + 1):
            s = np.zeros(nw)
            for plen in range(1, min(mpl, j) + 1):
                s = s + alpha[:, j - plen] * prob[:, j, plen - 1]
            alpha[:, j] = s
        beta = np.zeros((nw, lmax + 1))
        beta[np.arange(nw), lens] = 1.0
        for j in range(lmax - 1, -1, -1):
            s = np.zeros(nw)
            for plen in range(1, min(mpl, lmax - j) + 1):
                s = s + prob[:, j + plen, plen - 1] * beta[:, j + plen]
            beta[:, j] = np.where(j == lens, 1.0, s)
        an = alpha[np.arange(nw), lens]
        post = (alpha[widx, e - pl] * p) * beta[widx, e] / an[widx]
        return pd.DataFrame({"word": pdf["word"], "freq": pdf["freq"],
                             "piece": pdf["piece"], "post": post})

    return run_grouped_map(
        scored.select("word", "freq", "endpos", "plen", "piece", "p"),
        "word", "word string, freq bigint, piece string, post double",
        fb_runs)


def soft_em_round(words: DataFrame, vocab: DataFrame,
                  max_piece_len: int = MAX_PIECE_LEN,
                  chars: DataFrame | None = None) -> DataFrame:
    """One soft-EM round: forward-backward posteriors → 6-digit
    micro-unit rounding (the ONLY float→int crossing, per occurrence,
    before any aggregation) → expected-count M-step. Multi-char pieces
    whose expected count rounds to zero are pruned; characters are
    retained at 0 (they score the floor next round). ``chars``
    optionally supplies the (round-invariant) distinct-character
    relation so a multi-round trainer derives it once instead of per
    round (r13)."""
    fb = _fb_words(words, vocab, max_piece_len)
    pm = (F.round(F.col("post"), 6).cast("decimal(18,6)")
          * 1_000_000).cast("bigint")
    usage = (fb.select("freq", "piece", pm.alias("post_micro"))
             .groupBy("piece")
             .agg(F.sum(F.col("freq") * F.col("post_micro"))
                  .alias("cnt"))
             .where(F.col("cnt") > 0)
             .select("piece", F.col("cnt").cast("bigint").alias("cnt")))
    if chars is None:
        chars = (words.select(F.explode(F.split("word", ""))
                              .alias("piece"))
                 .where(F.col("piece") != "").distinct())
    # (r13) former chars⋈usage left join + usage⋉chars anti join fold
    # into ONE piece-keyed aggregate: char seed rows contribute 0, so
    # sum(cnt) equals coalesce(cnt, 0) for characters and the plain
    # cnt for multi-char pieces — exact integer adds, identical rows
    return (usage.unionByName(
        chars.select("piece", F.lit(0).cast("bigint").alias("cnt")))
        .groupBy("piece").agg(F.sum("cnt").alias("cnt")))


def prune_vocab(vocab: DataFrame, vocab_size: int,
                max_piece_len: int = MAX_PIECE_LEN) -> DataFrame:
    """Likelihood-loss prune (Kudo 2018 §4.2, SentencePiece's
    ``PruneSentencePieces``): for each multi-char piece, the loss of
    removing it is ``expected_count × (alt_bits − s_bits)`` where
    ``alt_bits`` is the Viterbi cost of segmenting the piece's OWN
    string without the full-width candidate (its best alternative
    segmentation) — keep the top ``vocab_size − |chars|`` by
    (loss DESC, piece ASC); characters always survive (coverage).

    Scale: the alt Viterbi's word relation is the multi-char
    vocabulary itself — zipf-bounded, NOT the corpus — and the
    ranking is a sorted LIMIT (``TakeOrderedAndProject``: per-task
    top-k folds, never a single-partition window sort); the keep
    budget needs |chars|, an alphabet-bounded driver count."""
    chars = vocab.where(F.length("piece") == 1)
    multi = vocab.where(F.length("piece") > 1)
    alt = (_viterbi_words(
        multi.select(F.col("piece").alias("word"),
                     F.lit(1).alias("freq")),
        vocab, max_piece_len, scores=_scores(vocab),
        floor=_floor_bits_micro(vocab), exclude_full=True)
        .select(F.col("word").alias("piece"),
                F.col("score_bits").alias("alt_bits")))
    n_chars = chars.count()  # alphabet-bounded driver action
    keep_k = max(int(vocab_size) - n_chars, 0)
    loss = (multi.join(alt, "piece").join(_scores(vocab), "piece")
            .select("piece", "cnt",
                    (F.col("cnt").cast("decimal(38,0)")
                     * (F.col("alt_bits") - F.col("s_bits"))
                     .cast("decimal(18,0)")).alias("loss")))
    kept = (loss.orderBy(F.col("loss").desc(), F.col("piece").asc())
            .limit(keep_k).select("piece", "cnt"))
    return chars.select("piece", "cnt").unionByName(kept)


def unigram_train_soft(
    df: DataFrame, text_col: str, rounds: int = 2,
    vocab_size: int = 200, max_piece_len: int = MAX_PIECE_LEN,
    min_count: int = 2, max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Full SentencePiece-style training: substring seed →
    ``rounds`` forward-backward EM rounds (expected counts, not
    best-path counts) → likelihood-loss prune to ``vocab_size``.
    Returns the final ``(piece, cnt)`` relation with ``cnt`` in
    micro-units (expected count × 10⁶ — fractional usage is the
    point of soft EM; divide by 10⁶ for raw scale).

    Per-round vocabularies are staged eagerly (the BPE/k-means/hard-EM
    lineage guard)."""
    from db2pq_spark.operators.unigram import _word_rel

    # r13: lazily-staged shared word relation (one corpus
    # tokenize+aggregate for seed + every EM round) and a once-derived
    # chars relation shared by every round
    wf = _word_rel(df, text_col, max_word_len)
    vocab = stage(unigram_seed(wf, max_piece_len, min_count,
                               max_word_len)
                  .select("piece", (F.col("cnt") * 1_000_000)
                          .cast("bigint").alias("cnt")), eager=True)
    chars = stage(wf.select(F.explode(F.split("word", "")).alias("piece"))
                  .where(F.col("piece") != "").distinct())
    for _ in range(rounds):
        vocab = stage(soft_em_round(wf, vocab, max_piece_len,
                                    chars=chars), eager=True)
    return prune_vocab(vocab, vocab_size, max_piece_len)


# ---------------------------------------------------------------- SQL
# DuckDB oracle generators — replay seed, each forward-backward round
# and the prune closed-form. The alpha/beta recurrences unroll one CTE
# per position with a fixed-association COALESCE(+) chain, so every
# intermediate double matches the kernel bit-for-bit.

def soft_seed_sql(wf: str, max_piece_len: int = MAX_PIECE_LEN,
                  min_count: int = 2,
                  max_word_len: int = MAX_WORD_LEN) -> str:
    """Seed CTE body: the hard-EM seed × 10⁶ (micro counts)."""
    return f"""
      SELECT piece, CAST(cnt * 1000000 AS BIGINT) AS cnt FROM (
        {unigram_seed_sql(wf, max_piece_len, min_count, max_word_len)}
      ) s(piece, cnt)"""


def _probs_sql(vocab: str) -> str:
    return f"""(
      SELECT piece, CAST(cnt AS DOUBLE)
                    / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM {vocab})
               AS p
      FROM {vocab} WHERE cnt > 0)"""


def _floor_p_sql(vocab: str) -> str:
    return f"""(
      SELECT 1000000e0 / ((SELECT CAST(SUM(cnt) AS DOUBLE)
                           FROM {vocab}) + 1000000e0) AS pf)"""


def _scores_micro_sql(vocab: str) -> str:
    return f"""(
      SELECT piece,
             CAST(CAST(round(-log2(CAST(cnt AS DOUBLE)
                             / (SELECT CAST(SUM(cnt) AS DOUBLE)
                                FROM {vocab})), 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS s_bits
      FROM {vocab} WHERE cnt > 0)"""


def _floor_bits_micro_sql(vocab: str) -> str:
    return f"""(
      SELECT CAST(CAST(round(-log2(1000000e0 /
                       ((SELECT CAST(SUM(cnt) AS DOUBLE) FROM {vocab})
                        + 1000000e0)), 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS floor_bits)"""


def soft_round_sql(tag: str, words: str, vin: str, vout: str,
                   max_piece_len: int = MAX_PIECE_LEN,
                   max_word_len: int = MAX_WORD_LEN) -> str:
    """One soft-EM round as a CTE chain: candidates with lattice
    probabilities, alpha (forward) and gamma (backward, indexed by
    distance-from-end so one chain serves all word lengths) one CTE
    per position, per-occurrence posteriors rounded to micro-units,
    expected-count M-step into ``{vout}``."""
    W, mpl = max_word_len, max_piece_len
    ctes = [f"""
    {tag}_cand AS MATERIALIZED (
      SELECT c.word, c.freq, c.endpos, c.plen,
             c.endpos - c.plen + 1 AS spos, c.piece,
             COALESCE(v.p, CASE WHEN c.plen = 1 THEN f.pf END) AS p
      FROM (
        SELECT word, freq, i.i + n.n - 1 AS endpos, n.n AS plen,
               substr(word, i.i, n.n) AS piece
        FROM {words},
             LATERAL (SELECT unnest(generate_series(1, len(word)))
                      AS i) i,
             LATERAL (SELECT unnest(generate_series(1,
                      LEAST({mpl}, len(word) - i.i + 1)))
                      AS n) n
      ) c
      LEFT JOIN {_probs_sql(vin)} v USING (piece)
      CROSS JOIN {_floor_p_sql(vin)} f
      WHERE COALESCE(v.p, CASE WHEN c.plen = 1 THEN f.pf END)
            IS NOT NULL
    ),
    {tag}_a0 AS MATERIALIZED (
      SELECT word, 1e0 AS alpha FROM {words}
    ),
    {tag}_g0 AS MATERIALIZED (
      SELECT word, 1e0 AS gamma FROM {words}
    )"""]
    for j in range(1, W + 1):
        plens = range(1, min(mpl, j) + 1)
        joins = "\n".join(
            f"""      LEFT JOIN (SELECT a.word, a.alpha * c.p AS v
                 FROM {tag}_a{j - k} a JOIN {tag}_cand c
                   ON c.word = a.word AND c.endpos = {j}
                  AND c.plen = {k}) t{k} ON t{k}.word = w.word"""
            for k in plens)
        expr = "COALESCE(t1.v, 0e0)"
        for k in list(plens)[1:]:
            expr = f"({expr} + COALESCE(t{k}.v, 0e0))"
        ctes.append(f"""
    {tag}_a{j} AS MATERIALIZED (
      SELECT w.word, {expr} AS alpha
      FROM {words} w
{joins}
    )""")
        joins_g = "\n".join(
            f"""      LEFT JOIN (SELECT g.word, c.p * g.gamma AS v
                 FROM {tag}_g{j - k} g JOIN {tag}_cand c
                   ON c.word = g.word
                  AND c.spos = len(c.word) - {j} + 1
                  AND c.plen = {k}) t{k} ON t{k}.word = w.word"""
            for k in plens)
        expr_g = "COALESCE(t1.v, 0e0)"
        for k in list(plens)[1:]:
            expr_g = f"({expr_g} + COALESCE(t{k}.v, 0e0))"
        ctes.append(f"""
    {tag}_g{j} AS MATERIALIZED (
      SELECT w.word, {expr_g} AS gamma
      FROM {words} w
{joins_g}
    )""")
    alpha_union = "\n        UNION ALL ".join(
        f"SELECT word, {j} AS pos, alpha FROM {tag}_a{j}"
        for j in range(W + 1))
    gamma_union = "\n        UNION ALL ".join(
        f"SELECT word, {k} AS k, gamma FROM {tag}_g{k}"
        for k in range(W + 1))
    ctes.append(f"""
    {tag}_alpha AS MATERIALIZED (
        {alpha_union}
    ),
    {tag}_gamma AS MATERIALIZED (
        {gamma_union}
    ),
    {tag}_post AS MATERIALIZED (
      SELECT c.word, c.freq, c.piece,
             CAST(CAST(round(((a.alpha * c.p) * g.gamma) / an.alpha, 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS post_micro
      FROM {tag}_cand c
      JOIN {tag}_alpha a
        ON a.word = c.word AND a.pos = c.spos - 1
      JOIN {tag}_gamma g
        ON g.word = c.word AND g.k = len(c.word) - c.endpos
      JOIN {tag}_alpha an
        ON an.word = c.word AND an.pos = len(c.word)
    ),
    {tag}_usage AS MATERIALIZED (
      SELECT piece, CAST(SUM(freq * post_micro) AS BIGINT) AS cnt
      FROM {tag}_post GROUP BY piece
      HAVING SUM(freq * post_micro) > 0
    ),
    {tag}_chars AS MATERIALIZED (
      SELECT DISTINCT substr(word, i.i, 1) AS piece
      FROM {words},
           LATERAL (SELECT unnest(generate_series(1, len(word)))
                    AS i) i
    ),
    {vout} AS MATERIALIZED (
      SELECT c.piece, COALESCE(u.cnt, 0) AS cnt
      FROM {tag}_chars c LEFT JOIN {tag}_usage u USING (piece)
      UNION ALL
      SELECT u.piece, u.cnt FROM {tag}_usage u
      ANTI JOIN {tag}_chars c ON u.piece = c.piece
    )""")
    return ",".join(ctes)


def soft_prune_sql(tag: str, vocab: str, vocab_size: int,
                   max_piece_len: int = MAX_PIECE_LEN,
                   max_word_len: int = MAX_WORD_LEN) -> str:
    """Likelihood-loss prune as a CTE chain ending in ``{tag}_final``:
    alt Viterbi (full-width candidate excluded, micro-count scores),
    HUGEINT loss, (loss DESC, piece ASC) rank, chars always kept."""
    vit = unigram_viterbi_sql(
        f"{tag}av", f"{tag}_mw", vocab, max_piece_len, max_word_len,
        scores_sql=_scores_micro_sql(vocab),
        floor_sql=_floor_bits_micro_sql(vocab), exclude_full=True)
    return f"""
    {tag}_mw AS MATERIALIZED (
      SELECT piece AS word, 1 AS freq FROM {vocab}
      WHERE len(piece) > 1
    ),
    {vit},
    {tag}_loss AS MATERIALIZED (
      SELECT v.piece, v.cnt,
             CAST(v.cnt AS HUGEINT)
             * CAST(a.score - s.s_bits AS HUGEINT) AS loss
      FROM {vocab} v
      JOIN {tag}av_seg a ON a.word = v.piece
      JOIN {_scores_micro_sql(vocab)} s USING (piece)
      WHERE len(v.piece) > 1
    ),
    {tag}_final AS MATERIALIZED (
      SELECT piece, cnt FROM {vocab} WHERE len(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt,
               ROW_NUMBER() OVER (ORDER BY loss DESC, piece ASC) AS rn
        FROM {tag}_loss
      ) WHERE rn <= GREATEST({int(vocab_size)} -
              (SELECT COUNT(*) FROM {vocab} WHERE len(piece) = 1), 0)
    )"""
