"""Unigram-LM (SentencePiece-style) tokenizer training.

[extension — not in the reference] Learns a unigram language-model
tokenizer vocabulary (Kudo 2018, *Subword Regularization*,
arXiv:1804.10959 §3) — the second major tokenizer family next to BPE
(``operators/bpe.py``), as deployed by SentencePiece/T5/LLaMA. This is
the deterministic **hard-EM (Viterbi) variant**: expected piece counts
come from each word's single BEST segmentation rather than the full
forward-backward lattice, zero-usage pieces are pruned each round, and
character pieces are always retained (the coverage guarantee). Every
round is bit-replayable cross-engine — the q143/q144 gate oracles
replay seed, EM rounds and segmentation in DuckDB (the CTE-per-round
pattern of q120's BPE and q117's k-means).

Scale shape — the same distinct-word trick as BPE: training runs on
the word-frequency relation, never the corpus. Per EM round:

- candidate enumeration is an in-row substring explode over each
  word's ≤ ``max_word_len`` characters (narrow),
- the piece-match join keys the candidate relation against the
  vocabulary scores (zipf-bounded; AQE broadcasts it when it fits),
- Viterbi DP runs per word inside an Arrow-batched kernel over the
  grouped candidate lists — the vocabulary is NEVER collected to the
  driver and no step is quadratic in corpus size,
- the M-step is one (piece, weighted-count) aggregate.

Determinism contract (mirrored exactly in the oracle SQL):

- words: the shared ``doc_tokens``; words longer than
  ``max_word_len`` are excluded from training and pass through
  segmentation as a single opaque piece;
- piece scores: ``round(-log2(cnt / total), 6)`` per piece, held as
  micro-bit BIGINTs (decimal-exact ×10^6 — the q140 integer ordering
  key), so DP sums are integer arithmetic and replay in any engine;
- unseen-in-round characters score the OOV floor
  ``round(log2(total + 1), 6)`` — strictly above every seen piece,
  same floor family as the KN scorer;
- best segmentation: minimal (score_sum, piece_count,
  space-joined-path) — the string tie-break is byte-order on both
  engines for the normalized (ASCII-folded) token alphabet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.bpe import word_freqs
from db2pq_spark.staging import stage

__all__ = ["unigram_seed", "unigram_train", "unigram_segment_words",
           "unigram_segment", "unigram_vocab_state",
           "unigram_segment_batch", "unigram_seed_sql",
           "unigram_round_sql", "unigram_viterbi_sql"]

#: default config — short pieces, bounded words; the gate pins these
MAX_PIECE_LEN = 4
MAX_WORD_LEN = 16


def _bounded_words(wf: DataFrame, max_word_len: int) -> DataFrame:
    return wf.where(F.length("word") <= max_word_len)


def unigram_seed(
    wf: DataFrame, max_piece_len: int = MAX_PIECE_LEN,
    min_count: int = 2, max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Seed vocabulary ``(piece, cnt)``: every substring of length
    1..``max_piece_len`` of every (bounded) word, frequency-weighted;
    multi-char pieces below ``min_count`` are dropped, single
    characters are always kept (coverage). One narrow explode over the
    word relation + one zipf-bounded aggregate."""
    w = _bounded_words(wf, max_word_len)
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.transform(
            F.sequence(F.lit(0),
                       F.least(F.lit(max_piece_len),
                               F.length("word") - i + 1) - 1),
            lambda n: F.col("word").substr(i, n + 1)),
    ))
    return (w.select("freq", F.explode(subs).alias("piece"))
            .groupBy("piece").agg(F.sum("freq").alias("cnt"))
            .where((F.length("piece") == 1)
                   | (F.col("cnt") >= min_count)))


def _scores(vocab: DataFrame) -> DataFrame:
    """(piece, s_bits): micro-bit integer Viterbi costs from counts —
    ``round(-log2(cnt/total), 6) × 10^6`` via exact decimal arithmetic
    (the double→decimal→bigint chain is exact once round() fixes 6
    digits; cross-engine equality of round(-log2(...), 6) is the
    established q121/q140/q141 discipline). Zero-count pieces
    (characters retained for coverage after a round never used them)
    are EXCLUDED — they score the floor instead (−log2(0) is not a
    number)."""
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    s = F.round(-F.log2(F.col("cnt").cast("double")
                        / F.col("tot").cast("double")), 6) \
        .cast("decimal(18,6)")
    return (vocab.where(F.col("cnt") > 0)
            .crossJoin(F.broadcast(tot))
            .select("piece",
                    (s * 1_000_000).cast("bigint").alias("s_bits")))


def _floor_bits(vocab: DataFrame) -> DataFrame:
    """1-row (floor_bits): the unseen-character floor
    ``round(log2(total+1), 6) × 10^6`` — ≥ every seen piece's cost.
    (Not STRICTLY above at scale: for total ≳ 1.44e6 the 6-digit
    rounding makes log2(total+1) and a count-1 piece's log2(total)
    collide; nothing here relies on strictness — ties resolve through
    the deterministic (np, path) ordering — and both engines compute
    the same floor, so cross-engine determinism is unaffected.)"""
    return vocab.agg(
        (F.round(F.log2(F.sum("cnt").cast("double") + 1.0), 6)
          .cast("decimal(18,6)") * 1_000_000)
        .cast("bigint").alias("floor_bits"))


def _viterbi_words(words: DataFrame, vocab: DataFrame,
                   max_piece_len: int, scores: DataFrame | None = None,
                   floor: DataFrame | None = None,
                   exclude_full: bool = False) -> DataFrame:
    """Viterbi-segment each distinct (word, freq): returns
    ``(word, freq, path: array<string>, np, score_bits)``.

    Candidates = in-row substring positions joined to the vocabulary
    scores (plus the floor for single characters absent from the
    round's vocabulary — coverage is guaranteed, so the DP always
    completes). The DP runs in an Arrow-batched kernel directly over
    the flat candidate relation (r13: shuffle-free, see the inline
    note): O(len × max_piece_len) per word, vocabulary never
    driver-side.

    ``scores``/``floor`` override the raw-count cost relations (the
    soft-EM trainer scores micro-count vocabularies);
    ``exclude_full`` drops the full-width candidate — the
    likelihood-loss prune asks "what does segmenting this piece
    WITHOUT itself cost", Kudo 2018 §4.2's alternative
    segmentation."""
    import pandas as pd

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
    sc = _scores(vocab) if scores is None else scores
    fl = _floor_bits(vocab) if floor is None else floor
    scored = (cand.join(sc.hint("broadcast"),
                        cand["c.piece"] == F.col("piece"), "left")
              .crossJoin(F.broadcast(fl))
              .select("word", "freq",
                      F.col("c.endpos").alias("endpos"),
                      F.col("c.plen").alias("plen"),
                      F.col("c.piece").alias("piece"),
                      F.coalesce(
                          F.col("s_bits"),
                          F.when(F.col("c.plen") == 1,
                                 F.col("floor_bits"))).alias("s_bits"))
              .where(F.col("s_bits").isNotNull()))
    if exclude_full:
        scored = scored.where(F.col("plen") < F.length("word"))

    # (r13) shuffle-free: a word's candidate rows are emitted by ONE
    # in-row explode and reach the kernel through only narrow
    # order-preserving operators (broadcast-hinted score join, 1-row
    # floor cross join, filters), so they are already contiguous
    # within their partition — the former groupBy(word).collect_list
    # exchanged the whole len×max_piece_len candidate stream to
    # regroup an adjacency it already had (guide §2.4).
    # run_grouped_map consumes the flat relation in place; the DP per
    # word is unchanged (its (score, np, path) lexicographic
    # tie-break stays a scalar loop).
    import numpy as np

    from db2pq_spark.functions.arrow import run_grouped_map

    def dp_runs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # (r13) batched DP: position-major NumPy sweeps across every
        # word of the batch (the forward-backward kernel's shape) —
        # identical integer scores and the identical lexicographic
        # (score, np, path) tie-break (NumPy '<U' comparisons ARE
        # Python str code-point order; path strings are materialized
        # only for the minority of candidates that win on (score, np)
        # or tie on both), pinned to the per-word scalar loop by test.
        word_col = pdf["word"].to_numpy()
        n_tot = len(word_col)
        change = np.empty(n_tot, dtype=bool)
        change[0] = True
        change[1:] = word_col[1:] != word_col[:-1]
        starts = np.flatnonzero(change)
        counts = np.diff(np.append(starts, n_tot))
        nw = len(starts)
        run_words = word_col[starts]
        lens = np.fromiter((len(w) for w in run_words),
                           dtype=np.int64, count=nw)
        e_arr = pdf["endpos"].to_numpy().astype(np.int64, copy=False)
        pl_arr = pdf["plen"].to_numpy().astype(np.int64, copy=False)
        sb_arr = pdf["s_bits"].to_numpy().astype(np.int64, copy=False)
        freq_arr = pdf["freq"].to_numpy()
        widx = np.repeat(np.arange(nw), counts)
        # run-completeness guard: every position carries its
        # single-char candidate (the floor; exclude_full only drops
        # plen == len(word), leaving singles intact for the n ≥ 2
        # words that produce rows at all) — a short count means
        # upstream contiguity broke: refuse, don't segment a fragment
        # lattice
        singles = np.bincount(widx[pl_arr == 1], minlength=nw)
        if not np.array_equal(singles, lens):
            raise RuntimeError(
                "_viterbi_words: incomplete word run reached the "
                "kernel — per-word candidate contiguity was "
                "broken upstream (a planner change inserted an "
                "exchange or sort-merge between the candidate "
                "explode and the kernel; see tests/test_plan_"
                "hygiene.py::TestRunGroupedMapContiguity — "
                "restore the broadcast feed or fall back to a "
                "groupBy(word) re-group)")
        lmax = int(lens.max())
        mp = int(pl_arr.max())
        pw = f"<U{2 * lmax + 1}"
        sbm = np.zeros((nw, lmax + 1, mp + 1), dtype=np.int64)
        has = np.zeros((nw, lmax + 1, mp + 1), dtype=bool)
        sbm[widx, e_arr, pl_arr] = sb_arr
        has[widx, e_arr, pl_arr] = True
        pstr = np.zeros((nw, lmax + 1, mp + 1), dtype=f"<U{mp}")
        pstr[widx, e_arr, pl_arr] = pdf["piece"].to_numpy()
        # best[j] per word = (score, np, path) for the length-j prefix
        valid = np.zeros((nw, lmax + 1), dtype=bool)
        valid[:, 0] = True
        score = np.zeros((nw, lmax + 1), dtype=np.int64)
        npc = np.zeros((nw, lmax + 1), dtype=np.int64)
        paths = [np.full(nw, "", dtype=pw)]
        for j in range(1, lmax + 1):
            b_valid = np.zeros(nw, dtype=bool)
            b_score = np.zeros(nw, dtype=np.int64)
            b_np = np.zeros(nw, dtype=np.int64)
            b_path = np.full(nw, "", dtype=pw)
            for p in range(1, min(mp, j) + 1):
                c_has = has[:, j, p] & valid[:, j - p]
                if not c_has.any():
                    continue
                c_score = score[:, j - p] + sbm[:, j, p]
                c_np = npc[:, j - p] + 1
                # winner on (score, np) alone, or a tie that needs the
                # path-string comparison — paths are built only for
                # these rows
                upd0 = c_has & (~b_valid
                                | (c_score < b_score)
                                | ((c_score == b_score)
                                   & (c_np < b_np)))
                tie = (c_has & b_valid & (c_score == b_score)
                       & (c_np == b_np))
                need = upd0 | tie
                if not need.any():
                    continue
                idx = np.flatnonzero(need)
                if p == j:
                    cp = pstr[idx, j, p].astype(pw)
                else:
                    cp = np.char.add(
                        np.char.add(paths[j - p][idx], " "),
                        pstr[idx, j, p])
                win = upd0[idx] | (tie[idx] & (cp < b_path[idx]))
                sel = idx[win]
                b_valid[sel] = True
                b_score[sel] = c_score[sel]
                b_np[sel] = c_np[sel]
                b_path[sel] = cp[win]
            valid[:, j] = b_valid
            score[:, j] = b_score
            npc[:, j] = b_np
            paths.append(b_path)
        rows = np.arange(nw)
        if not valid[rows, lens].all():
            raise RuntimeError(
                "_viterbi_words: word with no complete segmentation "
                "— the single-char floor makes this impossible unless"
                " upstream contiguity broke")
        f_score = score[rows, lens]
        f_np = npc[rows, lens]
        f_path = np.empty(nw, dtype=object)
        for j in np.unique(lens):
            m = lens == j
            f_path[m] = paths[int(j)][m]
        return pd.DataFrame({
            "word": run_words,
            "freq": freq_arr[starts].astype(np.int64),
            "path": [s.split(" ") for s in f_path],
            "np": f_np.astype(np.int32),
            "score_bits": f_score,
        })

    return run_grouped_map(
        scored.select("word", "freq", "endpos", "plen", "piece",
                      "s_bits"),
        "word",
        "word string, freq bigint, path array<string>, np int,"
        " score_bits long",
        dp_runs)


def unigram_train(
    df: DataFrame, text_col: str, rounds: int = 2,
    max_piece_len: int = MAX_PIECE_LEN, min_count: int = 2,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Train the unigram-LM vocabulary: seed → ``rounds`` hard-EM
    rounds (Viterbi E-step, count M-step, zero-usage multi-char pieces
    pruned, characters retained at their usage count — 0 scores the
    floor next round). Returns the final ``(piece, cnt)`` relation.

    Each round's vocabulary is staged eagerly: the
    per-round plan would otherwise nest ``rounds`` deep through the
    Arrow kernel (the BPE/k-means lineage guard), and both consumers
    of a round's vocab (scores + floor) read the pinned relation."""
    wf = _word_rel(df, text_col, max_word_len)
    return _unigram_train_wf(wf, rounds, max_piece_len, min_count,
                             max_word_len)


def _word_rel(df: DataFrame, text_col: str,
              max_word_len: int) -> DataFrame:
    """The bounded distinct-word relation, lazily staged (r13):
    training and segmentation consumers share ONE tokenize+aggregate
    of the corpus instead of re-deriving it. NOTE (r13, measured): a
    repartition("word") before the stage buys nothing — staging under
    AQE erases outputPartitioning, so per-round aggregates re-exchange
    the compact word relation regardless; the extra exchange only
    added cost."""
    return stage(_bounded_words(word_freqs(df, text_col), max_word_len))


def _unigram_train_wf(wf: DataFrame, rounds: int, max_piece_len: int,
                      min_count: int, max_word_len: int) -> DataFrame:
    """Hard-EM training over a prepared :func:`_word_rel` relation —
    shared by :func:`unigram_train` and
    :func:`unigram_segment_words`, which previously re-derived the
    word-frequency relation (a second corpus tokenize + aggregate)
    for its own segmentation pass."""
    vocab = stage(unigram_seed(wf, max_piece_len, min_count,
                               max_word_len), eager=True)
    chars = stage(wf.select("freq", F.explode(F.split("word", ""))
                            .alias("piece"))
                  .where(F.col("piece") != "")
                  .select("piece").distinct())  # r13: once, not per round
    for _ in range(rounds):
        seg = _viterbi_words(wf, vocab, max_piece_len)
        usage = (seg.select("freq", F.explode("path").alias("piece"))
                 .groupBy("piece").agg(F.sum("freq").alias("cnt")))
        vocab = stage(chars.join(usage, "piece", "left")
                      .select("piece", F.coalesce("cnt", F.lit(0))
                              .alias("cnt"))
                      .unionByName(usage.join(chars, "piece",
                                              "left_anti")),
                      eager=True)
    return vocab


def unigram_segment_words(
    df: DataFrame, text_col: str, rounds: int = 2,
    max_piece_len: int = MAX_PIECE_LEN, min_count: int = 2,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Train on the corpus, then Viterbi-segment the distinct words
    with the final vocabulary: ``(word, freq, n_pieces, pieces)``
    with ``pieces`` the space-joined best path. Training and the
    final segmentation share ONE prepared word relation (r13 — the
    former shape tokenized and aggregated the corpus twice)."""
    wf = _word_rel(df, text_col, max_word_len)
    vocab = _unigram_train_wf(wf, rounds, max_piece_len, min_count,
                              max_word_len)
    seg = _viterbi_words(wf, vocab, max_piece_len)
    return seg.select("word", "freq",
                      F.col("np").cast("bigint").alias("n_pieces"),
                      F.concat_ws(" ", "path").alias("pieces"))


def unigram_segment(
    df: DataFrame, text_col: str, id_col: str, rounds: int = 2,
    max_piece_len: int = MAX_PIECE_LEN, min_count: int = 2,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Segment every document with the corpus-trained unigram LM
    (train → apply, the full Kudo pipeline): ``(id, n_words,
    n_pieces, segmented)`` — per-word best paths joined in word
    order. Oversized words (> ``max_word_len``) pass through as one
    opaque piece. The corpus pays one tokenize + one (word) join
    against the distinct-word segmentation relation."""
    from db2pq_spark.operators.dedup import doc_tokens

    seg = unigram_segment_words(df, text_col, rounds, max_piece_len,
                                min_count, max_word_len) \
        .select("word", "n_pieces", "pieces")
    toks = doc_tokens(df, text_col, id_col).select(
        "id", F.posexplode("_toks").alias("pos", "word"))
    joined = toks.join(seg, "word", "left").select(
        "id", "pos",
        F.coalesce("pieces", F.col("word")).alias("pieces"),
        F.coalesce("n_pieces", F.lit(1)).alias("np"))
    return (joined.groupBy("id")
            .agg(F.count("*").alias("n_words"),
                 F.sum("np").alias("n_pieces"),
                 F.concat_ws(" ", F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("pos", "pieces"))),
                     lambda s: s["pieces"])).alias("segmented"))
            .select("id", F.col("n_words").cast("bigint").alias("n_words"),
                    F.col("n_pieces").cast("bigint").alias("n_pieces"),
                    "segmented"))


# ---------------------------------------------------------------- SQL
# DuckDB oracle generators — replay seed, EM rounds and Viterbi DP
# closed-form (CTE-per-round like q120's BPE; the DP is an unrolled
# position chain, one CTE per prefix length).

def unigram_seed_sql(wf: str, max_piece_len: int = MAX_PIECE_LEN,
                     min_count: int = 2,
                     max_word_len: int = MAX_WORD_LEN) -> str:
    """Seed CTE body over a ``(word, freq)`` relation named ``wf``."""
    return f"""
      SELECT piece, SUM(freq) AS cnt FROM (
        SELECT freq,
               substr(word, i.i, n.n) AS piece
        FROM {wf},
             LATERAL (SELECT unnest(generate_series(1, len(word)))
                      AS i) i,
             LATERAL (SELECT unnest(generate_series(1,
                      LEAST({max_piece_len}, len(word) - i.i + 1)))
                      AS n) n
        WHERE len(word) <= {max_word_len}
      ) GROUP BY piece
      HAVING len(piece) = 1 OR SUM(freq) >= {min_count}"""


def _scores_sql(vocab: str) -> str:
    return f"""(
      SELECT piece,
             CAST(CAST(round(-log2(CAST(cnt AS DOUBLE)
                             / (SELECT CAST(SUM(cnt) AS DOUBLE)
                                FROM {vocab})), 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS s_bits
      FROM {vocab} WHERE cnt > 0)"""


def _floor_sql(vocab: str) -> str:
    return f"""(
      SELECT CAST(CAST(round(log2(CAST(SUM(cnt) AS DOUBLE) + 1e0), 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS floor_bits
      FROM {vocab})"""


def unigram_viterbi_sql(tag: str, words: str, vocab: str,
                        max_piece_len: int = MAX_PIECE_LEN,
                        max_word_len: int = MAX_WORD_LEN,
                        scores_sql: str | None = None,
                        floor_sql: str | None = None,
                        exclude_full: bool = False) -> str:
    """CTE chain ``{tag}_cand, {tag}_b0..{tag}_b{W}, {tag}_seg``:
    Viterbi-segment the ``(word, freq)`` relation ``words`` against
    the ``(piece, cnt)`` relation ``vocab``. ``{tag}_seg`` has
    ``(word, freq, np, path)`` — the unrolled-DP replay of the Arrow
    kernel, one CTE per prefix length, arg-min per (word, prefix) by
    (score, piece count, path string). ``scores_sql``/``floor_sql``/
    ``exclude_full`` mirror the same knobs on
    :func:`_viterbi_words` (the soft-EM prune's alternative
    segmentation)."""
    W = max_word_len
    sc = _scores_sql(vocab) if scores_sql is None else scores_sql
    fl = _floor_sql(vocab) if floor_sql is None else floor_sql
    excl = "AND c.plen < len(c.word)" if exclude_full else ""
    ctes = [f"""
    {tag}_cand AS MATERIALIZED (
      SELECT c.word, c.freq, c.endpos, c.plen, c.piece,
             COALESCE(v.s_bits,
                      CASE WHEN c.plen = 1 THEN f.floor_bits END)
               AS s_bits
      FROM (
        SELECT word, freq, i.i + n.n - 1 AS endpos, n.n AS plen,
               substr(word, i.i, n.n) AS piece
        FROM {words},
             LATERAL (SELECT unnest(generate_series(1, len(word)))
                      AS i) i,
             LATERAL (SELECT unnest(generate_series(1,
                      LEAST({max_piece_len}, len(word) - i.i + 1)))
                      AS n) n
      ) c
      LEFT JOIN {sc} v USING (piece)
      CROSS JOIN {fl} f
      WHERE COALESCE(v.s_bits,
                     CASE WHEN c.plen = 1 THEN f.floor_bits END)
            IS NOT NULL {excl}
    ),
    {tag}_b0 AS MATERIALIZED (
      SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS score,
             0 AS np, '' AS path
      FROM {words}
    )"""]
    for j in range(1, W + 1):
        prevs = " UNION ALL ".join(
            f"SELECT * FROM {tag}_b{j - k}"
            for k in range(1, min(max_piece_len, j) + 1))
        ctes.append(f"""
    {tag}_b{j} AS MATERIALIZED (
      SELECT word, freq, pos, score, np, path FROM (
        SELECT b.word, b.freq, {j} AS pos,
               b.score + c.s_bits AS score, b.np + 1 AS np,
               CASE WHEN b.path = '' THEN c.piece
                    ELSE b.path || ' ' || c.piece END AS path,
               ROW_NUMBER() OVER (
                 PARTITION BY b.word
                 ORDER BY b.score + c.s_bits, b.np + 1,
                          CASE WHEN b.path = '' THEN c.piece
                               ELSE b.path || ' ' || c.piece END
               ) AS rn
        FROM ({prevs}) b
        JOIN {tag}_cand c
          ON c.word = b.word AND c.endpos = {j}
         AND c.plen = {j} - b.pos
      ) WHERE rn = 1
    )""")
    finals = " UNION ALL ".join(
        f"SELECT * FROM {tag}_b{j} WHERE len(word) = {j}"
        for j in range(1, W + 1))
    ctes.append(f"""
    {tag}_seg AS MATERIALIZED (
      SELECT word, freq, np, path, score FROM ({finals})
    )""")
    return ",".join(ctes)


def unigram_round_sql(tag: str, words: str, vin: str, vout: str,
                      max_piece_len: int = MAX_PIECE_LEN,
                      max_word_len: int = MAX_WORD_LEN) -> str:
    """One hard-EM round: Viterbi against ``vin`` → usage counts →
    ``vout`` (chars kept at 0, zero-usage multi-char pieces pruned)."""
    vit = unigram_viterbi_sql(tag, words, vin, max_piece_len,
                              max_word_len)
    return f"""{vit},
    {tag}_usage AS MATERIALIZED (
      SELECT piece, SUM(freq) AS cnt FROM (
        SELECT freq, unnest(string_split(path, ' ')) AS piece
        FROM {tag}_seg
      ) GROUP BY piece
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
    )"""


def unigram_vocab_state(
    df: DataFrame, text_col: str, rounds: int = 2,
    max_piece_len: int = MAX_PIECE_LEN, min_count: int = 2,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Train-once half of tokenizer deployment: the trained vocabulary
    ``(piece, cnt, _ug_conf)`` with the TRAINING CONFIGURATION stamped
    (``"l{max_piece_len}/w{max_word_len}"``) — as a column value
    (authoritative) and as parquet-round-trip-safe column metadata
    (plan-time fast path). Persist it as parquet; feed it to
    :func:`unigram_segment_batch` each crawl increment.

    Why the stamp matters here: segmentation enumerates candidate
    substrings up to the PROBE's ``max_piece_len`` — probing a
    vocabulary trained with longer pieces silently misses every piece
    beyond the probe bound and mis-segments everything, with no error
    (the exact silent-wrong-answer class the ``_kn_keys``/``_ed_conf``
    stamps refuse)."""
    conf = f"l{max_piece_len}/w{max_word_len}"
    return unigram_train(df, text_col, rounds, max_piece_len,
                         min_count, max_word_len) \
        .select("piece", "cnt", F.lit(conf).alias(
            "_ug_conf", metadata={"ug_conf": conf}))


def unigram_segment_batch(
    batch: DataFrame, vocab: DataFrame, text_col: str, id_col: str,
    max_piece_len: int = MAX_PIECE_LEN,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Segment a NEW batch of documents against a persisted
    :func:`unigram_vocab_state` — ``(id, n_words, n_pieces,
    segmented)``, the tokenizer-deployment twin of
    :func:`..textstats.kn_score_documents` (train once, tokenize every
    increment with the FIXED vocabulary; a SentencePiece model file
    re-expressed as a relation).

    Scale: the vocabulary never shuffles — the batch pays one
    tokenize, the distinct-word Viterbi (substring explode + vocab
    join + Arrow DP), and one word-keyed join back; out-of-vocabulary
    characters score the floor, oversized words pass through as one
    opaque piece (same ladder as :func:`unigram_segment`).

    Validation is job-free: the ``_ug_conf`` column metadata is
    checked at plan time; the authoritative per-row guard is folded
    into the count column the scoring plan reads anyway."""
    from db2pq_spark.operators.dedup import doc_tokens

    conf = f"l{max_piece_len}/w{max_word_len}"
    if "_ug_conf" not in vocab.columns:
        raise ValueError(
            "vocab carries no _ug_conf stamp — a vocabulary trained "
            "under a different piece/word bound silently mis-segments "
            "every document. Build the state via unigram_vocab_state()")
    meta = vocab.schema["_ug_conf"].metadata or {}
    stamped = meta.get("ug_conf")
    if stamped is not None and stamped != conf:
        raise ValueError(f"vocab was trained with config {stamped!r} "
                         f"but the probe asked for {conf!r}")
    guarded = vocab.select(
        "piece",
        F.when(F.col("_ug_conf") == conf, F.col("cnt"))
         .otherwise(F.raise_error(F.concat(
             F.lit("unigram_segment_batch: vocab row trained under "),
             F.col("_ug_conf"),
             F.lit(f" but the probe asked for {conf!r} — rebuild the "
                   "state or pass matching max_piece_len/max_word_len"))))
         .alias("cnt"))
    toks = doc_tokens(batch, text_col, id_col).select(
        "id", F.posexplode("_toks").alias("pos", "word"))
    words = (toks.where(F.length("word") <= max_word_len)
             .select("word").distinct()
             .select("word", F.lit(1).alias("freq")))
    seg = _viterbi_words(words, guarded, max_piece_len).select(
        "word", F.col("np").cast("bigint").alias("n_pieces"),
        F.concat_ws(" ", "path").alias("pieces"))
    joined = toks.join(seg, "word", "left").select(
        "id", "pos",
        F.coalesce("pieces", F.col("word")).alias("pieces"),
        F.coalesce("n_pieces", F.lit(1)).alias("np"))
    return (joined.groupBy("id")
            .agg(F.count("*").alias("n_words"),
                 F.sum("np").alias("n_pieces"),
                 F.concat_ws(" ", F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("pos", "pieces"))),
                     lambda s: s["pieces"])).alias("segmented"))
            .select("id",
                    F.col("n_words").cast("bigint").alias("n_words"),
                    F.col("n_pieces").cast("bigint").alias("n_pieces"),
                    "segmented"))
