"""WordPiece-style greedy longest-match segmentation.

[extension — not in the reference] The third tokenizer family next to
BPE (``operators/bpe.py``) and the unigram LM (``operators/unigram.py``):
BERT's WordPiece INFERENCE algorithm (Devlin et al. arXiv:1810.04805;
the MaxMatch / greedy longest-prefix-first procedure as published in
the BERT tokenizer) — at each position consume the LONGEST vocabulary
piece that matches, and if any position matches nothing (or the word
exceeds the length bound, BERT's ``max_input_chars_per_word``) the
WHOLE word degrades to a single ``[UNK]`` token. Deterministic by
construction: greedy choice is unique (one piece per (word, pos, len)),
no scores involved — which also makes the DuckDB oracle a plain
unrolled forward chain (one CTE per step, MATERIALIZED like the
unigram DP).

Unlike the unigram segmenter there is NO character floor: WordPiece's
contract is strict vocabulary membership with ``[UNK]`` fallback, which
is exactly what makes it the right inference pair for a FIXED deployed
vocabulary (the q145 ``unigram_vocab_state`` relation or any
``(piece, ...)`` table).

Scale shape — identical to the unigram E-step: segmentation runs on
the DISTINCT-WORD relation (one corpus tokenize); candidates are an
in-row substring explode joined to the vocabulary (broadcast when it
fits); the greedy walk is an Arrow kernel over grouped candidate
lists, O(len) per word; documents pay one word-keyed join back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.unigram import MAX_PIECE_LEN, MAX_WORD_LEN

__all__ = ["wordpiece_segment_words", "wordpiece_segment",
           "wordpiece_greedy_sql"]

UNK = "[UNK]"


def wordpiece_segment_words(
    words: DataFrame, vocab: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Greedy-segment each distinct ``(word, freq)`` against a
    ``(piece, ...)`` vocabulary: ``(word, freq, n_pieces, pieces)``
    with ``pieces`` the space-joined match sequence, or ``[UNK]``
    (n_pieces 1) when a position matches nothing or the word exceeds
    ``max_word_len``."""
    import pandas as pd

    from db2pq_spark.functions.arrow import run_grouped_map

    bounded = words.where(F.length("word") <= max_word_len)
    oversized = words.where(F.length("word") > max_word_len).select(
        "word", "freq", F.lit(1).cast("bigint").alias("n_pieces"),
        F.lit(UNK).alias("pieces"))
    # (r13) shuffle-free kernel feed (the lattice-kernel discipline,
    # functions/arrow.py:run_grouped_map): the candidate rows are
    # emitted by ONE in-row explode and reach the kernel through only
    # a broadcast LEFT join — already contiguous per word, so the
    # former groupBy(word).collect_list exchange regrouped an
    # adjacency the stream already had, and the former [UNK] re-attach
    # left join is gone too: EVERY candidate row survives with a
    # match flag (the semi-join dropped non-vocab rows, losing
    # zero-match words), so every bounded word reaches the kernel and
    # the per-word candidate count is a pure function of len(word) —
    # the run-completeness invariant the contract asks for.
    cand = bounded.select(
        "word", "freq",
        F.explode(F.flatten(F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.transform(
                F.sequence(F.lit(0),
                           F.least(F.lit(max_piece_len),
                                   F.length("word") - i + 1) - 1),
                lambda n: F.struct(
                    i.alias("startpos"),
                    (n + 1).alias("plen"),
                    F.col("word").substr(i, n + 1).alias("piece"))),
        ))).alias("c"))
    flagged = (cand.join(
        vocab.select("piece").distinct().hint("broadcast"),
        cand["c.piece"] == F.col("piece"), "left")
        .select("word", "freq", F.col("c.startpos").alias("startpos"),
                F.col("c.plen").alias("plen"),
                F.col("piece").isNotNull().alias("m")))
    mpl = int(max_piece_len)

    def greedy_runs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

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
        # completeness: a length-n word emits exactly
        # Σ_{i=1..n} min(mpl, n-i+1) candidate rows — refuse split runs
        # n·mpl full-width positions minus the triangular shortfall of
        # the last mpl-1 positions: Σ_{i=1..n} min(mpl, n-i+1)
        k = np.minimum(lens, mpl)
        expected = lens * k - k * (k - 1) // 2
        if not np.array_equal(counts, expected):
            raise RuntimeError(
                "wordpiece_segment_words: incomplete word run reached"
                " the kernel — per-word candidate contiguity was"
                " broken upstream (a planner change inserted an"
                " exchange between the candidate explode and the"
                " kernel; see tests/test_plan_hygiene.py::"
                "TestRunGroupedMapContiguity — restore the broadcast"
                " feed or fall back to a groupBy(word) re-group)")
        widx = np.repeat(np.arange(nw), counts)
        s_arr = pdf["startpos"].to_numpy().astype(np.int64, copy=False)
        pl_arr = pdf["plen"].to_numpy().astype(np.int64, copy=False)
        m_arr = pdf["m"].to_numpy().astype(bool, copy=False)
        lmax = int(lens.max())
        # longest matched piece per (word, startpos)
        best = np.zeros((nw, lmax + 2), dtype=np.int64)
        if m_arr.any():
            np.maximum.at(best, (widx[m_arr], s_arr[m_arr]),
                          pl_arr[m_arr])
        freq_arr = pdf["freq"].to_numpy()[starts]
        n_pieces = np.empty(nw, dtype=np.int64)
        pieces_out = np.empty(nw, dtype=object)
        for w in range(nw):
            word = run_words[w]
            n = int(lens[w])
            row = best[w]
            pos, pieces = 1, []
            while pos <= n:
                plen = int(row[pos])
                if plen == 0:
                    pieces = None  # unmatchable position -> [UNK]
                    break
                pieces.append(word[pos - 1:pos - 1 + plen])
                pos += plen
            if pieces is None:
                n_pieces[w], pieces_out[w] = 1, UNK
            else:
                n_pieces[w] = len(pieces)
                pieces_out[w] = " ".join(pieces)
        return pd.DataFrame({
            "word": run_words,
            "freq": freq_arr.astype(np.int64),
            "n_pieces": n_pieces,
            "pieces": pieces_out,
        })

    seg = run_grouped_map(
        flagged, "word",
        "word string, freq bigint, n_pieces bigint, pieces string",
        greedy_runs)
    return seg.unionByName(oversized)


def wordpiece_segment(
    df: DataFrame, text_col: str, id_col: str, vocab: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Segment every document with greedy WordPiece against a fixed
    vocabulary: ``(id, n_words, n_unk, n_pieces, segmented)`` — the
    BERT-inference twin of :func:`..unigram.unigram_segment_batch`
    (same one-tokenize / one-word-keyed-join corpus cost; ``n_unk``
    counts the words that degraded, the standard tokenizer-coverage
    health metric)."""
    from db2pq_spark.operators.dedup import doc_tokens

    toks = doc_tokens(df, text_col, id_col).select(
        "id", F.posexplode("_toks").alias("pos", "word"))
    words = toks.select("word").distinct() \
        .select("word", F.lit(1).alias("freq"))
    seg = wordpiece_segment_words(words, vocab, max_piece_len,
                                  max_word_len) \
        .select("word", "n_pieces", "pieces")
    joined = toks.join(seg, "word", "left").select(
        "id", "pos",
        F.coalesce("pieces", F.lit(UNK)).alias("pieces"),
        F.coalesce("n_pieces", F.lit(1)).alias("np"))
    return (joined.groupBy("id")
            .agg(F.count("*").alias("n_words"),
                 F.count(F.when(F.col("pieces") == UNK, 1))
                  .alias("n_unk"),
                 F.sum("np").alias("n_pieces"),
                 F.concat_ws(" ", F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("pos", "pieces"))),
                     lambda s: s["pieces"])).alias("segmented"))
            .select("id",
                    F.col("n_words").cast("bigint").alias("n_words"),
                    F.col("n_unk").cast("bigint").alias("n_unk"),
                    F.col("n_pieces").cast("bigint").alias("n_pieces"),
                    "segmented"))


def wordpiece_greedy_sql(tag: str, words: str, vocab: str,
                         max_piece_len: int = MAX_PIECE_LEN,
                         max_word_len: int = MAX_WORD_LEN) -> str:
    """DuckDB oracle: CTE chain ``{tag}_cand, {tag}_g0..{tag}_g{W},
    {tag}_seg`` replaying the greedy walk closed-form — each step
    advances every unfinished word by its longest match at the
    current position (or marks it stuck); after ``max_word_len``
    steps every bounded word is finished (each step advances ≥ 1
    char). ``{tag}_seg`` has ``(word, np, path)`` with stuck AND
    oversized words as ``[UNK]``/np 1."""
    W = max_word_len
    ctes = [f"""
    {tag}_cand AS MATERIALIZED (
      SELECT c.word, c.startpos,
             MAX(c.plen) AS plen
      FROM (
        SELECT word, i.i AS startpos, n.n AS plen,
               substr(word, i.i, n.n) AS piece
        FROM {words},
             LATERAL (SELECT unnest(generate_series(1, len(word)))
                      AS i) i,
             LATERAL (SELECT unnest(generate_series(1,
                      LEAST({max_piece_len}, len(word) - i.i + 1)))
                      AS n) n
        WHERE len(word) <= {W}
      ) c
      SEMI JOIN {vocab} v ON c.piece = v.piece
      GROUP BY c.word, c.startpos
    ),
    {tag}_g0 AS MATERIALIZED (
      SELECT word, 1 AS pos, '' AS path, 0 AS np, FALSE AS stuck
      FROM {words} WHERE len(word) <= {W}
    )"""]
    for k in range(1, W + 1):
        ctes.append(f"""
    {tag}_g{k} AS MATERIALIZED (
      SELECT word, pos, path, np, stuck
      FROM {tag}_g{k - 1} WHERE pos > len(word) OR stuck
      UNION ALL
      SELECT a.word,
             a.pos + COALESCE(c.plen, 0) AS pos,
             CASE WHEN c.plen IS NULL THEN a.path
                  WHEN a.path = '' THEN substr(a.word, a.pos, c.plen)
                  ELSE a.path || ' ' || substr(a.word, a.pos, c.plen)
             END AS path,
             a.np + CASE WHEN c.plen IS NULL THEN 0 ELSE 1 END AS np,
             c.plen IS NULL AS stuck
      FROM {tag}_g{k - 1} a
      LEFT JOIN {tag}_cand c
        ON c.word = a.word AND c.startpos = a.pos
      WHERE a.pos <= len(a.word) AND NOT a.stuck
    )""")
    ctes.append(f"""
    {tag}_seg AS MATERIALIZED (
      SELECT word,
             CASE WHEN stuck THEN 1 ELSE np END AS np,
             CASE WHEN stuck THEN '[UNK]' ELSE path END AS path
      FROM {tag}_g{W}
      UNION ALL
      SELECT word, 1 AS np, '[UNK]' AS path
      FROM {words} WHERE len(word) > {W}
    )""")
    return ",".join(ctes)
