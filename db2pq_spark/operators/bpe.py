"""Deterministic byte-pair-encoding merge learning.

[extension — not in the reference] Learns BPE merge rules from a corpus
(Sennrich, Haddow & Birch, *Neural Machine Translation of Rare Words
with Subword Units*, ACL 2016) — the vocabulary-construction step of
every modern tokenizer, expressed relationally so a fixed merge count
is bit-replayable cross-engine (the q120 gate oracle replays every
round in DuckDB, same CTE-per-round pattern as q117's k-means).

Scale shape — the classic BPE trick IS the scale design: training
operates on the DISTINCT-WORD frequency table, not the corpus. One
corpus-wide token count (map-side-combined, zipf-bounded like the
unigram-surprisal vocabulary) collapses 100 TB of text to a vocab-sized
relation; each merge round then runs

- an in-row adjacent-pair enumeration over each word's symbol array
  (narrow),
- one tiny (pair, weighted-count) aggregate — pair cardinality is
  bounded by the symbol vocabulary squared in principle and by word
  shapes in practice,
- a 1-row driver collect of the winning pair (bounded fold, the same
  class as the k×dim k-means centroids),
- an in-row merge application (no shuffle — each word rewrites its own
  symbol array).

Determinism contract:

- words: the shared ``doc_tokens``;
- winning pair per round: highest summed word frequency, ties broken
  by the lexicographically smallest "left right" pair string;
- merge application: greedy leftmost non-overlapping, identical in
  both engines. Overlapping occurrences only exist when left == right
  (``sym[i]=a ∧ sym[i+1]=b ∧ sym[i+1]=a ⇒ a=b``), so the greedy
  choice is "every other occurrence within a consecutive run" — the
  in-row fold below implements exactly that, and the oracle's
  window-function construction reproduces it closed-form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.dedup import doc_tokens
from db2pq_spark.staging import stage

__all__ = ["word_freqs", "bpe_train", "bpe_apply_merge"]


def word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq): corpus word frequencies over normalized tokens —
    the only corpus-wide pass BPE training ever makes."""
    from db2pq_spark.operators.skew import ensure_parallelism

    return (
        doc_tokens(ensure_parallelism(df), text_col, None)
        .select(F.explode("_toks").alias("word"))
        .groupBy("word").agg(F.count("*").alias("freq"))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(pair, cnt): frequency-weighted adjacent symbol pairs over the
    word-vocab relation ``(word, freq, sym: array<string>)``. The pair
    key is the space-joined "left right" string (symbols never contain
    spaces — they are concatenations of non-space characters)."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("sym") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("sym", i), F.element_at("sym", i + 1)),
    )
    return (
        vocab.where(F.size("sym") >= 2)
        .select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair").agg(F.sum("freq").alias("cnt"))
    )


def bpe_apply_merge(sym: Column | str, left: str, right: str) -> Column:
    """Apply ONE merge rule to a symbol array, greedy leftmost
    non-overlapping — returns the rewritten array. In-row, no shuffle.

    Two steps: (1) select merge start positions — all occurrences of
    the adjacent pair, thinned to every-other within consecutive runs
    (runs only arise when ``left == right``; the thinning fold runs
    over the tiny occurrence list, not the symbol array); (2) rebuild —
    selected positions emit the merged symbol, positions directly after
    a selected one vanish, the rest pass through."""
    s = F.col(sym) if isinstance(sym, str) else sym
    occ = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size(s) - 1, F.lit(1))),
        lambda i: (F.size(s) >= 2) & (i <= F.size(s) - 1)
        & (F.element_at(s, i) == F.lit(left))
        & (F.element_at(s, i + 1) == F.lit(right)),
    )
    # greedy thinning: drop an occurrence whose predecessor position
    # was itself selected (only possible in a==b runs)
    sel = F.aggregate(
        occ,
        F.array().cast("array<int>"),
        lambda acc, i: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == i - 1),
            acc).otherwise(F.array_append(acc, i)),
    )
    merged = F.lit(left + right)
    rebuilt = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(s)),
            lambda i: F.when(F.array_contains(sel, i), merged)
                       .when(F.array_contains(sel, i - 1),
                             F.lit(None).cast("string"))
                       .otherwise(F.element_at(s, i)),
        ),
        lambda x: x.isNotNull(),
    )
    return F.when(F.size(sel) > 0, rebuilt).otherwise(s)


def bpe_train(
    df: DataFrame, text_col: str, merges: int = 3,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``merges`` BPE merge rules; returns ``(rules, vocab)``
    where ``rules`` is ``[(round, left, right, weighted_count), ...]``
    (driver-side — ``merges`` rows, a bounded fold) and ``vocab`` is
    the final segmented word-frequency relation
    ``(word, freq, sym: array<string>)``.

    Each round the word-vocab relation is staged (eagerly):
    the per-round plan would otherwise nest ``merges`` deep (the same
    lineage-explosion guard as connected components), and every round's
    pair aggregate re-reads the pinned relation instead of replaying
    all previous rewrites."""
    vocab = word_freqs(df, text_col).select(
        "word", "freq", F.split("word", "").alias("sym"))
    vocab = stage(vocab, eager=True)

    rules: list[tuple[int, str, str, int]] = []
    for r in range(1, merges + 1):
        top = (_pair_counts(vocab)
               .orderBy(F.col("cnt").desc(), F.col("pair").asc())
               .limit(1).collect())  # bounded: one row
        if not top:
            break
        left, right = top[0]["pair"].split(" ", 1)
        rules.append((r, left, right, int(top[0]["cnt"])))
        vocab = vocab.select(
            "word", "freq",
            bpe_apply_merge("sym", left, right).alias("sym"))
        vocab = stage(vocab, eager=True)
    return rules, vocab


def bpe_segment(
    df: DataFrame, text_col: str, id_col: str, merges: int = 2,
) -> DataFrame:
    """Segment every document with BPE rules learned from the corpus
    itself (train → apply, the full Sennrich et al. pipeline): returns
    per-document ``(id, n_words, n_subwords)`` — the corpus-side
    token-budget statistic a training-data pipeline needs before
    packing (``n_subwords/n_words`` is the compression the learned
    merges achieve on each document).

    Scale shape: training touches the corpus once (:func:`bpe_train`'s
    word-frequency pass); application NEVER re-segments per document —
    each document's tokens hash-join the trained (word → symbol array)
    vocabulary relation (AQE-broadcast when the zipf-bounded vocab
    fits, shuffled-hash otherwise) and aggregate ``size(sym)`` per
    doc. One corpus explode, one doc-keyed shuffle; the per-word
    segmentation is computed once per DISTINCT word, not once per
    occurrence."""
    from db2pq_spark.operators.skew import ensure_parallelism

    _, vocab = bpe_train(df, text_col, merges=merges)
    toks = (doc_tokens(ensure_parallelism(df), text_col, id_col)
            .select("id", F.explode("_toks").alias("word")))
    return (
        toks.join(vocab.select("word", F.size("sym").alias("_ns")),
                  "word")
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("n_words"),
             F.sum("_ns").cast("bigint").alias("n_subwords"))
    )
