"""Lexical ranked retrieval (TF-IDF / BM25) over a document table.

[extension — not in the reference] BM25 (Robertson/Spärck Jones) as a
pure DataFrame pipeline — every step JVM-side, no Python in the loop,
and exactly ONE scan+tokenize pass over the corpus:

1. tokenize: ``split(lower(text))`` on a non-alphanumeric regex,
   materialized behind a 1:1 Generate barrier so CollapseProject
   cannot inline the regex into every downstream reference (the
   round-9 plan audit caught the un-barriered shape re-tokenizing in
   the pushed ``size(...)>0``/``isnotnull`` DataFilters too);
2. explode the token array with one NULL sentinel prepended, map
   non-query tokens to a NULL term, and partial-aggregate
   ``(doc_id, dl, term) → count`` — map-side combine collapses every
   partition to ≤ |query|+1 groups per document, so the single
   corpus-wide shuffle carries ~|docs|·(|query|+1) narrow rows
   regardless of document length;
3. derive corpus stats (N, avgdl from the guaranteed sentinel rows),
   tf, AND document frequency from that one compact aggregate — its
   exchange canonicalizes identically in every consumer subtree (the
   whole pipeline is lambda-free, which is what exchange-reuse
   requires), so Catalyst plans one FileScan + one shuffle and
   ``ReusedExchange`` for the rest. The previous shape planned three
   ``FileScan documents`` because the tf exchange key ``(doc_id, dl,
   term)`` can never be reused for the ``(term)``-keyed df aggregate;
4. score and sum per doc (df and corpus stats broadcast — kilobytes
   at any corpus size).

An inverted *index* is deliberately NOT materialized: for batch scoring
Spark's scan+agg over columnar parquet is the right plan; an index only
pays off for online point queries, which is not a Spark-shaped workload.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"


def tokenize(col: str | Column) -> Column:
    """Lowercased alphanumeric tokens, empties removed (narrow map).

    ``array_remove`` (not a higher-order ``filter`` lambda) drops the
    empty strings: the two are semantically identical here (split never
    yields NULL elements), but a lambda anywhere under a ``Generate``
    defeats Spark's exchange-reuse canonicalization — and
    :func:`bm25_scores`' one-shuffle plan depends on its three
    consumers recognizing the staged aggregate's exchange as shared.
    HOF lambdas also evaluate interpreted; ``array_remove`` stays in
    codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), TOKEN_SPLIT), "")


def bm25_scores(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 4,
) -> DataFrame:
    """Score every document containing ≥1 query term against the term
    set; returns ``(doc_id, bm25 double)`` (unscored docs omitted).

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the non-negative
    Robertson form. ``round_digits`` stabilizes the float sum for
    cross-engine comparison. NULL text counts as an empty document
    (dl = 0) toward N and avgdl.

    The compact per-doc term-count relation that stats/tf/df all
    derive from is not staged: every consumer contains the identical
    (lambda-free, so canonicalizable) aggregate subtree and Spark
    plans ONE corpus scan + ONE shuffle with ReusedExchange for the
    rest, recomputing only the cheap final aggregate per consumer.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    from db2pq_spark.operators.dedup import _stage_col

    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.coalesce(tokenize(text_col),
                                  F.array().cast("array<string>"))
                       .alias("_raw"))
    toks = _stage_col(base, ["doc_id"], F.col("_raw"), "terms")
    # one NULL sentinel per document guarantees every doc (even one
    # made entirely of query terms, or empty) emits a NULL-term row —
    # that row carries the doc's existence and dl into the single
    # aggregate, so corpus stats need no second scan
    sentinel = F.array(F.lit(None).cast("string"))
    exploded = toks.select(
        "doc_id", F.size("terms").alias("dl"),
        F.explode(F.concat(sentinel, F.col("terms"))).alias("_tok"))
    grouped = (
        exploded.select(
            "doc_id", "dl",
            F.when(F.col("_tok").isin(query_terms), F.col("_tok"))
            .alias("_gterm"))
        .groupBy("doc_id", "dl", "_gterm")
        .agg(F.count(F.lit(1)).alias("_cnt")))
    # re-emit the term through a 1:1 Generate barrier: the consumers
    # below filter on term IS [NOT] NULL, and a filter on a GROUPING
    # column would otherwise push below the aggregate's exchange —
    # three differently-filtered exchanges, nothing reused. With the
    # barrier the filters stop above the aggregate, every consumer
    # carries the identical exchange subtree, and Catalyst plans one
    # scan + one shuffle + ReusedExchange (verified by the plan test).
    grouped = _stage_col(grouped, ["doc_id", "dl", "_cnt"],
                         F.col("_gterm"), "term")
    # keep _cnt REQUIRED in every consumer subtree: stats and df never
    # read it, so column pruning would otherwise drop the count from
    # their copies of the aggregate — a different partial aggregate is
    # a different exchange, and reuse dies. The predicate is always
    # true (a group's count is ≥ 1 by construction) but not foldable,
    # so each consumer carries the identical counted aggregate.
    grouped = grouped.where(F.col("_cnt") >= 1)

    stats = (grouped.filter(F.col("term").isNull())
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.avg("dl").alias("avgdl")))
    tf = (grouped.filter(F.col("term").isNotNull())
          .select("doc_id", "dl", "term", F.col("_cnt").alias("tf")))
    # (doc_id, term) is unique after the aggregate, so df is a plain
    # count over the staged tf relation — no corpus re-scan, no
    # count_distinct
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))

    j = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("dft") + 0.5)
                / (F.col("dft") + 0.5))
    norm = (F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))))
    return (j.select("doc_id", (idf * norm).alias("s"))
            .groupBy("doc_id")
            .agg(F.round(F.sum("s"), round_digits).alias("bm25")))
