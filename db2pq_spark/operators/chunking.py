"""Document chunking and sequence packing — training-data preparation.

[extension] A pretraining pipeline turns a document corpus into
fixed-size training sequences in two steps this module provides:

1. **Chunking**: split each document into overlapping windows
   (``chunk_documents``) — one row in, N rows out, all JVM-side
   (sequence + posexplode + substring; no UDF, no shuffle).
2. **Packing**: group small pieces into budget-bounded bins so every
   training sequence is near-full. Two strategies:

   - ``pack_offsets`` — assign each piece a bin by its *starting
     offset* in the (per-group) cumulative size: one window cumsum,
     fully parallel, deterministic under any engine. Pieces may
     straddle a bin boundary (the standard scalable relaxation —
     the consumer splits or truncates the straddler).
   - ``pack_next_fit`` — exact next-fit (a piece never straddles;
     open a new bin when the current one can't take it). Sequential
     within a group, so it runs as Arrow-batched ``applyInPandas``
     per group — parallel across groups, exact within.

At 100 TB: chunking is a narrow map (scales linearly); packing
shuffles once on the group key, and bins are local to a group —
choose the group column (language, source, shard) so groups fit an
executor (the same contract as any groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """(id, chunk_idx, chunk_text, chunk_chars_) — overlapping windows.

    Window *i* covers characters ``[i*stride, i*stride + chunk_chars)``
    with ``stride = chunk_chars - overlap``; the number of windows is
    ``max(1, ceil((length - overlap) / stride))`` so the final window
    always reaches the end of the document. Character-based (substring
    semantics are identical across engines, including non-ASCII).
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    n = F.greatest(
        F.lit(1),
        F.ceil((F.length(text_col) - F.lit(overlap)) / F.lit(stride)),
    ).cast("int")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        F.posexplode(F.sequence(F.lit(0), n - 1)).alias("chunk_idx", "_i"),
    )
    chunk = F.expr(f"substring(_text, _i * {stride} + 1, {chunk_chars})")
    return base.select(
        "id",
        "chunk_idx",
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_chars_"),
    )


def pack_offsets(
    df: DataFrame,
    size_col: str,
    order_col: str | list[str],
    budget: int,
    group_col: str | None = None,
) -> DataFrame:
    """Assign each piece a bin id by cumulative-offset binning.

    ``bin = floor(offset / budget)`` where ``offset`` is the cumulative
    size of all preceding pieces in ``order_col`` order (per group).
    One window cumsum — no sequential state, identical results on any
    engine and any partitioning, PROVIDED ``order_col`` is a total
    order within each group (pass a list ending in a unique key when a
    single column has ties — a tied order makes the cumsum, and hence
    bin boundaries, partition-order-dependent). Pieces may straddle
    bin boundaries.

    With ``group_col`` the cumsum window is partitioned by group
    (parallel). Without it, the global prefix sum goes through the
    two-stage construction in :mod:`db2pq_spark.operators.ranking` —
    no single-partition window at any input size.
    """
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    # explicit floor: engines disagree on double→int cast (truncate vs
    # round-to-nearest), floor() is unambiguous everywhere
    if group_col is not None:
        w = Window.partitionBy(group_col).orderBy(*order)
        offset = F.sum(size_col).over(
            w.rowsBetween(Window.unboundedPreceding, -1))
        return df.withColumn(
            "bin",
            F.floor(F.coalesce(offset, F.lit(0)) / F.lit(budget))
            .cast("bigint"),
        )
    from db2pq_spark.operators.ranking import with_global_prefix_sum

    staged = with_global_prefix_sum(
        df, size_col, [F.asc(c) if isinstance(c, str) else c for c in order],
        out_col="_offset")
    return (staged.withColumn(
        "bin", F.floor(F.col("_offset") / F.lit(budget)).cast("bigint"))
        .drop("_offset"))


def pack_next_fit(
    df: DataFrame,
    size_col: str,
    order_col: str,
    budget: int,
    group_col: str,
) -> DataFrame:
    """Exact next-fit packing per group (no straddling): walk pieces in
    ``order_col`` order, open a new bin whenever the current bin cannot
    fit the next piece. Oversized pieces (> budget) get a bin of their
    own. Sequential per group → ``applyInPandas``; groups run in
    parallel."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", bin bigint"

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_col, kind="mergesort")
        bins, current, used = [], 0, 0
        for size in pdf[size_col]:
            s = int(size)
            if used > 0 and used + s > budget:
                current += 1
                used = 0
            bins.append(current)
            used += s
        return pdf.assign(bin=pd.array(bins, dtype="int64"))

    return df.groupBy(group_col).applyInPandas(fold, out_schema)


def corruption_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block: int = 12,
    span_len: int = 2,
    rate: int = 5,
    salt: str = "t5",
) -> DataFrame:
    """T5/UL2-style span-corruption plan: deterministic, reproducible
    mask spans over each document's token sequence — the denoising-
    objective preprocessing step (Raffel et al., arXiv:1910.10683
    §3.1.4), relationally.

    Each document's positions are cut into ``block``-token blocks; a
    position is a span CANDIDATE when its portable content hash
    (md5 of ``salt || id || '_' || pos`` — the
    :func:`..sampling.hash_bucket` family, so any engine replays it)
    falls in bucket 0 of ``rate``; each block masks at most one span,
    starting at its first candidate and running ``span_len`` tokens,
    clipped at the block edge — blocks make spans non-overlapping BY
    CONSTRUCTION, which is what keeps the plan one-pass (a
    sequential "skip positions inside the previous span" rule would
    serialize per document). Expected mask fraction ≈
    ``(1-(1-1/rate)^block) · span_len / block`` — ~15 % at the
    defaults, the T5 regime.

    Returns ``(id, blk, start_pos, n_masked, masked_text)`` — one row
    per masked span; ``start_pos`` is 0-based in the document's token
    sequence and ``masked_text`` the space-joined masked tokens (the
    sentinel-replacement consumer needs exactly these).

    Scale: one corpus tokenize + posexplode into ONE (id, block)
    aggregate — no window (a first cut sorted the whole exploded
    corpus through a per-block window min: 18.8× at the 100× replica;
    this shape is ~7×). The block-min folds long state map-side; the
    token payload only enters aggregate state for NEAR-CANDIDATE
    rows — positions within ``span_len`` of some candidate in their
    block, a per-row test of ``span_len`` codegen'd hashes that any
    true span member satisfies (the block's first candidate is a
    candidate) — so the shuffle carries ~``span_len/rate`` of the
    corpus tokens instead of all of them, and the exact
    in-``[start, start+clip)`` cut happens after the aggregate on a
    ≤ a-few-element list. No self-join, no second corpus scan,
    nothing driver-side."""
    from db2pq_spark.operators.sampling import hash_bucket

    if block < 1 or span_len < 1 or span_len > block or rate < 2:
        raise ValueError(
            f"need block >= 1, 1 <= span_len <= block, rate >= 2 "
            f"(got block={block}, span_len={span_len}, rate={rate})")
    # tokenize behind a 1:1 Generate barrier (dedup._stage_col
    # pattern): the spans explode's implied size(...)>0 pruning filter
    # would otherwise push INTO the scan and re-run the split regex
    # twice more per row in DataFilters (the q96 pathology)
    from db2pq_spark.operators.dedup import _stage_col, tokens_sql

    toked = _stage_col(df.select(F.col(id_col).alias("id"),
                                 F.col(text_col).alias("_txt")),
                       ["id"], tokens_sql("_txt"), "_toks")

    def cand(p):
        return hash_bucket(F.concat_ws("_", F.col("id"), p),
                           n_buckets=int(rate), salt=salt) == 0

    # The whole span computation happens IN-ROW on the token array —
    # no posexplode, no shuffle, no aggregate state: per block, the
    # first candidate position (a filter over the ≤``block``-element
    # position range) and the ``span_len``-clipped slice of the token
    # array. An earlier shape exploded every token and shuffled the
    # near-candidate rows into an (id, block) collect_list aggregate:
    # 2 md5 evaluations per token plus a corpus-wide exchange, ~15× at
    # the 100× replica vs ~6× for this one-pass narrow plan (1 md5 per
    # token, interpreted HOF but zero data movement — the only Generate
    # is over the ~n/(block·rate)-element span array). Blocks make
    # spans non-overlapping by construction, so nothing downstream
    # needs cross-span state.
    n = F.size("_toks")
    blks = F.when(n > 0, F.sequence(
        F.lit(0).cast("bigint"),
        ((n - 1) / F.lit(int(block))).cast("bigint")))
    span_of = lambda b: F.struct(  # noqa: E731
        b.alias("blk"),
        F.try_element_at(
            F.filter(F.sequence(b * F.lit(int(block)),
                                F.least((b + 1) * F.lit(int(block)),
                                        n.cast("bigint")) - 1),
                     cand), F.lit(1)).alias("start"))
    spans = toked.select(
        "id", "_toks",
        F.explode(F.filter(F.transform(blks, span_of),
                           lambda s: s["start"].isNotNull()))
        .alias("_span"))
    start = F.col("_span.start")
    clip = F.least(
        F.lit(int(span_len)),
        (F.col("_span.blk") + 1) * F.lit(int(block)) - start)
    # slice is 1-based and self-truncates at the document end, exactly
    # the "span clipped at the block edge AND the last token" contract
    masked = F.slice("_toks", (start + 1).cast("int"), clip.cast("int"))
    return spans.select(
        "id", F.col("_span.blk").cast("bigint").alias("blk"),
        start.cast("bigint").alias("start_pos"),
        F.size(masked).cast("bigint").alias("n_masked"),
        F.array_join(masked, " ").alias("masked_text"))
