"""Distributed global ranking — the scale-safe replacement for a
single-partition window.

[extension — not in the reference] ``row_number() OVER (ORDER BY ...)``
with no PARTITION BY moves the whole relation to one partition
(Spark's ``WindowExec: No Partition Defined`` warning). For
vocabulary-/table-sized inputs that is a real scale ceiling. The
classic two-stage construction here keeps every step partition-parallel:

1. ``repartitionByRange`` on the sort key — rows land in partitions
   whose key ranges are globally ordered (one shuffle, sampled
   boundaries, skew-resistant);
2. rank *within* each partition (window partitioned by the stable
   partition id — parallel);
3. add per-partition offsets (cumulative partition sizes — a
   driver-side fold over ≤ ``spark.sql.shuffle.partitions`` longs,
   folded back in as a literal map).

The result is the exact global rank for any total ordering, with no
single-partition stage.

The staged input is pinned (:func:`..staging.stage`): the range
sampler's boundaries (and therefore the partition ids the
driver-collected offsets are keyed by) depend on the execution's RDD
ids, so a re-execution could land rows in different partitions than
the offsets assume. Staging materializes one specific partitioning
that both the sizes pass and the ranked output read — re-sampling is
structurally impossible and concurrent calls share nothing; on
executor loss the truncated lineage fails the job loudly instead of
silently recomputing into different partitions. The stage is lazy
since r14 — the sizes/offsets collect materializes it inside its own
job (see ``_stage``), one driver barrier fewer per call.

Small inputs: when the caller can bound the row count (``bounded=``),
a constant-key single-partition window is exact and skips the shuffle +
checkpoint +
offsets machinery entirely — the right plan for a capped vocabulary,
wrong for anything data-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from db2pq_spark.staging import stage

#: ``bounded`` values at or below this take the one-partition fast path —
#: a single partition of ≤100k skinny rows is cheaper than a range
#: shuffle + checkpoint + offset fold, and exact either way.
SMALL_INPUT_ROWS = 100_000


def _stage(df: DataFrame, order_by: list[Column]) -> DataFrame:
    """Range-partition on the sort key, attach the partition id, and pin
    the result (see module docstring for why pinning is load-bearing).

    r14 (VERDICT r13 item 6 — merge driver barriers): the stage is
    LAZY. Every caller's next step is a driver-collected fold over the
    staged relation (the sizes/offsets pass), and that collect
    materializes the blocks as a side effect of its own job — one job
    instead of an eager-stage job followed by the collect. The pinning
    guarantee rests on that ordering: blocks persist from the first
    (and only) computation, so the ranked output reads the exact
    partitioning the offsets were keyed by. A caller whose first
    action is anything but that sequenced collect (e.g. a broadcast
    build) reopens the re-sampling hazard."""
    return stage(df.repartitionByRange(*order_by)
                 .withColumn("_pid", F.spark_partition_id()))


def global_rank_with_total(
    df: DataFrame, order_by: list[Column], rank_col: str = "rank",
    bounded: int | None = None,
) -> tuple[DataFrame, int]:
    """Attach the exact 1-based global ``row_number`` under
    ``order_by`` (which must be a TOTAL order — untied ranks are the
    caller's contract) and return ``(ranked_df, total_rows)``.

    The total comes free from the offsets pass — callers needing it
    (e.g. NTILE arithmetic) avoid a second count job.

    ``bounded``: an upper bound on the input's row count, when the
    caller knows one (e.g. a ``limit(k)`` upstream). Small bounded
    inputs rank in a single coalesced partition instead of paying the
    two-stage machinery.
    """
    if bounded is not None and bounded <= SMALL_INPUT_ROWS:
        # no driver-collected offsets here, so no pinning needed: a
        # recompute of the single-partition window is deterministic.
        # The count doubles as the bounded-contract check — a caller
        # passing a bound the data exceeds would silently get a
        # data-sized single-partition window otherwise.
        total = df.count()
        if total > bounded:
            raise ValueError(
                f"bounded={bounded} but the input has {total} rows — "
                "the single-partition fast path is only safe for "
                "genuinely bounded inputs; drop `bounded` to use the "
                "distributed two-stage rank")
        one = df.coalesce(1).withColumn(
            rank_col, F.row_number().over(W.orderBy(*order_by))
            .cast("bigint"))
        return one, total
    staged = _stage(df, order_by)
    sizes = sorted(
        (r["_pid"], r["n"])
        for r in staged.groupBy("_pid").agg(F.count("*").alias("n"))
                       .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, n in sizes:
        offsets[pid] = acc
        acc += n
    w = W.partitionBy("_pid").orderBy(*order_by)
    local_rank = F.row_number().over(w)
    if len(offsets) > 256:
        # thousands of shuffle partitions → a literal map would bloat
        # the analyzed plan (driver-side cost, see q38 postmortem in
        # operators/similarity.py); fold offsets in via a broadcast
        # hash join on _pid instead — narrow, no extra shuffle
        off_df = df.sparkSession.createDataFrame(
            list(offsets.items()), "_pid int, _off long")
        ranked = (
            staged.withColumn("_lr", local_rank)
            .join(F.broadcast(off_df), "_pid")
            .withColumn(rank_col,
                        (F.col("_off") + F.col("_lr")).cast("bigint"))
            .drop("_pid", "_off", "_lr")
        )
        return ranked, acc
    if offsets:
        off_map = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv])
        offset_expr = off_map[F.col("_pid")].cast("bigint")
    else:  # empty input
        offset_expr = F.lit(0).cast("bigint")
    ranked = (
        staged.withColumn(
            rank_col, (offset_expr + local_rank).cast("bigint"))
        .drop("_pid")
    )
    return ranked, acc


def with_global_rank(df: DataFrame, order_by: list[Column],
                     rank_col: str = "rank",
                     bounded: int | None = None) -> DataFrame:
    """:func:`global_rank_with_total`, discarding the total (and, on
    the bounded fast path, skipping its count job)."""
    if bounded is not None and bounded <= SMALL_INPUT_ROWS:
        return df.coalesce(1).withColumn(
            rank_col, F.row_number().over(W.orderBy(*order_by))
            .cast("bigint"))
    ranked, _ = global_rank_with_total(df, order_by, rank_col)
    return ranked


def with_global_prefix_sum(
    df: DataFrame, size_col: str, order_by: list[Column],
    out_col: str = "offset",
    bounded: int | None = None,
) -> DataFrame:
    """Exclusive global prefix sum of ``size_col`` under ``order_by``
    (a total order), with the same two-stage shape as
    :func:`global_rank_with_total`: per-partition window cumsum plus a
    driver-folded map of preceding-partition totals. No
    single-partition stage (unless ``bounded`` permits the one-partition
    fast path).

    The sum keeps the input column's numeric type (long sizes → exact
    long offsets; double sizes → double offsets) — no silent integer
    truncation, matching the grouped-window path in ``pack_offsets``."""
    if bounded is not None and bounded <= SMALL_INPUT_ROWS:
        w1 = (W.orderBy(*order_by)
              .rowsBetween(W.unboundedPreceding, -1))
        return df.coalesce(1).withColumn(
            out_col, F.coalesce(F.sum(F.col(size_col)).over(w1), F.lit(0)))
    staged = _stage(df, order_by)
    sizes = sorted(
        (r["_pid"], r["s"])
        for r in staged.groupBy("_pid")
                       .agg(F.sum(F.col(size_col)).alias("s"))
                       .collect()
    )
    offsets: dict[int, float] = {}
    acc = 0
    for pid, s in sizes:
        offsets[pid] = acc
        acc += s or 0
    w = (W.partitionBy("_pid").orderBy(*order_by)
         .rowsBetween(W.unboundedPreceding, -1))
    local = F.coalesce(F.sum(F.col(size_col)).over(w), F.lit(0))
    if len(offsets) > 256:   # see global_rank_with_total: plan-size guard
        integral = all(isinstance(o, int) for o in offsets.values())
        off_df = df.sparkSession.createDataFrame(
            [(int(p), o if integral else float(o))
             for p, o in offsets.items()],
            f"_pid int, _off {'long' if integral else 'double'}")
        return (staged.withColumn("_local", local)
                .join(F.broadcast(off_df), "_pid")
                .withColumn(out_col, F.col("_off") + F.col("_local"))
                .drop("_pid", "_off", "_local"))
    if offsets:
        off_map = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv])
        offset_expr = off_map[F.col("_pid")]
    else:
        offset_expr = F.lit(0)
    return (staged.withColumn(out_col, offset_expr + local)
            .drop("_pid"))


def ntile_expr(rank: Column, n_rows: int, n_tiles: int) -> Column:
    """SQL ``NTILE(n_tiles)`` as arithmetic on a precomputed global
    rank: the first ``n_rows % n_tiles`` tiles take
    ``ceil(n_rows/n_tiles)`` rows, the rest take the floor — bit-equal
    to the window function, with no single-partition stage."""
    q, rem = divmod(n_rows, n_tiles)
    threshold = rem * (q + 1)
    big = ((rank - 1) / F.lit(q + 1)).cast("bigint") + 1
    # q == 0 → every row sits below threshold; guard the (unreachable)
    # small-tile branch against a fold-time division by zero
    small = (F.lit(rem)
             + ((rank - threshold - 1) / F.lit(max(q, 1))).cast("bigint")
             + 1)
    return F.when(rank <= threshold, big).otherwise(small)
