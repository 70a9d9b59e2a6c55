"""Skew- and parallelism-shaping utilities.

At 100 TB a handful of hot keys (a viral document, a default user id, a
NULL-substitute sentinel) can put an entire sort-merge join on one
reducer. Two remedies, composable:

- AQE skew splitting is on by default in :func:`db2pq_spark.session.
  get_spark` (``spark.sql.adaptive.skewJoin.enabled``) — handles skew it
  can *see* at shuffle time.
- :func:`salted_join` handles skew structurally: replicate the small
  side ``salt`` times and scatter the big side's hot keys across salt
  buckets, turning one monster partition into ``salt`` average ones.
  Use when a key's row count is orders of magnitude above the median
  and AQE's in-flight splitting isn't enough (e.g. the skewed side
  also aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def ensure_parallelism(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Round-robin repartition an under-partitioned input up to the
    session's default parallelism before a compute-heavy narrow stage.

    The expensive per-document kernels (MinHash signatures, SimHash
    votes, LSH plane products) inherit the SCAN's partitioning — a
    single small parquet file (or one row group) plans as ONE partition,
    so on a 32-core executor the whole kernel runs on one core. At real
    scale every scan has far more partitions than cores and this is a
    no-op; when it does fire, the input is by construction small (few
    scan splits ⇒ few bytes), so the one round-robin shuffle is
    trivially cheap next to the kernel it parallelizes.

    Only an exchange-free plan (plain scans and narrow ops) is spread,
    and only when its real partition count — probed via ``.rdd``,
    which builds the RDD without running anything — is below the
    target. A plan with any exchange is returned as-is: behind a
    shuffle it already has ``spark.sql.shuffle.partitions``
    partitions, and behind a broadcast join ``.rdd`` would materialize
    the broadcast stage as a real job under AQE. Leaving a small
    broadcast-joined input on its scan partitions is deliberate: each
    Python-worker task pays a ~230 ms fixed start-up cost (SCALE.md,
    "Fixed costs worth knowing"), so spreading a 400-document shard
    made its MinHash kernel slower, not faster."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``on`` with salt-scattered keys.

    big rows get a random-ish (hash-derived, deterministic) salt in
    [0, salt); small rows are replicated once per salt value; the join
    key becomes (on, salt). For the supported join types the results
    are identical to the plain join — only the partitioning changes.
    Cost: small side × salt (keep it the genuinely small side).

    Only joins that never emit unmatched *small*-side rows are allowed
    (inner/left/semi/anti): right/full joins would surface each
    replicated small row ``salt`` times."""
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; {how!r} would "
            "duplicate unmatched small-side rows once per salt")
    big_salted = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
         .cast("int"),
    )
    small_salted = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = big_salted.join(small_salted, [on, "_salt"], how)
    return out.drop("_salt")
