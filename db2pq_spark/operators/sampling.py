"""Deterministic sampling / dataset-split operators.

A 100 TB training pipeline needs *reproducible* splits: the same row must
land in the same split on every run, on any cluster size, and the choice
must be auditable from the key alone (re-runs after adding data must not
reshuffle old rows between train and test). Spark's ``df.sample`` /
``TABLESAMPLE`` are seed-based but partition-order-dependent, so they are
not stable under repartitioning — instead we bucket on a cryptographic
hash of a stable key:

    bucket(key) = int(first-8-hex-chars(md5(key))) % n_buckets

Properties:

- **Narrow**: no shuffle, no sampling state, no driver participation;
  the filter is a plain projection predicate that survives column
  pruning and combines with pushed-down filters.
- **Engine-portable**: md5 is bit-identical everywhere, so DuckDB /
  Trino / PostgreSQL compute the same buckets (the workload oracles
  exercise exactly that).
- **Well-mixed**: md5 avalanches, so sequential keys spread uniformly;
  32 bits of hash keeps the int in BIGINT range in every engine.

The reference has no sampling surface (its LIMIT/`obs` is the only row
subsetter — /root/reference/db2pq/postgres/select_sql.py:153-154); this
module is an [extension] for the LLM-pipeline charter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket",
    "hash_bucket_sql",
    "deterministic_sample",
    "deterministic_shuffle",
    "split_assign",
    "split_assign_sql",
    "stratified_sample",
    "weighted_sample",
    "weighted_score_sql",
]

#: number of buckets used when a fraction is mapped to a bucket range.
#: 1e6 gives ppm-granular fractions while staying far inside 32 bits.
DEFAULT_BUCKETS = 1_000_000


def hash_bucket(key: Column | str, n_buckets: int = DEFAULT_BUCKETS,
                salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets) from ``md5(salt || key)``.

    The salt decorrelates independent sampling decisions made on the same
    key (e.g. a 1% profiling sample independent of the train/test split).
    """
    key_str = F.col(key).cast("string") if isinstance(key, str) \
        else key.cast("string")
    if salt:
        key_str = F.concat(F.lit(salt), key_str)
    h = F.conv(F.substring(F.md5(key_str), 1, 8), 16, 10).cast("bigint")
    return (h % F.lit(n_buckets)).alias("bucket")


def salted_bucket(key: Column, n_buckets: int, salt: str,
                  keys: str) -> Column:
    """``key``'s bucket in [0, n_buckets) under hash family ``keys``:
    ``md5`` is :func:`hash_bucket` (every engine computes it
    identically, so oracles replay it), ``xxhash64`` is
    ``pmod(xxhash64(salt, key), n_buckets)`` (one 64-bit hash, no
    hex-string build)."""
    if keys == "md5":
        return hash_bucket(key, n_buckets, salt=salt)
    if keys == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(salt), key), F.lit(n_buckets))
    raise ValueError(f"unknown keys {keys!r} — 'md5' or 'xxhash64'")


def hash_bucket_sql(key_expr: str, n_buckets: int = DEFAULT_BUCKETS,
                    salt: str = "") -> str:
    """The DuckDB/ANSI twin of :func:`hash_bucket` (used by oracles)."""
    key = f"CAST({key_expr} AS VARCHAR)"
    if salt:
        key = f"'{salt}' || {key}"
    return f"(('0x' || substr(md5({key}), 1, 8))::BIGINT % {n_buckets})"


def deterministic_sample(df: DataFrame, key: str, fraction: float,
                         salt: str = "", n_buckets: int = DEFAULT_BUCKETS
                         ) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen deterministically by key hash.

    Unlike ``df.sample``, re-running (or repartitioning, or growing the
    table) never changes which of the existing rows are kept.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = int(round(fraction * n_buckets))
    return df.where(hash_bucket(key, n_buckets, salt) < threshold)


def deterministic_shuffle(df: DataFrame, key: str, seed: str = "",
                          order_col: str = "shuffle_order") -> DataFrame:
    """Seeded pseudo-random *global* permutation of the corpus — the
    "shuffle the training data" step, reproducible across runs, cluster
    sizes, and engines.

    Each row's position is the global rank of ``md5(seed || key)``
    (tie-broken by the key itself, so the order is total even under
    md5-prefix collisions; NULL keys raise at execution — a nullable
    key cannot define a total order). Different seeds give independent
    permutations; the same seed always yields byte-identical order —
    unlike ``df.orderBy(rand(seed))``, which is partition-layout-
    dependent.

    Scale shape: one narrow hash projection + the two-stage global rank
    (:mod:`db2pq_spark.operators.ranking`) — range shuffle +
    partition-parallel windows, no single-partition stage. Write the
    result hive-partitioned on ``shuffle_order`` ranges (or feed it to
    ``pack_offsets``) to materialize epoch files.
    """
    from db2pq_spark.operators.ranking import with_global_rank

    # A NULL key would null-propagate through concat/md5: every
    # NULL-key row would tie on (__shuf=NULL, key=NULL), the order
    # would no longer be total, and the resulting positions would be
    # partition-dependent — silently breaking the reproducibility
    # contract. Fail loudly instead: a permutation key must identify
    # the row.
    keyed = F.when(
        F.col(key).isNull(),
        F.raise_error(F.lit(
            f"deterministic_shuffle: NULL in key column {key!r} — the "
            "shuffle key must be non-null (it defines the permutation's "
            "total order)")),
    ).otherwise(F.col(key).cast("string"))
    hashed = df.withColumn("__shuf", F.md5(F.concat(F.lit(seed), keyed)))
    ranked = with_global_rank(
        hashed, [F.asc("__shuf"), F.asc(key)], rank_col=order_col)
    return ranked.drop("__shuf")


def _split_thresholds(weights: dict[str, float],
                      n_buckets: int) -> list[tuple[str, int]]:
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("split weights must sum to a positive number")
    acc, out = 0.0, []
    for name, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for split {name!r}")
        acc += w / total
        out.append((name, int(round(acc * n_buckets))))
    out[-1] = (out[-1][0], n_buckets)  # close rounding gaps at the top
    return out


def split_assign(df: DataFrame, key: str, weights: dict[str, float],
                 salt: str = "", n_buckets: int = DEFAULT_BUCKETS,
                 split_col: str = "split") -> DataFrame:
    """Add a ``split`` column ('train'/'val'/'test'/...) by hash range.

    ``weights`` are relative (normalized internally); insertion order of
    the dict fixes the bucket-range order, so the same weights always
    produce the same assignment.
    """
    bucket = hash_bucket(key, n_buckets, salt)
    expr = None
    for name, upper in _split_thresholds(weights, n_buckets):
        cond = bucket < upper
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(split_col, expr)


def split_assign_sql(key_expr: str, weights: dict[str, float],
                     salt: str = "", n_buckets: int = DEFAULT_BUCKETS) -> str:
    """ANSI CASE twin of :func:`split_assign` for the oracles."""
    b = hash_bucket_sql(key_expr, n_buckets, salt)
    arms = " ".join(
        f"WHEN {b} < {upper} THEN '{name}'"
        for name, upper in _split_thresholds(weights, n_buckets))
    return f"CASE {arms} END"


def _weighted_score(key: Column | str, weight: Column, salt: str,
                    n_buckets: int) -> Column:
    u = (hash_bucket(key, n_buckets, salt) + 1).cast("double") \
        / F.lit(float(n_buckets + 1))
    return F.log(u) / weight


def weighted_sample(df: DataFrame, key: str, weight_col: str, n: int,
                    salt: str = "", n_buckets: int = DEFAULT_BUCKETS,
                    ) -> DataFrame:
    """Weighted sampling without replacement, deterministic: top-``n``
    rows by the Efraimidis–Spirakis reservoir key.

    A-Res (`Efraimidis & Spirakis 2006
    <https://doi.org/10.1016/j.ipl.2005.11.003>`_) draws
    ``k = u^(1/w)`` per row and keeps the n largest; we rank by the
    monotone-equivalent ``ln(u)/w`` with ``u`` derived from the md5
    bucket of the key — so the sample is reproducible across runs,
    cluster sizes, and engines (same property as the other samplers
    here), and re-runs over grown data keep previously chosen rows
    unless genuinely displaced.

    Plan shape: a narrow score projection + global top-n
    (``TakeOrderedAndProject`` — per-partition heaps, no full sort).
    Rows with NULL or non-positive weight are excluded.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    w = F.col(weight_col).cast("double")
    score = _weighted_score(key, w, salt, n_buckets)
    return (df.where(w > 0)
            .withColumn("__wscore", score)
            .orderBy(F.desc("__wscore"), F.asc(key))
            .limit(n)
            .drop("__wscore"))


def weighted_score_sql(key_expr: str, weight_expr: str, salt: str = "",
                       n_buckets: int = DEFAULT_BUCKETS) -> str:
    """ANSI twin of the A-Res ranking key (used by oracles)."""
    b = hash_bucket_sql(key_expr, n_buckets, salt)
    return (f"(ln((CAST({b} AS DOUBLE) + 1.0) / {float(n_buckets + 1)!r})"
            f" / CAST({weight_expr} AS DOUBLE))")


def stratified_sample(df: DataFrame, key: str, strata_col: str,
                      fractions: dict[str, float], salt: str = "",
                      n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Deterministic per-stratum sampling (e.g. per-language quotas).

    ``fractions`` maps stratum value → keep fraction; strata absent from
    the map are dropped (fraction 0). Implemented as a single narrow
    CASE-threshold filter — no shuffle, no per-stratum scans, unlike
    ``df.stat.sampleBy`` this is reproducible under repartitioning.
    """
    bucket = hash_bucket(key, n_buckets, salt)
    thr = None
    for stratum, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {stratum!r} not in [0, 1]")
        upper = int(round(frac * n_buckets))
        cond = F.col(strata_col) == stratum
        thr = F.when(cond, upper) if thr is None else thr.when(cond, upper)
    thr = thr.otherwise(F.lit(0))
    return df.where(bucket < thr)
