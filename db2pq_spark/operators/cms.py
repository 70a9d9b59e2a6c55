"""Count-min sketch — mergeable heavy-hitter frequency state.

Cormode & Muthukrishnan 2005 (*An improved data stream summary: the
count-min sketch and its applications*, J. Algorithms 55(1)): a d×w
counter grid; each item increments one counter per row (row-salted
hash), a point query reads the MINIMUM over its d counters —
overcounts only (collisions add, never subtract), with the classic
ε = e/w, δ = e^{−d} guarantee. The sketch the streaming/telemetry
world uses for "how often did token X occur" at corpus scale without
a vocabulary-sized exact count.

Why it earns a place next to the exact heavy-hitters (q100): the
sketch is a FIXED-SIZE mergeable state — two crawls' sketches sum
cell-wise into the union sketch, the daily-increment discipline of
the persisted MinHash/KN/logreg states with O(d·w) state instead of
vocabulary-sized. The exact top-k still exists (and the gate query
compares the two: estimate ≥ exact on every probe, the one-sided
error contract).

Reference repo has no sketch surface (ETL/sync only,
``/root/reference/README.md:1-17``); [extension] per the driver
charter.

Determinism: the row hashes are the portable md5 bucket family
(``keys="md5"``, the gate config DuckDB replays bit-for-bit) or
xxhash64 (production — one 64-bit hash per row, no hex-string build);
counters are exact int64 sums. No float anywhere.

Scale shape: build is one corpus explode × d in-row row-structs into
a (row, col)-keyed map-side-combined count — the output relation is
≤ d·w rows unconditionally (broadcastable by construction). Probing
joins the probe set against the broadcast sketch; merging is a
unionByName + (row, col) re-aggregate of two bounded relations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.sampling import salted_bucket
from db2pq_spark.operators.textstats import tokens

__all__ = ["cms_build", "cms_merge", "cms_probe", "cms_col_sql"]


def cms_col_sql(tok_expr: str, row: int, width: int) -> str:
    """DuckDB twin of the gate-config (md5) row hash."""
    from db2pq_spark.operators.sampling import hash_bucket_sql

    return hash_bucket_sql(tok_expr, width, salt=f"cms{row}")


def _stamp_checked(cnt: Column, depth: int, width: int,
                   keys: str) -> Column:
    """``cnt``, or raise when the row's stamps disagree with the
    caller's geometry — null-safe, folded into whatever projection
    consumes it (no extra job)."""
    expected = (F.col("_cms_d").eqNullSafe(F.lit(int(depth)))
                & F.col("_cms_w").eqNullSafe(F.lit(int(width)))
                & F.col("_cms_keys").eqNullSafe(F.lit(keys)))
    return F.when(~expected, F.raise_error(F.concat(
        F.lit("cms: sketch stamped d="),
        F.coalesce(F.col("_cms_d").cast("string"), F.lit("NULL")),
        F.lit(" w="),
        F.coalesce(F.col("_cms_w").cast("string"), F.lit("NULL")),
        F.lit(" keys="),
        F.coalesce(F.col("_cms_keys"), F.lit("NULL")),
        F.lit(f", caller expects d={int(depth)} w={int(width)} "
              f"keys={keys}")))).otherwise(cnt)


def cms_build(
    df: DataFrame, text_col: str, depth: int = 4, width: int = 1024,
    keys: str = "md5",
) -> DataFrame:
    """Sketch the corpus's token frequencies:
    ``(row, col, cnt, _cms_d, _cms_w, _cms_keys)`` — at most ``d·w``
    rows, persistable as parquet (the train-once state discipline).
    Geometry and hash family ride as stamps so a probe or merge under
    different expectations refuses instead of silently misreading."""
    if depth < 1 or width < 1:
        raise ValueError(f"cms_build: depth={depth} width={width} "
                         "must be >= 1")
    toks = df.select(F.explode(tokens(text_col)).alias("tok"))
    cells = toks.select(F.explode(F.array(*[
        F.struct(F.lit(r).alias("row"),
                 salted_bucket(F.col("tok"), width, f"cms{r}", keys)
                 .alias("col"))
        for r in range(int(depth))])).alias("_c")) \
        .select("_c.row", "_c.col")
    return (cells.groupBy("row", "col")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("row").cast("int"),
                    F.col("col").cast("bigint"),
                    F.col("cnt").cast("bigint"),
                    F.lit(int(depth)).alias("_cms_d"),
                    F.lit(int(width)).alias("_cms_w"),
                    F.lit(keys).alias("_cms_keys")))


def cms_merge(a: DataFrame, b: DataFrame, depth: int = 4,
              width: int = 1024, keys: str = "md5") -> DataFrame:
    """Cell-wise sum of two sketches — the union-corpus sketch,
    exactly (CMS merge is lossless given identical geometry; both
    stamp sets are validated in-row during the sum)."""
    checked = [s.select("row", "col",
                        _stamp_checked(F.col("cnt"), depth, width,
                                       keys).alias("cnt"))
               for s in (a, b)]
    return (checked[0].unionByName(checked[1])
            .groupBy("row", "col")
            .agg(F.sum("cnt").alias("cnt"))
            .select("row", "col", F.col("cnt").cast("bigint"),
                    F.lit(int(depth)).alias("_cms_d"),
                    F.lit(int(width)).alias("_cms_w"),
                    F.lit(keys).alias("_cms_keys")))


def cms_probe(
    sketch: DataFrame, probes: DataFrame, tok_col: str = "tok",
    depth: int = 4, width: int = 1024, keys: str = "md5",
) -> DataFrame:
    """Point-query every probe token: ``(tok, est)`` where ``est`` is
    the minimum over the token's ``d`` counters (0 when a cell was
    never touched — left join, coalesce). The sketch is forced
    broadcast (≤ d·w rows by construction); stamps are validated
    null-safely in-row on every cell the join matches. A probe set
    that misses EVERY cell of a mis-stamped sketch returns 0s without
    tripping the guard — acceptable: the 0 estimate is correct for
    the geometry the caller asked about, and any matched cell (the
    overwhelmingly common case) raises."""
    cells = probes.select(F.col(tok_col).alias("tok")).distinct() \
        .select("tok", F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     salted_bucket(F.col("tok"), width, f"cms{r}", keys)
                     .alias("col"))
            for r in range(int(depth))])).alias("_c")) \
        .select("tok", "_c.row", "_c.col")
    hit = (cells.join(F.broadcast(sketch), ["row", "col"], "left")
           .select("tok",
                   F.coalesce(
                       F.when(F.col("_cms_d").isNull()
                              & F.col("_cms_w").isNull()
                              & F.col("_cms_keys").isNull(),
                              F.lit(0).cast("bigint"))
                       .otherwise(_stamp_checked(F.col("cnt"), depth,
                                                 width, keys)),
                       F.lit(0).cast("bigint")).alias("_v")))
    return (hit.groupBy("tok")
            .agg(F.min("_v").cast("bigint").alias("est")))
