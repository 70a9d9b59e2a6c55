"""Core relational workload (SURVEY §2.4-§2.7, §2.12): aggregations,
joins, windows, set ops, scalar batteries, streaming-window and
pandas-UDF surfaces, subquery decorrelation shapes."""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf resolves the postponed
# 'pd.Series' annotations against this module's globals

from pyspark.sql import DataFrame, SparkSession, Window as W  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from db2pq_spark.workload_base import (  # noqa: F401
    _NORM,
    _TOKENS,
    REGISTRY,
    QueryFn,
    _dsum_sql,
    dsum,
    query,
    t,
)

# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4 — reference delegates to source SQL; native here)
# ---------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity', 2)} AS sum_qty,
           {_dsum_sql('l_extendedprice', 2)} AS sum_base_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           CAST({_dsum_sql('l_quantity', 2)} AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST({_dsum_sql('l_extendedprice', 2)} AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter (pushed to parquet) → partial+final
    hash aggregate. One shuffle on the (tiny-cardinality) group keys;
    AQE coalesces post-shuffle partitions. Scale-safe: no driver state."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2, "sum_qty"),
            dsum("l_extendedprice", 2, "sum_base_price"),
            dsum(disc_price, 4, "sum_disc_price"),
            dsum(charge, 6, "sum_charge"),
            (dsum("l_quantity", 2).cast("double") / F.count("*")).alias("avg_qty"),
            (dsum("l_extendedprice", 2).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q02_export_plan",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS quantity,
           l_extendedprice AS price,
           CAST(l_shipdate AS DATE) AS shipdate
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity > 40
    """,
)
def q02_export_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship ETL export plan (reference db_to_pq SELECT planning,
    db2pq/postgres/select_sql.py:107-155): keep/rename/cast/where through
    the engine's QueryPlan. Projection + predicate push into the scan.
    The plan's decimal(12,2) cast (P3) stays exercised; the gate output
    re-casts it to DOUBLE so both engines hash a plain float64."""
    from db2pq_spark.plans.plan import build_plan

    li = t(spark, sf_dir, "lineitem")
    plan = build_plan(
        li.columns,
        keep=["^l_orderkey$", "^l_linenumber$", "^l_quantity$",
              "^l_extendedprice$", "^l_shipdate$"],
        rename={"l_quantity": "quantity", "l_extendedprice": "price",
                "l_shipdate": "shipdate"},
        col_types={"quantity": "decimal(12,2)", "shipdate": "date"},
        where="l_returnflag = 'R' AND l_quantity > 40",
    )
    return plan.apply(li).withColumn("quantity", F.col("quantity").cast("double"))


@query(
    "q03_top_orders",
    oracle=f"""
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → agg → top-k.
    customer is small relative to lineitem → explicit broadcast avoids
    shuffling the fact table for the first join; the orders⋈lineitem join
    shuffles on orderkey (both sides already keyed). Top-k via
    TakeOrderedAndProject — no global sort."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz"))
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz"))
    return (
        li.join(F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q05_region_revenue",
    oracle=f"""
    SELECT n.n_name,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM region r JOIN nation n   ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
                  JOIN orders o   ON o.o_custkey  = c.c_custkey
                  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                  JOIN supplier s ON s.s_suppkey  = l.l_suppkey
                                 AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join. All dimensions (region/nation/customer/
    supplier) broadcast; only orders⋈lineitem shuffles. At 100 TB the
    dims stay broadcast-able (< a few GB) so the plan holds."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")))
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s),
              (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"))
    )


@query(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {_dsum_sql('l_extendedprice * l_discount', 6)} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate pushes
    to the parquet reader (min/max row-group pruning at scale)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 6, "revenue"),
             F.count("*").alias("n_rows"))
    )


@query(
    "q11_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {_dsum_sql('l_quantity', 2)} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — single shuffle, expand handled by Catalyst."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), dsum("l_quantity", 2, "sum_qty"))
    )


@query(
    "q12_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           {_dsum_sql('o_totalprice', 2)} AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", 2, "sum_price"))
    )


@query(
    "q13_distinct",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def q13_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT — Spark expands to a two-phase aggregate
    automatically (partial distinct per partition, then final)."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("c_nationkey").alias("n_nations"),
             F.count("*").alias("n_customers"))
    )


@query(
    "q23_count_clamp",
    oracle="""
    SELECT LEAST(COUNT(*), 1000) AS n
    FROM lineitem WHERE l_quantity > 30
    """,
)
def q23_count_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A1: COUNT(*) with WHERE and LIMIT clamp min(count, obs)
    (db2pq/postgres/select_sql.py:27-49)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 30)
        .agg(F.least(F.count("*"), F.lit(1000).cast("bigint")).alias("n"))
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.5 — [absent in reference, Spark built-in])
# ---------------------------------------------------------------------------

@query(
    "q04_semi_join",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o.o_orderpriority
    """,
)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (no row multiplication, early out)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "q16_anti_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_customers_without_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q16_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


@query(
    "q15_outer_join_having",
    oracle=f"""
    SELECT p.p_brand, COUNT(l.l_orderkey) AS n_lines,
           {_dsum_sql('l.l_quantity', 2)} AS sum_qty
    FROM part p LEFT JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    HAVING COUNT(l.l_orderkey) > 50
    """,
)
def q15_outer_join_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + HAVING, aggregate-before-join.

    The preserved side of an outer join cannot be the broadcast build
    side (unmatched preserved rows would be emitted once per executor —
    Spark ignores such a hint with a warning), so a naive
    part⟕lineitem shuffles the whole fact table into a sort-merge
    join. Instead the fact side pre-aggregates per partkey (map-side
    combine; one shuffle of ~|part| rows), the outer join then runs
    between two dimension-sized relations (AQE broadcasts the
    aggregate when it is small enough), and the decimal partial sums
    re-aggregate exactly — decimal addition is associative, so the
    two-level sum is bit-equal to the flat ``dsum``."""
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_partkey").agg(
        F.count("l_orderkey").alias("_n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q"))
    return (
        p.join(stats, p.p_partkey == stats.l_partkey, "left_outer")
        .groupBy("p_brand")
        .agg(F.sum(F.coalesce("_n", F.lit(0))).alias("n_lines"),
             F.sum("_q").cast("decimal(38,2)").cast("double")
              .alias("sum_qty"))
        .filter(F.col("n_lines") > 50)
    )


# ---------------------------------------------------------------------------
# Windows, sorts, set ops (SURVEY §2.6 — [absent in reference])
# ---------------------------------------------------------------------------

@query(
    "q07_topk_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) WHERE rn <= 3
    """,
)
def q07_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number. Total order inside each partition
    (tie-break on key) keeps it deterministic. At scale Spark 3.5+ pushes
    a per-partition rank limit before the shuffle (WindowGroupLimit)."""
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        t(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_custkey", "c_acctbal",
                F.row_number().over(w).cast("bigint").alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "q08_running_total",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,2)) AS DOUBLE) AS running_qty
    FROM lineitem WHERE l_suppkey <= 10
    """,
)
def q08_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window frame; deterministic total order per partition."""
    w = (W.partitionBy("l_suppkey")
         .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 10)
        .select("l_suppkey", "l_orderkey", "l_linenumber",
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w)
                 .cast("decimal(38,2)").cast("double").alias("running_qty"))
    )


@query(
    "q09_lag_delta",
    oracle="""
    SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
           value - LAG(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS delta
    FROM events WHERE user_id < 10
    """,
)
def q09_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG with per-user ordering; double subtraction of identical
    operands is bit-stable across engines. Ordering on epoch-micros
    (+ event_id tiebreak) matches DuckDB's µs timestamp ordering."""
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select("user_id", "event_id", "ts_us", "value",
                (F.col("value") - F.lag("value").over(w)).alias("delta"))
    )


@query(
    "q10_set_ops",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
                                     AND c_acctbal < 0
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_nationkey = 3
    """,
)
def q10_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / UNION(distinct) / EXCEPT chain, left-associative like
    the SQL (no precedence surprises: ANSI gives INTERSECT higher
    precedence — so it runs first here too)."""
    c = t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    mach_neg = c.filter((F.col("c_mktsegment") == "MACHINERY")
                        & (F.col("c_acctbal") < 0)).select("c_custkey")
    nation3 = c.filter(F.col("c_nationkey") == 3).select("c_custkey")
    return (
        building.intersect(rich).union(mach_neg).distinct().exceptAll(nation3.distinct())
    )


@query(
    "q25_order_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def q25_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge), never a full sort at scale."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY §2.7) + boolean coercion (T3)
# ---------------------------------------------------------------------------

@query(
    "q14_scalar_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           SUBSTRING(p_name, 1, 8) AS name_prefix,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, ' ', '_') AS type_slug,
           ROUND(p_retailprice, 1) AS price_round,
           ABS(p_size - 25) AS size_dev,
           CAST(p_size % 7 AS INTEGER) AS size_mod
    FROM part WHERE p_partkey <= 500
    """,
)
def q14_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar battery — all whole-stage-codegen built-ins
    (the reference delegates scalar SQL to the source DB; SURVEY §2.7)."""
    p = t(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
        F.round("p_retailprice", 1).alias("price_round"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
    )


@query(
    "q17_date_functions",
    oracle="""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS order_year,
           EXTRACT(MONTH FROM o_orderdate) AS order_month,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def q17_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"),
                  F.month("o_orderdate").cast("bigint").alias("order_month"))
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "q18_safe_boolean",
    oracle="""
    SELECT flag_txt,
           CASE WHEN LOWER(TRIM(flag_txt)) IN ('t','true','y','yes','1','1.0') THEN TRUE
                WHEN LOWER(TRIM(flag_txt)) IN ('f','false','n','no','0','0.0') THEN FALSE
                ELSE NULL END AS flag,
           COUNT(*) AS n
    FROM (SELECT CASE CAST(l_linenumber % 5 AS INTEGER)
                   WHEN 0 THEN 't' WHEN 1 THEN 'yes' WHEN 2 THEN '0'
                   WHEN 3 THEN 'junk' ELSE NULL END AS flag_txt
          FROM lineitem)
    GROUP BY 1, 2
    """,
)
def q18_safe_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe boolean coercion (reference T3,
    db2pq/postgres/select_sql.py:55-65) over a derived truthy/falsy/junk
    column — engine implementation is one codegen'd CASE expression."""
    from db2pq_spark.functions.booleans import safe_boolean

    li = t(spark, sf_dir, "lineitem")
    flag_txt = (
        F.when(F.col("l_linenumber") % 5 == 0, F.lit("t"))
        .when(F.col("l_linenumber") % 5 == 1, F.lit("yes"))
        .when(F.col("l_linenumber") % 5 == 2, F.lit("0"))
        .when(F.col("l_linenumber") % 5 == 3, F.lit("junk"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        li.select(flag_txt.alias("flag_txt"))
        .select("flag_txt", safe_boolean("flag_txt").alias("flag"))
        .groupBy("flag_txt", "flag")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q24_numeric_modes",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS VARCHAR) AS price_decimal,
           CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DOUBLE) AS price_float64,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_text
    FROM lineitem WHERE l_orderkey <= 100
    """,
)
def q24_numeric_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three numeric modes (reference _resolve_numeric_mode,
    db2pq/core.py:8-15) materialized side by side: decimal / float64 /
    text renderings of the same column. The decimal mode is emitted as
    its exact string rendering ('123.4500' — full scale in both Spark
    and DuckDB) so the gate hashes a plain string, not engine-specific
    decimal objects."""
    li = t(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,4)")
    return li.filter(F.col("l_orderkey") <= 100).select(
        "l_orderkey", "l_linenumber",
        dec.cast("string").alias("price_decimal"),
        dec.cast("double").alias("price_float64"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string").alias("price_text"),
    )


# ---------------------------------------------------------------------------
# Events: time windows + sessionization (streaming-shape, batch-checked)
# ---------------------------------------------------------------------------

@query(
    "q19_tumbling_window",
    oracle=f"""
    SELECT CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           COUNT(*) AS n_events,
           {_dsum_sql('value', 2)} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q19_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — the batch twin of the
    structured-streaming windowed agg in db2pq_spark.streaming. The
    window key is computed with integer arithmetic on epoch-micros
    (hour bucket = us div 3600e6 * 3600), engine- and tz-independent."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.expr("(ts_us div 3600000000) * 3600").alias("hour_epoch"),
            "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", 2, "sum_value"))
    )


@query(
    "q20_sessionization",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q20_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session. Classic
    lag + cumulative-sum composition — two window passes over the same
    partitioning, one shuffle. Gap math in epoch-micros longs."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    wsum = (W.partitionBy("user_id").orderBy("ts_us", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    marked = e.select(
        "user_id", "ts_us", "event_id",
        F.when(F.lag("ts_us").over(w).isNull()
               | (F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000),
               F.lit(1)).otherwise(F.lit(0)).alias("is_new"))
    return (
        marked.select("user_id",
                      F.sum("is_new").over(wsum).cast("bigint").alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "q21_window_battery",
    oracle="""
    SELECT s_suppkey, s_acctbal,
           LEAD(s_acctbal) OVER w AS next_bal,
           FIRST_VALUE(s_name) OVER w AS first_name,
           PERCENT_RANK() OVER w AS pct_rank,
           NTILE(4) OVER w AS quartile,
           CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2)))
                OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,2)) AS DOUBLE) AS cum_bal
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)
def q21_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead / first_value / percent_rank / ntile / range frame — one
    window partitioning, single shuffle for all five functions."""
    s = t(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    wr = w.rangeBetween(W.unboundedPreceding, W.currentRow)
    return s.select(
        "s_suppkey", "s_acctbal",
        F.lead("s_acctbal").over(w).alias("next_bal"),
        F.first("s_name").over(w).alias("first_name"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).over(wr)
         .cast("decimal(38,2)").cast("double").alias("cum_bal"),
    )


@query(
    "q22_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {_dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 2)} AS open_total,
           {_dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", 2)} AS finished_total,
           {_dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END", 2)} AS pending_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q22_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on order status. Uses .pivot() with explicit values — never
    let Spark scan for distinct pivot values at scale."""
    o = t(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(dsum("o_totalprice", 2))
    )
    return out.select(
        "o_orderpriority",
        F.col("O").alias("open_total"),
        F.col("F").alias("finished_total"),
        F.col("P").alias("pending_total"),
    )


@query(
    "q26_percentiles",
    oracle="""
    SELECT c_mktsegment,
           ROUND(quantile_cont(c_acctbal, 0.5), 4) AS median_bal,
           ROUND(quantile_cont(c_acctbal, 0.9), 4) AS p90_bal,
           ROUND(MIN(c_acctbal), 4) AS min_bal,
           ROUND(MAX(c_acctbal), 4) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q26_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). At 100 TB prefer ``percentile_approx``
    (mergeable sketch, one pass) — kept exact here for the oracle."""
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("median_bal"),
             F.round(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("p90_bal"),
             F.round(F.min("c_acctbal"), 4).alias("min_bal"),
             F.round(F.max("c_acctbal"), 4).alias("max_bal"))
    )


@query(
    "q27_bag_set_ops",
    oracle="""
    SELECT l_orderkey FROM lineitem WHERE l_quantity > 48
    UNION ALL
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 48
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F' AND l_quantity > 48
    """,
)
def q27_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (UNION ALL / EXCEPT ALL) — duplicate
    multiplicities must match exactly."""
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 48).select("l_orderkey")
    b = li.filter((F.col("l_returnflag") == "R")
                  & (F.col("l_quantity") > 48)).select("l_orderkey")
    c = li.filter((F.col("l_linestatus") == "F")
                  & (F.col("l_quantity") > 48)).select("l_orderkey")
    return a.unionAll(b).exceptAll(c)


@query(
    "q28_null_handling",
    oracle="""
    SELECT o.o_orderkey,
           COALESCE(agg.n_lines, 0) AS n_lines,
           CASE WHEN agg.o_orderkey IS NULL THEN 'no_lines' ELSE 'has_lines' END
             AS line_status,
           NULLIF(o.o_orderstatus, 'O') AS status_or_null,
           IFNULL(NULLIF(o.o_orderstatus, 'O'), 'open') AS status_filled
    FROM orders o
    LEFT JOIN (SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_lines
               FROM lineitem WHERE l_quantity > 49 GROUP BY 1) agg
      USING (o_orderkey)
    WHERE o.o_orderkey <= 2000
    """,
)
def q28_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-propagation battery over an outer join: coalesce / nullif /
    ifnull / IS NULL classification."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    agg = (
        t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count("*").alias("n_lines"))
    )
    joined = o.join(agg, "o_orderkey", "left_outer")
    return joined.select(
        "o_orderkey",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.when(agg["n_lines"].isNull(), "no_lines").otherwise("has_lines")
         .alias("line_status"),
        F.nullif("o_orderstatus", F.lit("O")).alias("status_or_null"),
        F.ifnull(F.nullif("o_orderstatus", F.lit("O")), F.lit("open"))
         .alias("status_filled"),
    )


@query(
    "q29_string_agg",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), ',') AS nations,
           COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def q29_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: collect → sort → join (raw
    collect_list order is partition-dependent; the sort restores
    determinism on both engines)."""
    n = t(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",")
              .alias("nations"),
             F.count("*").alias("n_nations"))
    )


@query(
    "q40_sql_api",
    oracle=f"""
    SELECT p.p_type, COUNT(*) AS n,
           {_dsum_sql('l.l_extendedprice', 2)} AS total
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 40
    GROUP BY p.p_type
    """,
)
def q40_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point (reference wrds_sql_to_pq semantics,
    Spark-side execution over registered views — SURVEY §3.3): identical
    Catalyst plan to the DataFrame API."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql("""
        SELECT p.p_type, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS DOUBLE) AS total
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_size >= 40
        GROUP BY p.p_type
    """)


@query(
    "q41_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '2000-01-01') AS INTEGER) AS days_to_y2k,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def q41_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.date_add(d, 30).cast("timestamp_ntz").alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).alias("days_to_y2k"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", "o_orderdate").cast("date")
         .alias("quarter_start"),
    )


@query(
    "q42_conditional_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
           CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
             AS n_discounted,
           BOOL_OR(l_quantity > 49) AS any_max_qty,
           BOOL_AND(l_quantity > 0) AS all_positive
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q42_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_heavy"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_max_qty"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
    )


@query(
    "q49_string_battery2",
    oracle="""
    SELECT s_suppkey,
           lpad(CAST(s_suppkey AS VARCHAR), 8, '0') AS padded_key,
           split_part(s_name, '#', 2) AS name_num,
           translate(s_name, '#', '-') AS name_dashed,
           reverse(s_name) AS name_rev,
           repeat('ab', 3) AS rep,
           CAST(levenshtein(s_name, 'Supplier#1') AS BIGINT) AS lev,
           CAST(instr(s_name, '#') AS BIGINT) AS hash_pos
    FROM supplier
    """,
)
def q49_string_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string battery: padding, splitting, translate, reverse,
    repeat, Levenshtein distance (fuzzy-matching primitive), position,
    initcap — all codegen'd built-ins."""
    s = t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.lpad(F.col("s_suppkey").cast("string"), 8, "0").alias("padded_key"),
        F.split_part(F.col("s_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.translate("s_name", "#", "-").alias("name_dashed"),
        F.reverse("s_name").alias("name_rev"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.levenshtein("s_name", F.lit("Supplier#1")).cast("bigint").alias("lev"),
        F.instr("s_name", "#").cast("bigint").alias("hash_pos"),
    )


@query(
    "q50_array_ops",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(c_custkey)), ',') AS custkeys_csv,
           len(list(c_custkey)) AS n,
           list_sort(list(c_custkey))[1] AS smallest,
           list_contains(list(c_custkey), 1) AS has_cust_1
    FROM customer
    WHERE c_custkey <= 200
    GROUP BY c_nationkey
    """,
)
def q50_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed results: collect → sort → join/index/contains. Nested
    types flow through the whole stack (Spark arrays ↔ DuckDB lists ↔
    parquet lists) — the reference passes them through opaquely
    (SURVEY §1.2), here they're first-class. The sorted array is emitted
    as its CSV rendering (array_join) because the gate's pandas
    canonicalization cannot sort list-typed cells; the array ops
    themselves (collect_list/array_sort/index/contains) stay exercised."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    arr = F.array_sort(F.collect_list("c_custkey"))
    return (
        c.groupBy("c_nationkey")
        .agg(F.array_join(arr, ",").alias("custkeys_csv"),
             F.count("*").alias("n"),
             arr[0].alias("smallest"),
             F.array_contains(F.collect_list("c_custkey"), 1).alias("has_cust_1"))
    )


@query(
    "q51_explode",
    oracle="""
    WITH grouped AS (
      SELECT l_orderkey, list_sort(list(l_linenumber)) AS lines
      FROM lineitem WHERE l_orderkey <= 500 GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           unnest(lines) AS l_linenumber,
           CAST(unnest(generate_series(1, len(lines))) - 1 AS INTEGER) AS pos
    FROM grouped
    """,
)
def q51_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode round-trip: group to arrays, unnest back with
    ordinality — the lateral-view pattern for nested data."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    grouped = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_linenumber")).alias("lines"))
    return grouped.select(
        "l_orderkey",
        F.posexplode("lines").alias("pos", "l_linenumber"),
    ).select("l_orderkey", "l_linenumber", F.col("pos").cast("int").alias("pos"))


@query(
    "q52_math_battery",
    oracle="""
    SELECT p_partkey,
           ROUND(SQRT(p_retailprice), 6) AS sqrt_price,
           ROUND(LN(p_retailprice), 6) AS ln_price,
           ROUND(EXP(p_size / 25.0), 6) AS exp_size,
           ROUND(POW(p_size, 2), 6) AS size_sq,
           CAST(SIGN(p_size - 25) AS BIGINT) AS size_sign,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
           CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
           p_size & 15 AS size_and,
           p_size | 16 AS size_or,
           xor(p_size, 21) AS size_xor
    FROM part WHERE p_partkey <= 500
    """,
)
def q52_math_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math + bitwise battery. Transcendentals (ln/exp/sqrt) round to 6
    digits — JVM Math and C libm agree to well beyond that."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.round(F.sqrt("p_retailprice"), 6).alias("sqrt_price"),
        F.round(F.log("p_retailprice"), 6).alias("ln_price"),
        F.round(F.exp(F.col("p_size") / 25.0), 6).alias("exp_size"),
        F.round(F.pow("p_size", F.lit(2)), 6).alias("size_sq"),
        F.signum(F.col("p_size") - 25).cast("bigint").alias("size_sign"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.col("p_size").bitwiseAND(15).alias("size_and"),
        F.col("p_size").bitwiseOR(16).alias("size_or"),
        F.col("p_size").bitwiseXOR(21).alias("size_xor"),
    )


@query(
    "q53_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k
    FROM events
    GROUP BY 1
    """,
)
def q53_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns: extract from the JSON ``props`` string,
    cast, aggregate — get_json_object is the row-wise JSON path Spark
    evaluates without parsing the document into a tree."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.groupBy((k % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.min(k).cast("bigint").alias("min_k"))
    )


@query(
    "q54_pandas_udf_scalar",
    oracle="""
    SELECT doc_id,
           LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_spaces,
           UPPER(SUBSTRING(text, 1, 5)) AS head_upper
    FROM documents
    """,
)
def q54_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (the sanctioned Python escape
    hatch — SURVEY §2.12): the Python computes semantics the oracle
    replays in SQL exactly, proving the Arrow round-trip is lossless."""

    @F.pandas_udf("long")
    def n_spaces(s: pd.Series) -> pd.Series:
        return s.str.count(" ").astype("int64")

    @F.pandas_udf("string")
    def head_upper(s: pd.Series) -> pd.Series:
        return s.str.slice(0, 5).str.upper()

    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", n_spaces("text").alias("n_spaces"),
                    head_upper("text").alias("head_upper"))


@query(
    "q55_corpus_pipeline",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang, n_chars, md5({_NORM}) AS h,
             len(list_filter({_TOKENS},
                 x -> x IN ('the','and','of','to','a','in','is','that','it','for')))
               AS sw,
             len({_TOKENS}) AS n_tok
      FROM documents
    ),
    deduped AS (
      SELECT * FROM hashed
      WHERE doc_id = (SELECT MIN(h2.doc_id) FROM hashed h2 WHERE h2.h = hashed.h)
    ),
    filtered AS (
      SELECT * FROM deduped
      WHERE n_chars >= 100 AND (CASE WHEN n_tok > 0
                                     THEN CAST(sw AS DOUBLE) / n_tok
                                     ELSE 0.0 END) >= 0.0
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM filtered GROUP BY lang
    """,
)
def q55_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline composition: exact dedup
    (keep min doc_id per content hash) → quality/length filter → per-
    language corpus stats. Every stage is one of the engine's operators;
    the whole thing is two shuffles (dedup hash, final groupBy)."""
    from db2pq_spark.operators.dedup import exact_dedup, tokens_sql

    d = t(spark, sf_dir, "documents")
    keep = exact_dedup(d, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id"))
    toks = F.expr(tokens_sql("text"))
    staged = (
        d.join(keep, "doc_id")
        .select("doc_id", "lang", "n_chars", toks.alias("_toks"))
        .select(
            "doc_id", "lang", "n_chars",
            F.size("_toks").alias("n_tok"),
            F.size(F.filter("_toks", lambda x: x.isin(
                "the", "and", "of", "to", "a", "in", "is", "that", "it", "for"
            ))).alias("sw"),
        )
    )
    filtered = staged.filter(
        (F.col("n_chars") >= 100)
        & (F.when(F.col("n_tok") > 0,
                  F.col("sw").cast("double") / F.col("n_tok"))
            .otherwise(F.lit(0.0)) >= 0.0)
    )
    return filtered.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@query(
    "q56_statistics",
    oracle="""
    SELECT c_mktsegment,
           ROUND(stddev_samp(c_acctbal), 6) AS bal_stddev,
           ROUND(var_samp(c_acctbal), 4) AS bal_var,
           ROUND(corr(c_acctbal, CAST(c_custkey AS DOUBLE)), 6) AS bal_key_corr,
           ROUND(covar_samp(c_acctbal, CAST(c_nationkey AS DOUBLE)), 6)
             AS bal_nation_covar,
           ROUND(regr_slope(c_acctbal, CAST(c_custkey AS DOUBLE)), 8)
             AS bal_per_key
    FROM customer GROUP BY c_mktsegment
    """,
)
def q56_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance/
    regression slope. Rounded — the engines use different (numerically
    equivalent) update formulas."""
    c = t(spark, sf_dir, "customer")
    key_d = F.col("c_custkey").cast("double")
    nat_d = F.col("c_nationkey").cast("double")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.stddev_samp("c_acctbal"), 6).alias("bal_stddev"),
        F.round(F.var_samp("c_acctbal"), 4).alias("bal_var"),
        F.round(F.corr(F.col("c_acctbal"), key_d), 6).alias("bal_key_corr"),
        F.round(F.covar_samp(F.col("c_acctbal"), nat_d), 6)
         .alias("bal_nation_covar"),
        F.round(F.regr_slope(F.col("c_acctbal"), key_d), 8)
         .alias("bal_per_key"),
    )


@query(
    "q57_grouped_pandas",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)
             AS running_value
    FROM events WHERE user_id < 10
    """,
)
def q57_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the per-group Arrow UDF modality):
    each user's events arrive as one pandas DataFrame, sorted and
    cumsum'd in Python. Accumulation runs in integer cents (the values
    carry 2 decimals) because float running sums are NOT
    order/algorithm-stable across engines — DuckDB's window sum uses a
    segment tree, pandas a sequential accumulate, and they differ in
    the last ulp; exact integers sidestep it, matching the oracle's
    decimal-cast window sum."""
    import pandas as pd

    def cumsum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        cents = (pdf["value"] * 100).round().astype("int64")
        pdf["running_value"] = cents.cumsum() / 100.0
        return pdf[["user_id", "event_id", "running_value"]]

    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return (
        e.select("user_id", "event_id", "ts_us", "value")
        .groupBy("user_id")
        .applyInPandas(cumsum,
                       schema="user_id long, event_id long, running_value double")
    )


_Q58_SQL = """
    SELECT o.o_orderkey,
           (SELECT MAX(l.l_quantity) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey) AS max_qty,
           (SELECT COUNT(*) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
             AS n_discounted
    FROM orders o
    WHERE o.o_orderkey <= 2000
"""


@query("q58_correlated_scalar_subquery", oracle=_Q58_SQL)
def q58_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries — Catalyst decorrelates both into
    left outer aggregate joins (no per-row re-execution; the reference
    relies on the source DB for this, SURVEY §4)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q58_SQL)


_Q59_SQL = """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE c.c_custkey IN (SELECT o.o_custkey FROM orders o
                          WHERE o.o_totalprice > 400000)
      AND c.c_custkey NOT IN (SELECT o.o_custkey FROM orders o
                              WHERE o.o_orderstatus = 'P')
"""


@query("q59_in_subqueries", oracle=_Q59_SQL)
def q59_in_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries → left-semi + null-aware anti join."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q59_SQL)


_Q60_SQL = """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey
                    AND l.l_quantity > 49
                    AND l.l_shipdate > TIMESTAMP '2000-01-01 00:00:00')
"""


@query("q60_correlated_exists", oracle=_Q60_SQL)
def q60_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with extra predicates → decorrelated semi join."""
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q60_SQL)


# ---------------------------------------------------------------------------
# TPC-H-deep subquery battery (q61-q65) — the five hardest decorrelation
# shapes from the TPC-H spec, adapted to the fixture schema (no partsupp
# table; min-cost comes from lineitem unit prices). The reference reaches
# these only by shipping user SQL to PostgreSQL/DuckDB
# (db2pq/core.py:529-661); here Catalyst decorrelates natively.
# Determinism: double sums go through decimal casts; AVG thresholds are
# computed as exact decimal-sum / count so both engines compare against
# bit-identical doubles.
# ---------------------------------------------------------------------------

_Q61_SQL = """
    SELECT p.p_partkey, p.p_name, l.l_suppkey,
           l.l_extendedprice / l.l_quantity AS unit_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 5
      AND l.l_extendedprice / l.l_quantity = (
            SELECT MIN(l2.l_extendedprice / l2.l_quantity)
            FROM lineitem l2
            WHERE l2.l_partkey = p.p_partkey)
"""


@query("q61_min_cost_supplier", oracle=_Q61_SQL)
def q61_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery selecting the cheapest
    supplier per part. Catalyst decorrelates into an aggregate + join on
    p_partkey (one shuffle); MIN over doubles is order-independent so the
    equality filter is deterministic across engines."""
    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q61_SQL)


_Q62_SQL = f"""
    SELECT p.p_brand,
           {_dsum_sql('l.l_extendedprice', 2)} AS small_qty_revenue,
           COUNT(*) AS n_small
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (
            SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
                               AS DOUBLE) / COUNT(*))
            FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
"""


@query("q62_small_quantity_revenue", oracle=_Q62_SQL)
def q62_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-part correlated AVG threshold → decorrelated
    aggregate join, then a brand-level rollup. The AVG is computed as
    exact-decimal-sum / count so the `<` comparison sees identical IEEE
    doubles in Spark and DuckDB."""
    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q62_SQL)


_Q63_SQL = """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l
            WHERE l.l_partkey IN (SELECT p.p_partkey FROM part p
                                  WHERE p.p_name LIKE 'red%')
            GROUP BY l.l_suppkey
            HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 100)
"""


@query("q63_nested_in_having", oracle=_Q63_SQL)
def q63_nested_in_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN over a grouped-HAVING subquery that itself
    contains an IN subquery. Two-level decorrelation → semi joins; the
    part-name filter broadcasts (tiny dimension)."""
    for name in ("supplier", "lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q63_SQL)


_Q64_SQL = """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
"""


@query("q64_waiting_supplier", oracle=_Q64_SQL)
def q64_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS on the same fact table with
    inequality correlation — the heaviest decorrelation case in the
    spec.

    Plan: instead of letting the decorrelator emit a semi join plus an
    inequality anti join (three lineitem legs, each its own fact-table
    shuffle — the old shape's 100× smoke ratio was the worst in the
    suite), the correlated pair collapses into aggregates:

    - per (orderkey, suppkey, shipdate): the line COUNT ``cnt`` — ONE
      fact-level aggregate with map-side combine; this collapsed
      relation ``lc`` is the only thing the fact table ever feeds, and
      both downstream consumers derive from it (its shuffle is planned
      once and REUSED — the executed plan shows a ReusedExchange, so
      the parquet scan + orders join run a single time with no persist:
      earlier shapes that persisted either the 3-column fact projection
      or ``lc`` both measured slower at the 100× replica than plain
      exchange reuse — the columnar cache build is pure overhead here);
    - per (orderkey, suppkey) over ``lc``: the latest shipdate
      ``smax`` (no arrays — an earlier variant carried
      ``collect_list(shipdate)`` through the per-order join; shuffling
      those arrays cost 2× at the 100× replica);
    - per orderkey: TWO plain hash aggregates instead of one
      ``collect_list``+``sort_array`` pass — first the supplier count
      and the argmax struct (m1, top supplier), then, after an
      ok-partitioned join-back (no new shuffle — every aggregate and
      join above ``lc`` runs on the one reused orderkey partitioning),
      the runner-up ``m2alt = max(smax WHERE suppkey != top_sk)``.
      ``collect_list`` planned an ObjectHashAggregate whose sort-based
      fallback (128-entry hash map cap) re-sorted the ~0.8×fact
      ``supp`` relation every run — it was BOTH slower and wildly
      variance-prone under heap pressure at the 100× replica (raising
      the fallback threshold instead measured ~2.5× worse: a
      multi-million-entry object hash map is GC poison). Plain
      hash aggregates spill gracefully and codegen;
    - a line l1 satisfies the NOT EXISTS iff no OTHER supplier ships
      after it, i.e. ``l1.shipdate >= max_other`` where ``max_other``
      is ``m2alt`` when l1's supplier IS the top supplier (ties at m1
      make ``m2alt = m1``, still correct) and m1 otherwise; the
      EXISTS is ``n_supp > 1``. Both evaluate per collapsed (orderkey,
      suppkey, shipdate) GROUP — weighting by ``cnt`` replaces
      re-joining raw lines, so the fact table is never joined against
      itself and never read twice.

    The supplier dimension broadcasts. Equality with the decorrelated
    SQL verified row-for-row at sf0.1 and on 10×/100× key-shifted
    replicas. Timings live ONLY in the committed auto-generated
    artifacts (SCALE_SMOKE*.md rows regenerated by
    ``scripts/scale_smoke.py``, BENCH_DETAIL.json) — never here."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    # explicit NOT NULL prefilter on all three columns (the downstream
    # joins/comparisons imply them anyway — a NULL suppkey/shipdate
    # line can never join the supplier dim or satisfy the shipdate
    # comparison): WITHOUT it, Catalyst infers isnotnull(sd)/(sk) on
    # only the join-back leg and pushes them into that leg's scan, so
    # the three copies of the shared subtree stop being canonically
    # equal and AQE reuses nothing — three fact scans. With it every
    # leg carries the identical filtered scan and stage reuse holds.
    li = li.where(F.col("l_orderkey").isNotNull()
                  & F.col("l_suppkey").isNotNull()
                  & F.col("l_shipdate").isNotNull())
    o = t(spark, sf_dir, "orders") \
        .where(F.col("o_orderstatus") == "F").select("o_orderkey")
    lf = li.join(o, li.l_orderkey == o.o_orderkey).drop("o_orderkey")
    # ONE explicit orderkey shuffle of the slim 3-column fact relation:
    # every aggregate key below (ok,sk,sd) → (ok,sk) → (ok) CONTAINS
    # l_orderkey, and every join is on l_orderkey, so HashPartitioning
    # (l_orderkey) satisfies all of their ClusteredDistributions — the
    # whole chain plans with zero further exchanges (the repartition
    # exchange itself is reused by the lc join-back branch). Without
    # it, Catalyst keys the first aggregate on the full (ok,sk,sd)
    # triple and each coarser step re-shuffles: four fact-scale
    # exchanges, the suite's worst 100×-replica ratio.
    lf = lf.repartition("l_orderkey")
    lc = lf.groupBy("l_orderkey", "l_suppkey", "l_shipdate") \
        .agg(F.count("*").alias("cnt"))
    supp = lc.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("smax"))
    agg1 = supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.max(F.struct("smax", "l_suppkey")).alias("_top"))
    supp2 = supp.join(agg1.where(F.col("n_supp") > 1), "l_orderkey")
    per_o = supp2.groupBy("l_orderkey").agg(
        F.first(F.col("_top.smax")).alias("m1"),
        F.first(F.col("_top.l_suppkey")).alias("top_sk"),
        F.max(F.when(F.col("l_suppkey") != F.col("_top.l_suppkey"),
                     F.col("smax"))).alias("m2alt"))
    j = lc.join(per_o, "l_orderkey")
    max_other = F.when(F.col("l_suppkey") == F.col("top_sk"),
                       F.col("m2alt")).otherwise(F.col("m1"))
    waiting = (j.where(F.col("l_shipdate") >= max_other)
               .groupBy("l_suppkey")
               .agg(F.sum("cnt").alias("numwait")))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (waiting.join(F.broadcast(s),
                         waiting.l_suppkey == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.sum("numwait").alias("numwait"))
            .select("s_name",
                    F.col("numwait").cast("bigint").alias("numwait")))


def _q66_sql() -> str:
    from db2pq_spark.operators.sampling import split_assign_sql
    case = split_assign_sql("o_orderkey",
                            {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""
    SELECT {case} AS split, o_orderstatus,
           COUNT(*) AS n_orders,
           {_dsum_sql('o_totalprice', 2)} AS sum_price
    FROM orders
    GROUP BY 1, 2
    """


@query("q66_hash_split", oracle=None)  # oracle injected below (needs import)
def q66_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by md5 hash of the key —
    reproducible across runs, cluster sizes, and engines (the oracle
    computes the identical md5 buckets in DuckDB). Narrow assignment +
    one aggregation shuffle. [extension]"""
    from db2pq_spark.operators.sampling import split_assign

    orders = split_assign(t(spark, sf_dir, "orders"), "o_orderkey",
                          {"train": 0.8, "val": 0.1, "test": 0.1})
    return (orders.groupBy("split", "o_orderstatus")
            .agg(F.count("*").alias("n_orders"),
                 dsum("o_totalprice", 2, "sum_price")))


def _q67_sql() -> str:
    from db2pq_spark.operators.sampling import hash_bucket_sql
    b = hash_bucket_sql("doc_id")
    return f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {b} < (CASE WHEN lang = 'en' THEN 500000
                      WHEN lang = 'de' THEN 250000
                      ELSE 0 END)
    """


@query("q67_stratified_sample", oracle=None)  # oracle injected below
def q67_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (per-language quotas: 50% en,
    25% de, drop the rest) as a single narrow CASE-threshold filter —
    no shuffle, reproducible, unlike df.stat.sampleBy. The oracle
    returns the exact same rows. [extension]"""
    from db2pq_spark.operators.sampling import stratified_sample

    docs = t(spark, sf_dir, "documents")
    return (stratified_sample(docs, "doc_id", "lang",
                              {"en": 0.5, "de": 0.25})
            .select("doc_id", "lang"))


# late-bind the sampling oracles (they need the operator module's SQL
# builders; REGISTRY stores plain strings)
REGISTRY["q66_hash_split"] = (q66_hash_split, _q66_sql())
REGISTRY["q67_stratified_sample"] = (q67_stratified_sample, _q67_sql())


_Q65_SQL = """
    SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
                                     AS DOUBLE) / COUNT(*)
                         FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 350000)
"""


@query("q65_quiet_rich_customers", oracle=_Q65_SQL)
def q65_quiet_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar AVG threshold (broadcast one
    row) + correlated NOT EXISTS → anti join. The AVG uses the exact
    decimal-sum form for cross-engine determinism."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q65_SQL)
