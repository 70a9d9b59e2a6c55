"""Shared plumbing for the query workload modules: the registry, the
@query decorator, fixture loading, and the cross-engine determinism
helpers (exact-decimal sums, normalized-text SQL fragments). See
``db2pq_spark.workload`` for the determinism rules and the public
``queries()`` / ``oracles()`` surface."""

from __future__ import annotations

from typing import Callable

import pandas as pd  # noqa: F401 — pandas_udf resolves the postponed
# 'pd.Series' annotations against this module's globals

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from db2pq_spark.sinks.parquet_sink import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark_fn, oracle_sql | None). Populated by @query below.
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def query(name: str, oracle: str | None = None):
    """Register a named query with its DuckDB oracle SQL (None → the
    driver records a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


#: name -> deployed-configuration variant of a registered query.
#: Populated by @production below.
PRODUCTION: dict[str, QueryFn] = {}


def production(name: str):
    """Register the deployed configuration of gate query ``name``: the
    config the harnesses time (bench.py, scripts/scale_smoke.py) where
    the gate entry pins an exactness config for its oracle (exhaustive
    probes, uncapped banding, md5/string keys, exact-decimal trainers).
    The variant's docstring is its provenance note; its first
    paragraph is recorded in BENCH_DETAIL.json ``configs``."""

    def deco(fn: QueryFn) -> QueryFn:
        PRODUCTION[name] = fn
        return fn

    return deco


def timed(name: str) -> QueryFn:
    """The function a harness times for ``name``: its production
    variant if one is registered, else the gate entry (KeyError for
    an unregistered name)."""
    return PRODUCTION.get(name) or REGISTRY[name][0]


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table. Parquet scan → column pruning + predicate
    pushdown happen in Catalyst; at cluster scale this is the same code
    path reading a partitioned directory. A directory the repository
    sink wrote is read with the schema it recorded (no inference job);
    fixtures carry no sidecar and are inferred.

    The ``events`` fixture's ``ts`` column has shipped in two physical
    encodings across fixture generations: nanosecond parquet timestamps
    (which Spark loads as int64 epoch-nanos under the legacy conf) and
    plain ``timestamp[us]`` (which Spark loads as TIMESTAMP_NTZ). Either
    way we standardize to an epoch-micros ``ts_us`` long: integer `div`
    for int64 nanos; for NTZ, ``unix_micros`` after an NTZ→LTZ cast —
    the session zone is UTC (session.py), so the cast is a pure
    reinterpretation and matches DuckDB's ``epoch_us`` of the same naive
    value. All downstream event queries do integer arithmetic on
    ``ts_us``, so results are engine- and timezone-independent.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes)["ts"] in ("bigint", "long"):
            return df.withColumn("ts_us", F.expr("ts div 1000"))
        return df.withColumn(
            "ts_us", F.unix_micros(F.col("ts").cast("timestamp_ltz")))
    return read_table(spark, f"{sf_dir}/{name}.parquet")


def dsum(col, scale: int = 4, alias: str | None = None):
    """Exact (decimal) sum of a double column — see module docstring.

    Accumulation is exact decimal (order-independent); the *final* value
    is cast to DOUBLE so the output representation is a plain IEEE
    float64 in every engine. Identical decimal sums → identical doubles,
    and the driver's canonicalization hashes doubles identically across
    Spark and DuckDB (decimal objects hash differently per engine even
    when value-equal)."""
    c = (F.sum(F.col(col).cast(f"decimal(18,{scale})") if isinstance(col, str)
               else col.cast(f"decimal(18,{scale})"))
         .cast(f"decimal(38,{scale})").cast("double"))
    return c.alias(alias) if alias else c


def _dsum_sql(expr: str, scale: int = 4) -> str:
    return (f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale})))"
            f" AS DECIMAL(38,{scale})) AS DOUBLE)")


#: normalized-text / token-list SQL fragments shared by text oracles; a
#: blank text has no tokens (DuckDB, like Spark, splits '' into [''])
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS = f"list_filter(string_split({_NORM}, ' '), x -> x <> '')"
#: the documents that have tokens: a non-whitespace character in the text
_HAS_TEXT = "regexp_matches(text, '\\S')"

