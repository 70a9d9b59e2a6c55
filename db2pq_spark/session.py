"""SparkSession factory tuned for this engine.

Local-mode defaults are sized from the environment (cores via
:func:`usable_cores`); on a real cluster every knob here is still the
right baseline: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), UTC session timezone (the reference normalizes all
timestamps to UTC — db2pq/files/parquet.py:122-157), Arrow enabled for
the Pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def usable_cores() -> int:
    """The cores this process may run on: ``SPARK_GRAFT_CPUS`` when
    set, else the size of the process's CPU affinity mask (taskset and
    cgroup cpusets shrink it; ``os.cpu_count()`` counts host cores
    regardless)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platform without an affinity API
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "db2pq_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale callers should pass ~2-3× total executor cores instead; AQE
    coalesces the excess at runtime.
    """
    cpus = usable_cores()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = SparkSession.builder
    # Respect a deployment-provided master (spark-submit --master sets
    # spark.master in system properties / SparkConf); only default to
    # local[N] when nothing chose a master — otherwise a cluster job
    # would silently collapse onto the driver.
    from pyspark import SparkConf

    if not SparkConf().contains("spark.master"):
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate adds `size(g) > 0 AND isnotnull(g)`
        # below every explode; when the generator input is a computed
        # expression (tokenize+hash arrays — this workload's dominant
        # explode shape) the pushed-down filter re-evaluates the WHOLE
        # expression a second time per row at the scan, and the
        # predicate can never reach parquet PushedFilters (derived
        # column). Excluding the rule removes the duplicate evaluation;
        # semantics are unchanged (explode drops empty arrays itself).
        # Measured: q144 4.0 -> 2.8 s, q142 2.5 -> 1.8 s noop at sf0.1.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # when a join can't broadcast, prefer a shuffled-hash join over
        # sort-merge: neither input gets sorted, and the planner only
        # picks hash when the build side fits a per-partition map
        # (canBuildLocalHashMap), so huge-by-huge joins still fall back
        # to sort-merge. Lets AQE choose broadcast/hash by runtime size
        # without per-operator join hints pinning a strategy.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # snappy: matches the reference's pyarrow default and writes ~1.8×
        # faster than zstd on this workload; flip to zstd via extra_conf
        # when storage/scan I/O dominates (typical at 100 TB).
        .config("spark.sql.parquet.compression.codec", "snappy")
        # 32g: the extension operators materialize wide shingle/array
        # intermediates; at 16g a long bench session spends whole
        # seconds in GC (q36 measured 4s → 20s late in a run). On a
        # cluster this maps to ordinary executor sizing, not a driver
        # requirement.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Whole-stage codegen emits one JIT-compiled class per stage; a
        # long-lived session running this engine's 100+-query surface
        # overflows the JVM's default 240 MB code cache, after which the
        # JIT stops compiling and queries silently degrade 10-20× (we
        # measured q98 1.6s → 23s in a 60-query session). Reserve enough
        # for the whole surface up front.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        # managed (bucketed) tables land outside the repo; static conf,
        # effective for the session that creates the metastore
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The only unpartitioned windows this engine ever plans are the
    # BOUNDED fast paths in operators/ranking.py (≤100k rows, enforced
    # by a row-count assert) — there the coalesce(1) window is the
    # intended plan, but WindowExec logs its single-partition warning
    # anyway, and that noise is indistinguishable from a real
    # regression when triaging bench/driver logs. Raise just that
    # class's log threshold; every unbounded ranking path uses the
    # two-stage distributed construction and never hits WindowExec
    # unpartitioned.
    #
    # DOCUMENTED TRADEOFF: the suppression is session-global (log
    # levels are JVM state; the warning fires at execution time, far
    # from the DataFrame-building code, so it cannot be scoped to the
    # vetted fast path). A future unpartitioned window planned by
    # mistake would therefore not warn at runtime — the guard against
    # that lives in the test suite instead: tests/test_plan_hygiene.py
    # ::TestRegistryWindowHygiene sweeps EVERY registry query's plan
    # and fails on any single-partition window outside the audited
    # bounded fast paths.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:  # pragma: no cover - log4j API drift is cosmetic
        pass
    return spark
