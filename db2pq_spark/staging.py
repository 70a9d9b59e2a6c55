"""The engine's one way to stage an intermediate relation.

Operators stage a relation when several plan branches consume it and
recomputing it per branch is expensive (lambdas under a ``Generate``
defeat exchange-reuse canonicalization, so an unstaged multi-consumer
plan really re-runs the pass per consumer), or when an iterative
algorithm must cut its lineage each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once via ``localCheckpoint`` and return the
    staged relation.

    The trade-off, stated once for every call site:

    - **Serialized row blocks, not the columnar cache.** The blocks are
      stored MEMORY_AND_DISK as serialized rows. ``DataFrame.persist``
      builds a columnar ``InMemoryRelation``, which is expensive for
      array-heavy relations (shingle sets, span keys, packed suffix
      levels) — measured ~1.3× slower whole-op for MinHash at sf0.1.
    - **Executor loss fails the job loudly.** Lineage is truncated, so
      a lost executor's blocks cannot be recomputed; the job fails
      instead of silently re-deriving a (possibly differently
      partitioned) relation. Fine single-node or with an external
      shuffle service; deployments under executor churn accept it.
    - **No lifetime management.** The ContextCleaner frees the blocks
      when the staged DataFrame is garbage-collected; nothing grows
      for the session's lifetime.
    - **Lazy vs eager.** ``eager=False`` materializes the rows inside
      the first job that reads the relation. That first consumer must
      be a single sequenced action (a collect, count or the one
      downstream job), never a broadcast build: concurrently launched
      broadcast jobs do not deduplicate an in-flight RDD, so each
      would compute the relation. Sites whose first consumers run
      concurrently, or that must observe the materialized plan before
      continuing (the per-round lineage cut of iterative algorithms),
      pass ``eager=True``. Even lazy, the call is not free when ``df``
      holds an exchange: ``localCheckpoint`` builds the RDD from the
      physical plan, and under AQE that runs every query stage below
      it (a shuffle map, a broadcast build) as a job at the call. A
      narrow ``df`` submits no job at the call, a ``repartition``
      input one (pinned in ``tests/test_staging.py``).

    Note that ``localCheckpoint`` under AQE erases
    ``outputPartitioning`` (the scan reports UnknownPartitioning), so
    partitioning the input before staging buys nothing downstream."""
    return df.localCheckpoint(eager=eager)
