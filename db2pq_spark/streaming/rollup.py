"""Streaming materialized-aggregate maintenance.

[extension — the reference has no streaming surface (SURVEY §2.12);
this pairs :meth:`~db2pq_spark.core.Engine.refresh_rollup` with
Structured Streaming: a continuously-arriving stream keeps a stored
summary table fresh, micro-batch by micro-batch.]

Design: ``foreachBatch`` folds each micro-batch into the rollup with
the batch Engine path, so storage semantics (atomic promote, sidecar
freshness) are identical to batch-maintained rollups. Additive folds
are NOT naturally idempotent — a replayed micro-batch would
double-count — so the applied batch id rides in the table's sidecar,
which is written inside the temp directory and promoted atomically
*with* the folded data: after a crash, either the fold and its batch
id both landed (replay skipped) or neither did (replay re-folds).
That turns foreachBatch's at-least-once into exactly-once.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from db2pq_spark.sinks.parquet_sink import read_sidecar, table_path


def _applied_batch(table_dir: Path) -> int | None:
    return read_sidecar(table_dir).get("stream_batch_id")


def _applied_checkpoint(table_dir: Path) -> str | None:
    return read_sidecar(table_dir).get("stream_checkpoint")


def stream_rollup(
    stream_df: DataFrame,
    engine,
    schema: str,
    table: str,
    keys: list[str],
    aggs: dict[str, str],
    checkpoint_dir: str | Path | None = None,
    last_modified: str | None = None,
    trigger_available_now: bool = True,
):
    """Start a streaming query maintaining the rollup table
    ``<data_dir>/<schema>/<table>.parquet`` from ``stream_df``.

    ``keys``/``aggs`` as in :meth:`Engine.refresh_rollup` (mergeable
    sum/min/max + count). Returns the started ``StreamingQuery``.
    """
    final = table_path(engine.data_dir, schema, table)
    ckpt = str(checkpoint_dir) if checkpoint_dir is not None \
        else str(final.parent / f".checkpoint_rollup_{table}")
    ckpt_id = str(Path(ckpt).resolve())

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # The batch-id guard is only meaningful within ONE checkpoint
        # lineage: a fresh/reset checkpoint restarts ids at 0, and
        # silently skipping those batches (old behavior) loses data,
        # while folding them double-counts whatever the table already
        # holds. Neither is recoverable after the fact — fail loudly.
        applied_ckpt = _applied_checkpoint(final)
        if applied_ckpt is not None and applied_ckpt != ckpt_id:
            raise RuntimeError(
                f"rollup {schema}.{table} was maintained from checkpoint "
                f"{applied_ckpt!r} but this query uses {ckpt_id!r}; "
                "reuse the original checkpoint, or drop/rebuild the "
                "rollup table before switching checkpoints")
        applied = _applied_batch(final)
        if applied is not None and batch_id <= applied:
            return                      # replayed batch: already folded
        engine.refresh_rollup(
            batch_df, schema, table, keys, aggs,
            last_modified=last_modified,
            sidecar_extra={"stream_batch_id": batch_id,
                           "stream_checkpoint": ckpt_id},
        )

    writer = stream_df.writeStream.foreachBatch(_fold) \
        .option("checkpointLocation", ckpt)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
