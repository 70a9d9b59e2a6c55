"""Streaming ingest into the parquet repository.

[extension — the reference's sync is batch-only (db2pq/core.py:895-952);
this is its Structured-Streaming twin: a continuously-arriving source
lands in the same repository layout, with the same freshness sidecar,
incrementally.]

Design: ``foreachBatch`` hands each micro-batch to a normal batch
writer, so the repository sink (atomic promote, sidecar metadata) is
reused unchanged. Appends go to the live table directory as new part
files — readers never see a half-written file (parquet files appear
atomically via Spark's rename-on-commit), and the sidecar update is a
single atomic file replace. Exactly-once comes from the checkpoint: a
replayed micro-batch overwrites its own output deterministically via
the per-batch subdirectory name.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from db2pq_spark.sinks.parquet_sink import _write_sidecar, table_path


def stream_to_pq(
    stream_df: DataFrame,
    data_dir: str | Path,
    schema: str,
    table: str,
    checkpoint_dir: str | Path | None = None,
    last_modified: str | None = None,
    trigger_available_now: bool = True,
):
    """Start a streaming query that lands micro-batches in the
    repository table ``<data_dir>/<schema>/<table>.parquet``.

    Each micro-batch writes to a hidden temp directory, then its part
    files move into the (flat) table directory under batch-id-prefixed
    names. Replays after failure first clear that batch's files, making
    the sink idempotent (the checkpoint pins the batch id); each file
    appears atomically via rename, so concurrent readers never see a
    torn file. A flat directory — not ``batch=<id>`` subdirs — keeps
    the table's read schema identical to an exported table's (hive-style
    subdirs would surface a phantom partition column). The freshness
    sidecar is refreshed after every batch with the batch id and a
    wall-clock stamp, plus the caller's ``last_modified`` comment if
    given — so :func:`~db2pq_spark.sinks.parquet_sink.get_modified_pq`
    and the sync kernel work on streamed tables exactly as on exported
    ones.

    Returns the started ``StreamingQuery`` (caller awaits/stops).
    """
    final = table_path(data_dir, schema, table)
    final.mkdir(parents=True, exist_ok=True)
    ckpt = str(checkpoint_dir) if checkpoint_dir is not None \
        else str(final.parent / f".checkpoint_{table}")
    # sweep temp dirs orphaned by crashed batches (their names are
    # unique per batch/process, so nothing else ever reclaims them;
    # safe under the one-active-writer-per-table contract the
    # checkpoint already implies)
    import shutil as _shutil

    for stale in final.parent.glob(f".stream_tmp_{table}_*"):
        _shutil.rmtree(stale, ignore_errors=True)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # per-batch + per-process temp dir: a shared name would let two
        # concurrent queries (or an overlapping retry) clobber each
        # other's half-written batch
        import os as _os
        import uuid as _uuid

        tmp = final.parent / (f".stream_tmp_{table}_{batch_id}"
                              f"_{_os.getpid()}_{_uuid.uuid4().hex[:8]}")
        batch_df.write.mode("overwrite").parquet(str(tmp))
        prefix = f"batch{batch_id:08d}_"
        for stale in final.glob(f"{prefix}*.parquet"):  # replay idempotence
            stale.unlink()
        for i, part in enumerate(sorted(tmp.glob("part-*.parquet"))):
            part.replace(final / f"{prefix}{i:04d}.parquet")
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        # no recorded schema: appended batches are read with inference
        _write_sidecar(final, last_modified, {"stream_batch_id": batch_id})

    writer = stream_df.writeStream.foreachBatch(_sink) \
        .option("checkpointLocation", ckpt)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
