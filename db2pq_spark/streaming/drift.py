"""Streaming corpus-drift monitor.

[extension — the reference has no streaming surface (SURVEY §2.12)]
The streaming capstone of the drift/QA family: compose
:func:`db2pq_spark.operators.quality.token_drift` with the
``foreachBatch`` exactly-once discipline of
:mod:`db2pq_spark.streaming.rollup`. The standing corpus never exists
as text here — only its TOKEN COUNTS, persisted as a stamped rollup
table ``(tok, n)`` maintained by this monitor itself. Per micro-batch
of newly crawled documents:

1. emit the batch's top-k KL(batch ‖ standing) contributions against
   the CURRENT standing counts (``on_batch`` receives them — the
   admission gate a CCNet-style pipeline alarms on), then
2. fold the batch's token counts into the standing table via
   ``Engine.refresh_rollup`` — the sidecar carries the applied batch
   id and checkpoint lineage, promoted atomically WITH the folded
   data, so a replayed micro-batch (crash between fold and commit)
   skips BOTH the fold and the emission: the at-least-once
   ``foreachBatch`` contract becomes exactly-once for the state and
   at-most-once-per-lineage for the alarm stream.

Tokenizer identity is stamped into the sidecar (``td_tokenizer``): the
standing counts are only comparable to batches tokenized the same way,
so a monitor wired against a table built under a different tokenizer
refuses EAGERLY, before the first trigger fires (the q141/q142/q154
eager-validation discipline).

Scale: the standing corpus is never rescanned — each trigger costs one
token aggregate over the micro-batch, one full-outer merge against the
(zipf-bounded) standing count relation, a 1-row totals broadcast and a
k-row TakeOrdered; the fold is ``refresh_rollup``'s
|delta| + |groups| union-aggregate. Identical to what the q164 batch
gate certifies, minus re-reading the corpus.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db2pq_spark.sinks.parquet_sink import read_sidecar, table_path
from db2pq_spark.staging import stage
from db2pq_spark.streaming.rollup import _applied_batch, _applied_checkpoint

__all__ = ["stream_token_drift", "init_token_counts", "TOKENIZER_ID"]

#: identity of the tokenization the standing counts were built under
#: (operators/dedup.py:doc_tokens). Bump when the tokenizer changes
#: incompatibly. v2: whitespace collapses before the trim, so an edge
#: tab/CR/LF and a blank document no longer count an empty token.
TOKENIZER_ID = "ws_norm_v2"


def _token_rows(df: DataFrame, text_col: str) -> DataFrame:
    from db2pq_spark.operators.dedup import doc_tokens

    return doc_tokens(df, text_col, None).select(
        F.explode("_toks").alias("tok"))


def _stamped_tokenizer(table_dir: Path) -> str | None:
    return read_sidecar(table_dir).get("td_tokenizer")


def init_token_counts(
    engine, docs: DataFrame, schema: str, table: str,
    text_col: str = "text", last_modified: str | None = None,
) -> Path:
    """Seed the standing token-count table ``(tok, n)`` from an
    existing corpus — one token aggregate, written through
    ``refresh_rollup`` so the storage shape and the ``td_tokenizer``
    stamp are exactly what :func:`stream_token_drift` maintains.
    Calling it twice FOLDS (the rollup contract: deltas are new rows)
    — seed once, then hand the table to the monitor."""
    return engine.refresh_rollup(
        _token_rows(docs, text_col), schema, table, ["tok"], {},
        last_modified=last_modified,
        sidecar_extra={"td_tokenizer": TOKENIZER_ID})


def stream_token_drift(
    doc_stream: DataFrame,
    engine,
    schema: str,
    table: str,
    on_batch,
    text_col: str = "text",
    alpha: float = 1.0,
    k: int = 30,
    checkpoint_dir: str | Path | None = None,
    trigger_available_now: bool = True,
):
    """Start the drift monitor: per micro-batch of documents, call
    ``on_batch(topk_df, batch_id)`` with the batch's top-``k``
    ``(tok, cnt_a, cnt_b, kl_term)`` against the CURRENT standing
    counts at ``<data_dir>/<schema>/<table>.parquet``, then fold the
    batch's counts in exactly-once. A missing standing table means a
    cold start: the first batch scores against an empty standing
    corpus (all ``cnt_a = 0``) and creates the table. Returns the
    started ``StreamingQuery``.

    ``on_batch`` receives an eagerly staged k-row relation
    (:func:`..staging.stage`) — materialized before the fold rewrites
    the standing table it reads, so it stays valid after the fold,
    across triggers, and after the query stops.
    """
    final = table_path(engine.data_dir, schema, table)
    stamped = _stamped_tokenizer(final)
    if stamped is not None and stamped != TOKENIZER_ID:
        raise ValueError(
            f"standing counts {schema}.{table} were built under "
            f"tokenizer {stamped!r}; this monitor tokenizes with "
            f"{TOKENIZER_ID!r} — rebuild the table or use the "
            "matching monitor version")
    ckpt = str(checkpoint_dir) if checkpoint_dir is not None \
        else str(final.parent / f".checkpoint_drift_{table}")
    ckpt_id = str(Path(ckpt).resolve())

    from db2pq_spark.operators.quality import token_drift_counts

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        applied_ckpt = _applied_checkpoint(final)
        if applied_ckpt is not None and applied_ckpt != ckpt_id:
            raise RuntimeError(
                f"standing counts {schema}.{table} were maintained "
                f"from checkpoint {applied_ckpt!r} but this query "
                f"uses {ckpt_id!r}; reuse the original checkpoint, "
                "or drop/rebuild the table before switching")
        applied = _applied_batch(final)
        if applied is not None and batch_id <= applied:
            return              # replayed batch: emitted AND folded
        toks = _token_rows(batch_df, text_col)
        if final.exists():
            ca = engine.read_pq(schema, table) \
                .select("tok", F.col("n").alias("cnt_a"))
        else:                   # cold start: empty standing corpus
            ca = engine.spark.createDataFrame(
                [], "tok string, cnt_a long")
        cb = toks.groupBy("tok").agg(F.count("*").alias("cnt_b"))
        top = stage(token_drift_counts(ca, cb, alpha=alpha, k=k),
                    eager=True)
        on_batch(top, batch_id)
        engine.refresh_rollup(
            toks, schema, table, ["tok"], {},
            sidecar_extra={"td_tokenizer": TOKENIZER_ID,
                           "stream_batch_id": batch_id,
                           "stream_checkpoint": ckpt_id})

    writer = doc_stream.writeStream.foreachBatch(_process) \
        .option("checkpointLocation", ckpt)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
