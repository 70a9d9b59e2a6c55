"""Parquet repository sink.

Reference behavior being re-expressed (db2pq/files/parquet.py:611-721,
db2pq/files/paths.py:62-105):

- repository layout ``<data_dir>/<schema>/<table>.parquet`` with replaced
  versions under ``<schema>/archive/<table>_<UTCstamp>.parquet``
- temp-write + atomic promote (never expose a half-written table)
- ``last_modified`` freshness metadata embedded with the data
- zero-row result → nothing written, return ``None``
  (db2pq/core.py:222-224)
- row-group size control (db2pq/files/parquet.py:221-252)

Spark-first adaptation: a "table" is a **directory** of part files —
that's what scales to 1000 executors writing in parallel; the reference's
single-file layout is available as ``single_file=True`` compat mode
(streams the Spark output through one pyarrow writer and embeds
``last_modified`` in the real parquet footer, byte-compatible with the
reference's reader at db2pq/files/parquet.py:280-292).

Freshness metadata for directory tables lives in a ``_last_modified.json``
sidecar *inside* the table directory: it travels with the atomic
directory rename (same atomicity domain as the data) and the leading
underscore keeps Spark's reader from scanning it. Its keys:

- ``last_modified`` — the source's freshness comment (or ``null``);
- ``written_at`` — UTC ISO time of the write;
- ``spark_schema`` — the written DataFrame's schema as Spark's JSON, on
  unpartitioned tables only. :func:`read_table` reads with it, so a
  read submits no schema-inference job (see SCALE.md, "Repository
  reads");
- any ``sidecar_extra`` keys the caller adds (the streaming modules'
  batch ids, checkpoint and tokenizer stamps).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from db2pq_spark.sync.timestamps import (
    UNKNOWN_MODIFIED,
    last_modified_dttm,
    utc_stamp,
)

SIDECAR = "_last_modified.json"
#: default row-group target, matching the reference (db2pq/core.py:53)
DEFAULT_ROW_GROUP_ROWS = 1_048_576
#: byte cap per row group (db2pq/files/parquet.py:17)
ROW_GROUP_BYTE_CAP = 256 * 1024 * 1024


def table_path(data_dir: str | Path, schema: str, table: str) -> Path:
    """``<data_dir>/<schema>/<table>.parquet`` (db2pq/files/paths.py:19-25)."""
    return Path(data_dir) / schema / f"{table}.parquet"


def archive_dir(data_dir: str | Path, schema: str) -> Path:
    return Path(data_dir) / schema / "archive"


def temp_path(data_dir: str | Path, schema: str, table: str) -> Path:
    """Hidden temp target; promoted atomically (db2pq/files/paths.py:62-72)."""
    return Path(data_dir) / schema / f".temp_{table}.parquet"


def parked_path(data_dir: str | Path, schema: str, table: str) -> Path:
    """Where the live table is parked during the two-rename swap."""
    return Path(data_dir) / schema / f".old_{table}.parquet"


def parked_parts_path(data_dir: str | Path, schema: str,
                      table: str) -> Path:
    """Where a partition-scoped merge parks each live partition it
    swaps, under the partition's own ``col=val`` path (hidden, so
    readers skip it)."""
    return table_path(data_dir, schema, table) / ".old_parts"


def recover_parked(data_dir: str | Path, schema: str, table: str,
                   min_age_seconds: float = 0.0) -> bool:
    """Heal the swap's crash window. POSIX rename cannot replace a
    non-empty directory, so promotion is two renames (park old →
    promote new); a crash between them leaves ``.old_<table>.parquet``
    beside a *missing* table. Restore it (returns True). A parked copy
    beside a *present* table is the post-promote leftover of a crash
    before cleanup — remove it. The partition-scoped merge swaps
    partitions the same way, parking them under
    :func:`parked_parts_path`; each parked partition whose live copy
    is missing is restored the same way (returns True), the rest
    removed. Without a crash this costs two ``stat`` calls, no
    directory listing.

    ``min_age_seconds`` guards concurrent readers against racing a
    *live* writer's swap (the two renames are microseconds apart; a
    genuinely crashed swap leaves the parked copy untouched forever):
    artifacts younger than the threshold are left alone. The writer
    stamps the parked directory's mtime at park time (rename alone
    would keep the content-write mtime, which can be arbitrarily old),
    so the age check measures the swap itself. Writers — the
    repository's single mutator per table — pass 0."""
    final = table_path(data_dir, schema, table)
    parked = parked_path(data_dir, schema, table)
    restored = False
    if _settled(parked, min_age_seconds):
        if final.exists():
            _rm(parked)                 # stale: promote completed
        else:
            os.replace(parked, final)   # crash mid-swap: restore
            restored = True
    parts = parked_parts_path(data_dir, schema, table)
    if _settled(parts, min_age_seconds):
        leaves = [Path(d) for d, subdirs, _ in os.walk(parts)
                  if d != str(parts) and not any("=" in s for s in subdirs)]
        for leaf in leaves:
            live = final / leaf.relative_to(parts)
            if not live.exists():
                live.parent.mkdir(parents=True, exist_ok=True)
                os.replace(leaf, live)
                restored = True
        _rm(parts)
    return restored


def _settled(parked: Path, min_age_seconds: float) -> bool:
    """Whether parked copy ``parked`` exists and is at least
    ``min_age_seconds`` old (a younger one may belong to a live swap:
    hands off)."""
    import time

    try:
        mtime = parked.stat().st_mtime
    except OSError:                     # absent, or the writer finished
        return False
    return min_age_seconds <= 0 or time.time() - mtime >= min_age_seconds


def write_parquet(
    df: DataFrame,
    data_dir: str | Path,
    schema: str,
    table: str,
    last_modified: str | None = None,
    row_group_rows: int = DEFAULT_ROW_GROUP_ROWS,
    single_file: bool = False,
    archive: bool = False,
    partition_by: list[str] | None = None,
    sidecar_extra: dict | None = None,
) -> Path | None:
    """Export a DataFrame into the repository; returns final path or
    ``None`` when the result is empty.

    Pipeline: Spark writes the temp location (parallel, committed by
    Spark's own protocol) → freshness metadata attached → existing table
    archived or removed → atomic rename into place. A crash before the
    final rename leaves the current table untouched.

    ``partition_by`` hive-partitions the table directory
    (``.../table.parquet/col=value/part-*.parquet``) — the scale-path
    layout: readers filtering on partition columns prune whole
    directories before any I/O (PartitionFilters in the scan). No
    reference counterpart (single files there); ``partition_by`` and
    ``single_file`` are mutually exclusive.
    """
    if partition_by and single_file:
        raise ValueError("partition_by and single_file are mutually exclusive")
    if sidecar_extra and single_file:
        raise ValueError("sidecar_extra requires directory mode "
                         "(single files carry footer metadata only)")
    if sidecar_extra and "spark_schema" in sidecar_extra:
        raise ValueError("spark_schema is the sink's own sidecar key")
    final = table_path(data_dir, schema, table)
    tmp = temp_path(data_dir, schema, table)
    final.parent.mkdir(parents=True, exist_ok=True)
    recover_parked(data_dir, schema, table)
    _rm(tmp)

    writer = (
        df.write.mode("overwrite")
        .option("parquet.block.size", ROW_GROUP_BYTE_CAP)
        .option("maxRecordsPerFile", row_group_rows)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(tmp))

    # Zero-row check from the written footers (count_rows reads metadata
    # only) — NOT df.isEmpty(), which would execute the source plan a
    # second time (for JDBC sources: re-run the query on the server).
    if _count_rows(tmp) == 0:
        _rm(tmp)
        return None

    if single_file:
        _collapse_to_single_file(tmp, last_modified)
    else:
        # a hive-partitioned table's partition-column types come from
        # re-inferring its directory names, so it records no schema
        _write_sidecar(tmp, last_modified, sidecar_extra,
                       None if partition_by else df.schema)

    if final.exists():
        if archive:
            archive_existing(data_dir, schema, table)  # rename, atomic
            os.replace(tmp, final)
            return final
        # POSIX rename cannot replace a non-empty directory, so a true
        # single-syscall swap is impossible; minimize the exposure to
        # two renames (old table is parked, never rmtree'd while live).
        # A crash between them leaves `.old_<table>.parquet` next to a
        # missing table — recover_parked() (run on every read/write)
        # restores it, so the window is self-healing.
        parked = parked_path(data_dir, schema, table)
        _rm(parked)
        os.replace(final, parked)
        # rename(2) keeps the directory's old mtime (when its contents
        # were written, typically long ago) — stamp the actual park time
        # so recover_parked's min_age_seconds guard measures the swap's
        # age, not the table's.
        os.utime(parked)
        os.replace(tmp, final)
        _rm(parked)
        return final
    os.replace(tmp, final)
    return final


def _count_rows(path: Path) -> int:
    """Row count from parquet footers (metadata-only, no data I/O)."""
    import pyarrow.dataset as ds

    return ds.dataset(str(path), format="parquet").count_rows()


def _write_sidecar(table_dir: Path, last_modified: str | None,
                   extra: dict | None = None,
                   spark_schema: StructType | None = None) -> None:
    payload = {
        "last_modified": last_modified,
        "written_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        **(extra or {}),
    }
    if spark_schema is not None:
        payload["spark_schema"] = spark_schema.jsonValue()
    # write-then-rename: a partitioned merge rewrites a live table's
    # sidecar in place, and every read_table parses it
    tmp = table_dir / (SIDECAR + ".tmp")
    tmp.write_text(json.dumps(payload))
    os.replace(tmp, table_dir / SIDECAR)


def read_sidecar(table_dir: str | Path) -> dict:
    """A directory table's sidecar as a dict; ``{}`` when it has none
    (single files, hand-made or fixture tables)."""
    try:
        return json.loads((Path(table_dir) / SIDECAR).read_text())
    except (FileNotFoundError, NotADirectoryError):
        return {}


def read_table(spark: SparkSession, path: str | Path) -> DataFrame:
    """Read a repository table. A table whose sidecar recorded its
    written schema is read with it — Spark then skips the footer
    schema-inference job it would otherwise run on every read. Every
    other table (hive-partitioned, single-file, streamed, hand-made, or
    written before the sink recorded schemas) is read with inference."""
    recorded = read_sidecar(path).get("spark_schema")
    if recorded is None:
        return spark.read.parquet(str(path))
    return spark.read.schema(StructType.fromJson(recorded)).parquet(str(path))


def _collapse_to_single_file(tmp: Path, last_modified: str | None) -> None:
    """Stream the Spark-written directory into one parquet file with
    ``last_modified`` in the footer metadata (reference parity:
    db2pq/files/parquet.py:637-641). Batch-at-a-time — memory stays
    bounded regardless of table size, though a single file is inherently
    a single-writer path; use directory mode at scale."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    dataset = ds.dataset(str(tmp), format="parquet")
    arrow_schema = dataset.schema
    if last_modified is not None:
        meta = dict(arrow_schema.metadata or {})
        meta[b"last_modified"] = last_modified.encode()
        arrow_schema = arrow_schema.with_metadata(meta)
    out = tmp.with_name(tmp.name + ".onefile")
    with pq.ParquetWriter(out, arrow_schema) as writer:
        for batch in dataset.to_batches():
            writer.write_batch(batch.cast(dataset.schema))
    _rm(tmp)
    os.replace(out, tmp)


def get_modified_pq(path: str | Path) -> str | None:
    """Read a table's ``last_modified`` (reference
    db2pq/files/parquet.py:280-292). Directory tables → sidecar; single
    files (ours or reference-written) → parquet footer metadata."""
    p = Path(path)
    if p.is_dir():
        return read_sidecar(p).get("last_modified")
    if p.is_file():
        import pyarrow.parquet as pq

        meta = pq.read_schema(p).metadata or {}
        raw = meta.get(b"last_modified")
        return raw.decode() if raw is not None else None
    return None


def archive_existing(data_dir: str | Path, schema: str, table: str) -> Path | None:
    """Move the active table to ``archive/<table>_<UTCstamp>.parquet``
    (stamp parsed from its own freshness metadata, else
    ``unknown_modified`` — db2pq/files/paths.py:75-97)."""
    src = table_path(data_dir, schema, table)
    if not src.exists():
        return None
    modified = get_modified_pq(src)
    stamp = utc_stamp(last_modified_dttm(modified)) if modified else UNKNOWN_MODIFIED
    adir = archive_dir(data_dir, schema)
    adir.mkdir(parents=True, exist_ok=True)
    dest = adir / f"{table}_{stamp}.parquet"
    _rm(dest)
    os.replace(src, dest)
    return dest


def _rm(path: Path) -> None:
    if path.is_dir():
        shutil.rmtree(path)
    elif path.exists():
        path.unlink()
