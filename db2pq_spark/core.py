"""Engine orchestration: the reference's top-level entry points on Spark.

Flow parity (SURVEY §3):

- ``db_to_pq``    — table export: plan → read → transform → parquet sink
  (reference db2pq/core.py:43-265)
- ``sql_to_pq``   — arbitrary-query export (reference wrds_sql_to_pq,
  db2pq/core.py:529-661); here the query can run server-side (JDBC
  ``query`` option — reference semantics) or Spark-side over registered
  views
- ``df_to_pq``    — any DataFrame export; the Ibis-expression equivalent
  (reference ibis_to_pq, db2pq/ibis.py:17-146 — a DataFrame *is* the
  expression tree)
- ``update_pq``   — conditional export: compare source freshness comment
  against the stored table's ``last_modified``; skip / refuse / force
  (reference _update_pq, db2pq/core.py:895-952)
- ``schema_to_pq`` / ``update_schema`` — per-schema loops
  (db2pq/core.py:765-892, 1217-1254)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

from db2pq_spark.functions.casts import apply_numeric_mode, resolve_numeric_mode
from db2pq_spark.functions.timestamps import normalize_timestamps
from db2pq_spark.plans.plan import build_plan
from db2pq_spark.sinks.parquet_sink import (
    get_modified_pq,
    read_table,
    table_path,
    write_parquet,
)
from db2pq_spark.sync.modified import modified_info, update_available


@dataclass
class UpdateResult:
    """Outcome of a conditional export (reference prints these as
    messages; we return them structured and print optionally)."""

    action: str  # "updated" | "skipped" | "refused" | "empty"
    table: str
    schema: str
    path: Path | None = None
    reason: str | None = None


@dataclass
class Engine:
    """A Parquet-repository engine bound to a SparkSession + data dir."""

    spark: SparkSession
    data_dir: str | Path
    single_file: bool = False
    verbose: bool = False
    _views: set[str] = field(default_factory=set, repr=False)

    # -- read side ---------------------------------------------------------

    def read_pq(self, schema: str, table: str) -> DataFrame:
        """Read a repository table back as a DataFrame (healing any
        interrupted promote swap first — see
        :func:`~db2pq_spark.sinks.parquet_sink.recover_parked`; the age
        guard keeps a concurrent reader from touching a live writer's
        in-flight swap). Reads with the schema the sink recorded, when
        it recorded one — see :func:`~db2pq_spark.sinks.parquet_sink.read_table`."""
        from db2pq_spark.sinks.parquet_sink import recover_parked

        recover_parked(self.data_dir, schema, table, min_age_seconds=10.0)
        return read_table(self.spark, table_path(self.data_dir, schema, table))

    # -- export flows ------------------------------------------------------

    def df_to_pq(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        keep=None,
        drop=None,
        rename: Mapping[str, str] | None = None,
        col_types: Mapping[str, str] | None = None,
        where: str | None = None,
        obs: int | None = None,
        numeric_mode: str | None = None,
        tz: str = "UTC",
        last_modified: str | None = None,
        archive: bool = False,
        row_group_rows: int = 1_048_576,
        partition_by: list[str] | None = None,
    ) -> Path | None:
        """Export any DataFrame through the full transform pipeline.

        Order matches the reference lifecycle (SURVEY §3.1): numeric-mode
        decimal handling → plan (filter/project/rename/cast/limit) →
        timestamp normalization → sink with freshness metadata.
        ``partition_by`` produces a hive-partitioned table (scale path).
        """
        resolve_numeric_mode(numeric_mode)  # validate early
        df = apply_numeric_mode(df, numeric_mode, explicit=col_types)
        plan = build_plan(
            df.columns, keep=keep, drop=drop, rename=rename,
            col_types=col_types, where=where, obs=obs,
        )
        out = plan.apply(df)
        out = normalize_timestamps(out, tz)
        path = write_parquet(
            out, self.data_dir, schema, table,
            last_modified=last_modified, single_file=self.single_file,
            archive=archive, row_group_rows=row_group_rows,
            partition_by=partition_by,
        )
        if self.verbose:
            print(f"{'wrote' if path else 'skipped empty'} {schema}.{table}"
                  + (f" -> {path}" if path else ""))
        return path

    def db_to_pq(
        self,
        source,
        schema: str,
        table: str,
        type_names: list[str] | None = None,
        partition_column: str | None = None,
        bounds: tuple[int, int] | None = None,
        num_partitions: int | None = None,
        alt_table: str | None = None,
        **export_kwargs,
    ) -> Path | None:
        """JDBC table export (reference flagship, db2pq/core.py:43-70).

        The plan's SELECT executes server-side via the JDBC ``query``
        option; with ``partition_column`` the pull parallelizes across
        executors (scale upgrade over the reference's single stream).
        ``alt_table`` renames the output (reference alt_table_name).
        """
        from db2pq_spark.sources.jdbc import jdbc_read_options, read_jdbc

        plan_kwargs = {k: export_kwargs.pop(k, None)
                       for k in ("keep", "drop", "rename", "col_types",
                                 "where", "obs")}
        if plan_kwargs["obs"] is not None and partition_column is not None:
            # each partition would re-execute the LIMIT subquery against
            # the source independently → nondeterministic union of up to
            # N×obs rows; an unordered LIMIT is only sound single-stream
            raise ValueError("obs (LIMIT) cannot be combined with a "
                             "partitioned read; drop partition_column or "
                             "apply the limit after ingest")
        # Plan needs source columns; without a live connection the caller
        # provides them, else we sample the table via a LIMIT-0 read.
        cols = export_kwargs.pop("source_columns", None)
        if cols is None:
            probe = read_jdbc(self.spark, jdbc_read_options(
                source, sql=f'SELECT * FROM "{schema}"."{table}" LIMIT 0'))
            cols = probe.columns
        plan = build_plan(cols, **plan_kwargs)
        opts = jdbc_read_options(
            source, plan=plan, schema=schema, table=table,
            type_names=type_names,
            partition_column=partition_column,
            lower_bound=bounds[0] if bounds else None,
            upper_bound=bounds[1] if bounds else None,
            num_partitions=num_partitions,
        )
        df = read_jdbc(self.spark, opts)
        # The plan (projection/rename/filter/limit) already executed
        # server-side. col_types is re-forwarded so apply_numeric_mode
        # knows which decimal columns are explicitly typed — the
        # 'explicit wins over numeric_mode' contract (casts.py) must
        # hold on this path too; re-casting an already-cast column is a
        # no-op Catalyst folds away.
        return self.df_to_pq(df, schema, alt_table or table,
                             col_types=plan_kwargs["col_types"],
                             **export_kwargs)

    def sql_to_pq(
        self,
        sql: str,
        schema: str,
        table: str,
        source=None,
        **export_kwargs,
    ) -> Path | None:
        """Arbitrary-SQL export. With ``source`` the SQL runs on the
        database (reference semantics — the source engine executes,
        db2pq/postgres/duckdb_pg.py:183-204); without, it runs in Spark
        over views registered with :meth:`register_views`."""
        if source is not None:
            from db2pq_spark.sources.jdbc import jdbc_read_options, read_jdbc

            df = read_jdbc(self.spark, jdbc_read_options(source, sql=sql))
        else:
            df = self.spark.sql(sql)
        return self.df_to_pq(df, schema, table, **export_kwargs)

    def file_to_pq(
        self,
        path: str | Path,
        fmt: str,
        schema: str,
        table: str,
        file_schema=None,
        options: Mapping[str, str] | None = None,
        **export_kwargs,
    ) -> Path | None:
        """Ingest a file-based source (csv/json/orc/parquet/text) into the
        repository through the same plan → normalize → sink pipeline as a
        database export.

        The reference ingests only databases and Parquet
        (db2pq/postgres/update.py:134-168); file formats are the Spark-side
        generalization — the DataFrameReader handles splitting, schema
        application, and malformed-record modes.

        Scale notes:

        - Pass ``file_schema`` (DDL string or StructType) for production
          loads: schema inference is a full extra pass over the data.
        - CSV/JSONL split per-file into line ranges and parallelize
          across executors; ``multiLine`` JSON/CSV is NOT splittable (one
          task per file) — keep it off for large inputs.
        - Malformed-record handling defaults to Spark's PERMISSIVE
          (nulls + ``_corrupt_record``); pass
          ``options={"mode": "FAILFAST"}`` for strict loads.
        """
        fmt = fmt.lower()
        supported = {"csv", "json", "orc", "parquet", "text", "binaryfile"}
        if fmt not in supported:
            raise ValueError(f"unsupported format {fmt!r}; "
                             f"expected one of {sorted(supported)}")
        if fmt == "binaryfile":
            if file_schema is not None:
                raise ValueError("binaryFile has a fixed schema "
                                 "(path, modificationTime, length, content)")
            fmt = "binaryFile"
        opts = dict(options or {})
        if fmt == "csv":
            opts.setdefault("header", "true")
            if file_schema is None:
                opts.setdefault("inferSchema", "true")
        reader = self.spark.read.format(fmt).options(**opts)
        if file_schema is not None:
            reader = reader.schema(file_schema)
        df = reader.load(str(path))
        return self.df_to_pq(df, schema, table, **export_kwargs)

    def csv_to_pq(self, path, schema: str, table: str, **kwargs) -> Path | None:
        """CSV ingest (header on by default; see :meth:`file_to_pq`)."""
        return self.file_to_pq(path, "csv", schema, table, **kwargs)

    def json_to_pq(self, path, schema: str, table: str, **kwargs) -> Path | None:
        """JSON-lines ingest (see :meth:`file_to_pq`)."""
        return self.file_to_pq(path, "json", schema, table, **kwargs)

    def binary_to_pq(self, path, schema: str, table: str,
                     glob: str | None = None, **kwargs) -> Path | None:
        """Raw-file ingest for the multimodal pipeline: every file under
        ``path`` (optionally filtered by ``glob``, e.g. ``*.jpg``)
        becomes one row of (path, modificationTime, length, content
        binary) — the repository-side twin of
        :func:`db2pq_spark.operators.multimodal.binarize`. Files are
        read executor-parallel; downstream decode/feature-extraction
        runs over the stored ``content`` column via ``mapInPandas``.
        [extension — Spark ``binaryFile`` source]"""
        options = dict(kwargs.pop("options", {}) or {})
        if glob is not None:
            options["pathGlobFilter"] = glob
        return self.file_to_pq(path, "binaryfile", schema, table,
                               options=options, **kwargs)

    def register_views(self, schema: str, tables: Iterable[str]) -> None:
        """Expose repository tables as SQL views for Spark-side
        ``sql_to_pq`` queries."""
        for tbl in tables:
            self.read_pq(schema, tbl).createOrReplaceTempView(tbl)
            self._views.add(tbl)

    def pq_to_db(
        self,
        schema: str,
        table: str,
        source,
        dest_schema: str | None = None,
        dest_table: str | None = None,
        mode: str = "overwrite",
        truncate: bool = False,
        method: str = "jdbc",
    ) -> None:
        """Reverse path: repository table → database (reference
        pq_update_pg / parquet_write_pg, db2pq/postgres/update.py:173-231,
        570-691). ``method="jdbc"`` (default): Spark creates the
        destination from the DataFrame schema and batch-INSERTs
        partition-parallel. ``method="copy"``: binary-COPY fast path
        (sinks/pg_copy.py, reference db2pq/postgres/copy.py:3-27) into
        an EXISTING table — one parallel COPY stream per partition,
        typically 5-10× faster than batch INSERT; requires psycopg on
        executors."""
        df = self.read_pq(schema, table)
        if method == "copy":
            # COPY is append-only into an existing table; silently
            # dropping overwrite/truncate semantics would double-load
            if mode != "append" or truncate:
                raise ValueError(
                    "method='copy' only supports mode='append' without "
                    "truncate — create/clear the destination first "
                    "(execute_sql) or use method='jdbc'")
            from db2pq_spark.sinks.pg_copy import write_pg_copy

            write_pg_copy(df, source, dest_schema or schema,
                          dest_table or table)
            return
        if method != "jdbc":
            raise ValueError(f"unknown method {method!r}; use 'jdbc' or 'copy'")
        from db2pq_spark.sources.jdbc import write_jdbc

        write_jdbc(df, source, dest_schema or schema, dest_table or table,
                   mode=mode, truncate=truncate)

    #: information_schema query a live deployment uses to enumerate a
    #: schema's tables (reference db_schema_tables,
    #: db2pq/postgres/schema.py:9-33) — run through sql via JDBC, then
    #: feed the result to schema_to_pq(tables=...)
    SCHEMA_TABLES_SQL = (
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = '{schema}' AND table_type = 'BASE TABLE' "
        "ORDER BY table_name"
    )

    def schema_to_pq(
        self,
        source,
        schema: str,
        tables: list[str] | None = None,
        **export_kwargs,
    ) -> dict[str, Path | None]:
        """Export every table of a schema (reference db_schema_to_pq,
        db2pq/core.py:765-892). ``tables`` may be supplied directly;
        otherwise they are enumerated from information_schema via JDBC
        (``SCHEMA_TABLES_SQL``)."""
        if tables is None:
            from db2pq_spark.sources.jdbc import jdbc_read_options, read_jdbc

            rows = read_jdbc(self.spark, jdbc_read_options(
                source, sql=self.SCHEMA_TABLES_SQL.format(schema=schema),
            )).collect()
            tables = [r[0] for r in rows]
        return {
            tbl: self.db_to_pq(source, schema, tbl, **export_kwargs)
            for tbl in tables
        }

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_by: str,
        num_buckets: int = 16,
        sort_by: str | None = None,
    ) -> None:
        """Write a bucketed managed table (``bucketBy`` + ``saveAsTable``).

        Bucketing pre-shuffles the data ONCE at write time; every later
        join or aggregation on ``bucket_by`` between tables bucketed the
        same way runs with **no Exchange** — the per-stage shuffle
        disappears from the plan (asserted in tests/test_scale_paths.py).
        This is the right layout for fact tables joined repeatedly on
        the same key at 100 TB. No reference counterpart (single-file
        Parquet there); requires a metastore-backed table rather than a
        bare directory."""
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        # a location orphaned by a previous session's metastore blocks
        # CREATE even after DROP — clear it (managed tables only)
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "")
        if warehouse.startswith("file:"):
            warehouse = warehouse[len("file:"):]
        leftover = Path(warehouse) / table if warehouse else None
        if leftover is not None and leftover.exists():
            import shutil

            shutil.rmtree(leftover, ignore_errors=True)
        writer = df.write.mode("overwrite").format("parquet") \
            .bucketBy(num_buckets, bucket_by)
        if sort_by:
            writer = writer.sortBy(sort_by)
        writer.saveAsTable(table)

    def compact(
        self,
        schema: str,
        table: str,
        target_mb: int = 128,
        cluster_by: str | list[str] | None = None,
        target_files: int | None = None,
    ) -> tuple[int, int]:
        """Rewrite a repository table into ~``target_mb`` files,
        optionally range-clustered on ``cluster_by``.

        The small-files problem is the dominant operational failure of
        long-lived parquet repositories at scale: thousands of tiny part
        files from incremental appends turn every scan into per-file
        open/footer overhead and blow up driver-side file listings.
        Compaction = read → repartition to the byte-target → atomic
        swap (same temp-promote protocol as any export, freshness
        metadata preserved).

        ``cluster_by`` additionally range-partitions + sorts the rewrite
        on a column, giving each output file a tight, mostly disjoint
        min/max range — parquet row-group statistics then let later
        scans with predicates on that column skip whole files. A LIST
        of columns switches to Z-order layout
        (:func:`db2pq_spark.operators.zorder.zorder`): the bit patterns
        interleave into one Morton key, so every output file is a small
        hyper-rectangle and min/max pruning works on ANY of the listed
        columns, not just the first.

        Returns (files_before, files_after). No reference counterpart
        (single-file tables there never fragment).
        """
        import math

        import pyarrow.dataset as ds
        from pyspark.sql import functions as F

        path = table_path(self.data_dir, schema, table)
        dataset = ds.dataset(str(path), format="parquet")
        files = list(dataset.files)
        total_bytes = sum(Path(f).stat().st_size for f in files)
        n_out = target_files if target_files is not None else \
            max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
        modified = get_modified_pq(path)

        # hive-partitioned table: the partition layout IS the pruning
        # contract — preserve it. Partition columns are parsed from the
        # on-disk directory names (col=value); rows re-hash on the
        # partition key plus (when the byte/file target asks for more
        # output files than partition values) a small salt, so a huge
        # partition value still splits across ~target-sized files
        # instead of funneling through one task.
        pcols = [seg.split("=", 1)[0]
                 for seg in Path(files[0]).relative_to(path).parts[:-1]
                 if "=" in seg] if files else []
        if pcols:
            if cluster_by is not None:
                raise ValueError(
                    "cluster_by is not supported on hive-partitioned "
                    "tables; the partition layout already provides "
                    "pruning on " + ", ".join(pcols))
            n_vals = len({Path(f).relative_to(path).parts[:-1]
                          for f in files}) or 1
            salt_k = max(1, math.ceil(n_out / n_vals))
            df = self.read_pq(schema, table)
            if salt_k > 1:
                # explicit partition count: an unnumbered repartition
                # would let AQE coalesce the salts back into one task,
                # silently ignoring the caller's byte/file target
                df = (df.withColumn(
                        "_salt",
                        F.pmod(F.monotonically_increasing_id(),
                               F.lit(salt_k)))
                      .repartition(max(n_out, salt_k * n_vals),
                                   *pcols, "_salt")
                      .drop("_salt"))
            else:
                df = df.repartition(*pcols)
            write_parquet(df, self.data_dir, schema, table,
                          last_modified=modified, partition_by=pcols)
            n_after = len(ds.dataset(str(path), format="parquet").files)
            if self.verbose:
                print(f"compacted {schema}.{table}: {len(files)} -> "
                      f"{n_after} files (partitioned by {pcols})")
            return len(files), n_after

        df = self.read_pq(schema, table)
        if isinstance(cluster_by, (list, tuple)) and len(cluster_by) > 1:
            from db2pq_spark.operators.zorder import zorder

            df = zorder(df, list(cluster_by), n_out)
        elif cluster_by is not None:
            if isinstance(cluster_by, (list, tuple)):
                cluster_by = cluster_by[0]
            df = (df.repartitionByRange(n_out, cluster_by)
                  .sortWithinPartitions(cluster_by))
        else:
            df = df.coalesce(n_out) if n_out < len(files) \
                else df.repartition(n_out)
        write_parquet(df, self.data_dir, schema, table,
                      last_modified=modified, single_file=self.single_file)
        n_after = len(ds.dataset(str(path), format="parquet").files)
        if self.verbose:
            print(f"compacted {schema}.{table}: {len(files)} -> {n_after} "
                  f"files ({total_bytes >> 20} MiB)")
        return len(files), n_after

    def analyze(
        self,
        schema: str,
        table: str,
        columns: list[str] | None = None,
    ) -> dict:
        """One-pass table statistics: row count, on-disk bytes, file
        count, and per-column min / max / approx-distinct / null count.

        The numbers that drive physical-plan decisions at scale: whether
        a join side fits the broadcast threshold, whether a key is
        skewed enough to salt (ndv ≪ rows), whether a filter column is
        clusterable (narrow min/max per file after compact). All column
        stats compute in ONE aggregation pass (a single job), not one
        scan per column. [extension — reference has only the NUMERIC
        bounds introspection, db2pq/postgres/introspect.py:1-53]
        """
        import pyarrow.dataset as ds

        path = table_path(self.data_dir, schema, table)
        files = list(ds.dataset(str(path), format="parquet").files)
        size_bytes = sum(Path(f).stat().st_size for f in files)

        df = self.read_pq(schema, table)
        from pyspark.sql import functions as F

        from pyspark.sql import types as T

        if columns is None:
            # maps/structs have no ordering — skip unless asked explicitly
            cols = [f.name for f in df.schema.fields
                    if not isinstance(f.dataType, (T.MapType, T.StructType))]
        else:
            cols = columns
        aggs = [F.count("*").alias("__rows")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"{c}__min"),
                F.max(c).alias(f"{c}__max"),
                F.approx_count_distinct(c).alias(f"{c}__ndv"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            ]
        row = df.agg(*aggs).first()
        return {
            "schema": schema,
            "table": table,
            "rows": row["__rows"],
            "bytes": size_bytes,
            "files": len(files),
            "columns": {
                c: {
                    "min": row[f"{c}__min"],
                    "max": row[f"{c}__max"],
                    "approx_ndv": row[f"{c}__ndv"],
                    "nulls": row[f"{c}__nulls"],
                }
                for c in cols
            },
        }

    def vacuum(
        self,
        schema: str,
        keep_last: int | None = None,
        older_than=None,
    ) -> list[str]:
        """Prune archived table versions by count and/or age
        (:func:`db2pq_spark.sinks.repository.pq_vacuum`). [extension —
        the reference archives but never prunes]"""
        from db2pq_spark.sinks.repository import pq_vacuum

        return pq_vacuum(self.data_dir, schema, keep_last=keep_last,
                         older_than=older_than)

    # -- sync / freshness ---------------------------------------------------

    def merge_pq(
        self,
        updates: DataFrame,
        schema: str,
        table: str,
        key_cols: list[str],
        delete_col: str | None = None,
        partition_cols: list[str] | None = None,
        last_modified: str | None = None,
        validate: bool = True,
    ) -> Path:
        """Incremental CDC merge (upsert + delete) into a repository
        table — the scale upgrade over the reference's full-table
        refresh (its only update path, db2pq/core.py:895-952 re-exports
        the whole table).

        Batch semantics: update rows whose ``key_cols`` match existing
        rows replace them; new keys are inserted; if ``delete_col``
        names a boolean column, rows where it is true delete their keys
        instead (the flag column is dropped from stored data). NULL
        keys never match and pass through as inserts.

        Two physical paths:

        - **Unpartitioned**: ``current LEFT ANTI JOIN update-keys``
          ∪ upserts → atomic full rewrite (temp + promote). One
          key-shuffle; correct but rewrites the table — fine for
          dimension-sized tables.
        - **Partitioned** (``partition_cols`` of a hive-partitioned
          table, which must appear in ``updates``): only the partitions
          containing updated keys — where updates land AND where those
          keys currently live, so keys that *move* partitions leave no
          stale copy behind — are read in full, merged, and swapped
          directory-by-directory; untouched partitions are never
          rewritten. Locating current key homes is a column-pruned
          key+partition scan (no data columns). This is what makes a
          100 TB fact table mergeable: rewrite cost scales with the
          touched slice, not the table.

        ``validate`` checks update keys are unique (one extra
        aggregate). Returns the table path.
        """
        import os

        from pyspark.sql import functions as F

        if not key_cols:
            raise ValueError("key_cols must be non-empty")
        if validate:
            dups = (updates.groupBy(*key_cols).count()
                    .filter(F.col("count") > 1).limit(1).count())
            if dups:
                raise ValueError("updates contain duplicate keys; "
                                 "dedupe the batch first")
        upserts = updates
        if delete_col is not None:
            upserts = updates.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        # Heal an interrupted promote BEFORE the existence check: a
        # parked table beside a missing final would otherwise route to
        # the create branch and the upsert batch would replace (destroy)
        # the recovered table inside write_parquet.
        from db2pq_spark.sinks.parquet_sink import recover_parked
        recover_parked(self.data_dir, schema, table)
        final = table_path(self.data_dir, schema, table)
        if not final.exists():
            return write_parquet(upserts, self.data_dir, schema, table,
                                 last_modified=last_modified,
                                 partition_by=partition_cols,
                                 single_file=self.single_file)

        current = self.read_pq(schema, table)
        if set(current.columns) != set(upserts.columns):
            raise ValueError(
                f"update schema {sorted(upserts.columns)} != table schema "
                f"{sorted(current.columns)}")
        upserts = upserts.select(*current.columns)
        keys = updates.select(*key_cols)
        preserved_modified = last_modified if last_modified is not None \
            else get_modified_pq(final)

        if not partition_cols:
            merged = current.join(keys, on=key_cols, how="left_anti") \
                .unionByName(upserts)
            return write_parquet(merged, self.data_dir, schema, table,
                                 last_modified=preserved_modified,
                                 single_file=self.single_file)

        # -- partition-scoped merge ---------------------------------------
        missing = [c for c in partition_cols if c not in updates.columns]
        if missing:
            raise ValueError(f"updates lack partition columns {missing}")
        # Touched = partitions updates land in ∪ partitions their keys
        # CURRENTLY live in. The second set matters when an update moves
        # a key across partitions (e.g. a status column that is also the
        # partition key): without it the old partition keeps a stale
        # copy. Finding it is a key+partition-column scan of the current
        # table — column-pruned, no data columns read — not a full read.
        touched = {tuple(r) for r in
                   updates.select(*partition_cols).distinct().collect()}
        touched |= {tuple(r) for r in
                    current.join(keys, on=key_cols, how="left_semi")
                           .select(*partition_cols).distinct().collect()}
        # validate BEFORE sorting: None is unorderable against str/int
        # and would turn this clean error into a bare TypeError
        for tup in touched:
            for v in tup:
                if v is None:
                    raise ValueError("NULL partition values not supported "
                                     "in partition-scoped merge")
        touched = sorted(touched)
        from functools import reduce
        in_touched = reduce(
            lambda a, b: a | b,
            [reduce(lambda a, b: a & b,
                    [F.col(c) == F.lit(v)
                     for c, v in zip(partition_cols, tup)])
             for tup in touched])
        merged = (current.filter(in_touched)
                  .join(keys, on=key_cols, how="left_anti")
                  .unionByName(upserts.filter(in_touched)))

        from db2pq_spark.sinks.parquet_sink import (
            _rm, _write_sidecar, parked_parts_path, temp_path)
        tmp = temp_path(self.data_dir, schema, table)
        _rm(tmp)
        (merged.write.mode("overwrite")
         .partitionBy(*partition_cols).parquet(str(tmp)))
        # each partition swaps by two renames (park live → promote new);
        # recover_parked restores a partition a crash leaves parked
        parts = parked_parts_path(self.data_dir, schema, table)
        for tup in touched:
            rel = "/".join(f"{c}={v}" for c, v in zip(partition_cols, tup))
            src, dst, parked = tmp / rel, final / rel, parts / rel
            if src.exists():
                if dst.exists():
                    parked.parent.mkdir(parents=True, exist_ok=True)
                    os.replace(dst, parked)
                    os.utime(parts)     # the age guard measures the swap
                dst.parent.mkdir(parents=True, exist_ok=True)
                os.replace(src, dst)
                _rm(parked)
            elif dst.exists():          # partition emptied by deletes
                _rm(dst)
        _rm(parts)
        _rm(tmp)
        _write_sidecar(final, preserved_modified)
        if self.verbose:
            print(f"merged {len(touched)} partition(s) into "
                  f"{schema}.{table}")
        return final

    def refresh_rollup(
        self,
        delta: DataFrame,
        schema: str,
        table: str,
        keys: list[str],
        aggs: Mapping[str, str],
        count_col: str = "n",
        last_modified: str | None = None,
        sidecar_extra: dict | None = None,
    ) -> Path:
        """Incremental materialized-aggregate maintenance: fold an
        append-only delta batch into a stored rollup table without
        rescanning the base data.

        The rollup table holds ``keys`` + ``count_col`` (row count) +
        one ``<fn>_<col>`` column per ``aggs`` entry, where ``fn`` is a
        *mergeable* aggregate: ``sum``, ``min`` or ``max`` (averages
        are derived downstream as sum/count; non-mergeable aggregates
        like exact distinct need the base table by definition).

        Refresh = partial-aggregate the delta (map-side combine shrinks
        it to its group cardinality before the only shuffle), union
        with the stored rollup, re-aggregate with each measure's merge
        function, atomic rewrite. Cost ∝ |delta| + |groups| — a 100 TB
        fact table's daily summary refresh reads the day's delta and a
        groups-sized parquet file, never the base.

        Deltas must be *new* rows (at-most-once): re-folding the same
        batch double-counts — dedupe upstream or route through an
        idempotent ingest (streaming/ingest.py tracks batch ids).

        No reference counterpart (its only refresh path re-exports the
        whole table, db2pq/core.py:895-952). [extension]
        """
        from pyspark.sql import functions as F

        if not keys:
            raise ValueError("keys must be non-empty")
        bad = {c: fn for c, fn in aggs.items() if fn not in ("sum", "min", "max")}
        if bad:
            raise ValueError(
                f"non-mergeable aggregate(s) {bad}; supported: sum/min/max")
        missing = [c for c in list(aggs) + keys if c not in delta.columns]
        if missing:
            raise ValueError(f"delta lacks column(s) {missing}")

        partial = delta.groupBy(*keys).agg(
            F.count("*").alias(count_col),
            *[getattr(F, fn)(c).alias(f"{fn}_{c}") for c, fn in aggs.items()],
        )
        # heal an interrupted promote before deciding create-vs-merge
        # (same data-loss hazard as merge_pq: the delta alone would
        # replace the recovered rollup)
        from db2pq_spark.sinks.parquet_sink import recover_parked
        recover_parked(self.data_dir, schema, table)
        final = table_path(self.data_dir, schema, table)
        if not final.exists():
            return write_parquet(partial, self.data_dir, schema, table,
                                 last_modified=last_modified,
                                 single_file=self.single_file,
                                 sidecar_extra=sidecar_extra)

        current = self.read_pq(schema, table)
        if set(current.columns) != set(partial.columns):
            raise ValueError(
                f"delta rollup schema {sorted(partial.columns)} != stored "
                f"rollup schema {sorted(current.columns)} — keys/aggs must "
                f"match the table's definition")
        merge_fns = {count_col: "sum",
                     **{f"{fn}_{c}": fn for c, fn in aggs.items()}}
        merged = (
            current.select(*partial.columns).unionByName(partial)
            .groupBy(*keys)
            .agg(*[getattr(F, fn)(c).alias(c) for c, fn in merge_fns.items()])
        )
        preserved = last_modified if last_modified is not None \
            else get_modified_pq(final)
        return write_parquet(merged, self.data_dir, schema, table,
                             last_modified=preserved,
                             single_file=self.single_file,
                             sidecar_extra=sidecar_extra)

    def update_pq(
        self,
        schema: str,
        table: str,
        source_comment: str | None,
        exporter: Callable[[], Path | None],
        force: bool = False,
    ) -> UpdateResult:
        """Conditional export (reference _update_pq, db2pq/core.py:895-952).

        Decision kernel: unparseable source comment → refuse (unless
        ``force``); destination missing/unparseable → update; source date
        newer → update; else skip.
        """
        src = modified_info("source", source_comment)
        # heal an interrupted promote so the freshness check sees the
        # real destination (a parked-but-missing table would read as
        # "destination missing" and force a needless full re-export)
        from db2pq_spark.sinks.parquet_sink import recover_parked
        recover_parked(self.data_dir, schema, table)
        current = table_path(self.data_dir, schema, table)
        dst = modified_info(
            "dest", get_modified_pq(current) if current.exists() else None
        )
        if force:
            path = exporter()
            return UpdateResult("updated" if path else "empty",
                                table, schema, path, "forced")
        if src.dt is None:
            return UpdateResult(
                "refused", table, schema, None,
                f"source comment has no parseable last-modified: {source_comment!r}",
            )
        if not update_available(src, dst):
            return UpdateResult("skipped", table, schema, None,
                                "already up to date")
        path = exporter()
        return UpdateResult("updated" if path else "empty", table, schema, path)

    def update_schema(
        self,
        schema: str,
        comments: Mapping[str, str | None],
        exporter_for: Callable[[str], Callable[[], Path | None]],
        force: bool = False,
    ) -> list[UpdateResult]:
        """Refresh every existing repository table in a schema
        (reference wrds_update_schema, db2pq/core.py:1217-1254)."""
        from db2pq_spark.sinks.repository import pq_list_files

        return [
            self.update_pq(schema, tbl, comments.get(tbl),
                           exporter_for(tbl), force=force)
            for tbl in pq_list_files(self.data_dir, schema)
        ]
