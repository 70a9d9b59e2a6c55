"""Parquet sink + repository lifecycle + conditional update flows.

Spark-integration tests over a temp repository; exercises the reference
behaviors: atomic promote, zero-row skip, metadata round-trip, archive /
restore / remove, update/skip/refuse/force decisions
(db2pq/files/parquet.py, db2pq/core.py:895-952)."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from db2pq_spark.core import Engine
from db2pq_spark.sinks.parquet_sink import (
    SIDECAR,
    get_modified_pq,
    read_sidecar,
    table_path,
    write_parquet,
)
from db2pq_spark.sinks.repository import (
    pq_archive,
    pq_last_modified,
    pq_list_files,
    pq_remove,
    pq_restore,
)

COMMENT = "Last modified: 11/26/2025 01:40:41"
NEWER = "Last modified: 12/01/2025 09:00:00"


@pytest.fixture()
def repo(tmp_path):
    return tmp_path / "repo"


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


class TestSink:
    def test_write_read_roundtrip(self, spark, repo, lineitem):
        path = write_parquet(lineitem.limit(100), repo, "sf", "lineitem",
                             last_modified=COMMENT)
        assert path == table_path(repo, "sf", "lineitem")
        back = spark.read.parquet(str(path))
        assert back.count() == 100
        assert set(back.columns) == set(lineitem.columns)
        assert get_modified_pq(path) == COMMENT

    def test_zero_rows_writes_nothing(self, spark, repo, lineitem):
        path = write_parquet(lineitem.filter("l_quantity < 0"), repo, "sf", "empty")
        assert path is None
        assert not table_path(repo, "sf", "empty").exists()

    def test_single_file_mode_embeds_footer_metadata(self, spark, repo, lineitem):
        import pyarrow.parquet as pq

        path = write_parquet(lineitem.limit(50), repo, "sf", "one",
                             last_modified=COMMENT, single_file=True)
        assert path.is_file()
        meta = pq.read_schema(path).metadata
        assert meta[b"last_modified"] == COMMENT.encode()
        assert get_modified_pq(path) == COMMENT
        assert spark.read.parquet(str(path)).count() == 50

    def test_overwrite_is_atomic_replace(self, spark, repo, lineitem):
        write_parquet(lineitem.limit(10), repo, "sf", "t", last_modified=COMMENT)
        write_parquet(lineitem.limit(20), repo, "sf", "t", last_modified=NEWER)
        assert spark.read.parquet(str(table_path(repo, "sf", "t"))).count() == 20
        assert get_modified_pq(table_path(repo, "sf", "t")) == NEWER


class TestRepository:
    def test_archive_restore_remove(self, spark, repo, lineitem):
        write_parquet(lineitem.limit(10), repo, "sf", "t", last_modified=COMMENT)
        archived = pq_archive(repo, "sf", "t")
        # stamp derives from embedded metadata: 01:40 EST = 06:40 UTC
        assert archived.name == "t_20251126T064041Z.parquet"
        assert pq_list_files(repo, "sf") == []
        assert pq_list_files(repo, "sf", archive=True) == ["t_20251126T064041Z"]

        restored = pq_restore(repo, "sf", "t_20251126T064041Z")
        assert restored == table_path(repo, "sf", "t")
        assert spark.read.parquet(str(restored)).count() == 10

        assert pq_remove(repo, "sf", "t")
        assert not pq_remove(repo, "sf", "t")  # already gone

    def test_restore_archives_current(self, spark, repo, lineitem):
        write_parquet(lineitem.limit(10), repo, "sf", "t", last_modified=COMMENT)
        pq_archive(repo, "sf", "t")
        write_parquet(lineitem.limit(30), repo, "sf", "t", last_modified=NEWER)
        pq_restore(repo, "sf", "t_20251126T064041Z", archive_current=True)
        # old version active again; newer one archived
        assert spark.read.parquet(str(table_path(repo, "sf", "t"))).count() == 10
        stems = pq_list_files(repo, "sf", archive=True)
        assert "t_20251201T140000Z" in stems  # 09:00 EST = 14:00 UTC

    def test_single_file_lifecycle(self, spark, repo, lineitem):
        # the reference-parity single-file mode must survive the same
        # archive/restore/remove lifecycle as directory tables
        write_parquet(lineitem.limit(10), repo, "sf", "one",
                      last_modified=COMMENT, single_file=True)
        archived = pq_archive(repo, "sf", "one")
        assert archived.is_file()
        assert archived.name == "one_20251126T064041Z.parquet"
        restored = pq_restore(repo, "sf", "one_20251126T064041Z")
        assert restored.is_file()
        assert spark.read.parquet(str(restored)).count() == 10
        assert get_modified_pq(restored) == COMMENT  # footer survived
        assert pq_remove(repo, "sf", "one")

    def test_last_modified_summary(self, spark, repo, lineitem):
        write_parquet(lineitem.limit(5), repo, "s1", "a", last_modified=COMMENT)
        write_parquet(lineitem.limit(5), repo, "s2", "b")
        rows = pq_last_modified(repo)
        assert {(r["schema"], r["table"]) for r in rows} == {("s1", "a"), ("s2", "b")}
        by = {r["table"]: r["last_modified"] for r in rows}
        assert by["a"] == COMMENT and by["b"] is None


class TestEngineFlows:
    def test_df_to_pq_full_pipeline(self, spark, repo, lineitem):
        eng = Engine(spark, repo)
        path = eng.df_to_pq(
            lineitem, "sf", "narrow",
            keep=["^l_orderkey$", "^l_quantity$", "^l_returnflag$"],
            rename={"l_returnflag": "flag"},
            col_types={"l_quantity": "decimal(12,2)"},
            where="l_quantity > 45",
            last_modified=COMMENT,
        )
        back = spark.read.parquet(str(path))
        assert back.columns == ["l_orderkey", "l_quantity", "flag"]
        assert dict(back.dtypes)["l_quantity"] == "decimal(12,2)"
        assert back.filter("l_quantity <= 45").count() == 0

    def test_update_skip_refuse_force(self, spark, repo, lineitem):
        eng = Engine(spark, repo)
        calls = []

        def exporter():
            calls.append(1)
            return eng.df_to_pq(lineitem.limit(10), "sf", "u",
                                last_modified=COMMENT)

        # fresh dest → update
        r1 = eng.update_pq("sf", "u", COMMENT, exporter)
        assert r1.action == "updated" and len(calls) == 1
        # same date again → skip
        r2 = eng.update_pq("sf", "u", COMMENT, exporter)
        assert r2.action == "skipped" and len(calls) == 1
        # newer source → update
        r3 = eng.update_pq("sf", "u", NEWER, exporter)
        assert r3.action == "updated" and len(calls) == 2
        # unparseable source → refuse
        r4 = eng.update_pq("sf", "u", "no comment", exporter)
        assert r4.action == "refused" and len(calls) == 2
        # force overrides refusal
        r5 = eng.update_pq("sf", "u", "no comment", exporter, force=True)
        assert r5.action == "updated" and len(calls) == 3

    def test_sql_to_pq_spark_side(self, spark, repo, lineitem):
        eng = Engine(spark, repo)
        eng.df_to_pq(lineitem.limit(200), "sf", "lineitem")
        eng.register_views("sf", ["lineitem"])
        path = eng.sql_to_pq(
            "SELECT l_orderkey, SUM(l_quantity) AS q FROM lineitem GROUP BY 1",
            "sf", "agg",
        )
        assert spark.read.parquet(str(path)).columns == ["l_orderkey", "q"]


class TestVacuum:
    @pytest.fixture()
    def versioned(self, spark, sf_dir, tmp_path):
        """nation archived 3× with distinct stamps + 1 unknown-stamp."""
        from db2pq_spark.core import Engine

        eng = Engine(spark, tmp_path)
        df = spark.read.parquet(f"{sf_dir}/nation.parquet")
        stamps = ["Last modified: 01/02/2024 10:00:00",
                  "Last modified: 01/02/2025 10:00:00",
                  "Last modified: 01/02/2026 10:00:00"]
        for s in stamps:
            eng.df_to_pq(df, "tpch", "nation", last_modified=s,
                         archive=True)
        eng.df_to_pq(df, "tpch", "nation", archive=True)  # no stamp
        # final write so the "unknown" version lands in the archive too
        eng.df_to_pq(df, "tpch", "nation",
                     last_modified=stamps[-1], archive=True)
        return eng

    def test_keep_last_prunes_oldest_first(self, versioned):
        from db2pq_spark.sinks.repository import pq_list_files

        before = pq_list_files(versioned.data_dir, "tpch", archive=True)
        assert len(before) == 4  # 3 stamped + 1 unknown
        removed = versioned.vacuum("tpch", keep_last=2)
        after = pq_list_files(versioned.data_dir, "tpch", archive=True)
        assert len(after) == 2 and len(removed) == 2
        # unknown-stamp sorts oldest → pruned; the 2 newest stamps stay
        assert not any(s.endswith("unknown_modified") for s in after)
        assert any("2026" in s for s in after) and any("2025" in s for s in after)

    def test_older_than_prunes_by_age_only(self, versioned):
        import datetime as dt

        from db2pq_spark.sinks.repository import pq_list_files

        cutoff = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
        removed = versioned.vacuum("tpch", older_than=cutoff)
        after = pq_list_files(versioned.data_dir, "tpch", archive=True)
        # 2024 + 2025-01 stamps pruned; unknown never age-pruned
        assert len(removed) == 2
        assert any(s.endswith("unknown_modified") for s in after)

    def test_requires_a_selector(self, versioned):
        with pytest.raises(ValueError):
            versioned.vacuum("tpch")


class TestAnalyze:
    def test_stats_shape_and_values(self, spark, sf_dir, tmp_path):
        from db2pq_spark.core import Engine

        eng = Engine(spark, tmp_path)
        df = spark.read.parquet(f"{sf_dir}/nation.parquet")
        eng.df_to_pq(df, "tpch", "nation",
                     last_modified="Last modified: 01/02/2026 10:00:00")
        stats = eng.analyze("tpch", "nation")
        n = df.count()
        assert stats["rows"] == n and stats["bytes"] > 0 and stats["files"] >= 1
        ck = stats["columns"]["n_nationkey"]
        assert ck["min"] == 0 and ck["nulls"] == 0
        assert abs(ck["approx_ndv"] - n) <= max(2, n * 0.05)

    def test_single_aggregation_pass(self, spark, sf_dir, tmp_path):
        """All column stats must come from ONE job — count the jobs."""
        from db2pq_spark.core import Engine

        eng = Engine(spark, tmp_path)
        df = spark.read.parquet(f"{sf_dir}/customer.parquet")
        eng.df_to_pq(df, "tpch", "customer",
                     last_modified="Last modified: 01/02/2026 10:00:00")
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        eng.analyze("tpch", "customer")
        after = len(tracker.getJobIdsForGroup(None) or [])
        # one aggregation = a handful of AQE stage jobs; a per-column
        # implementation would cost ≥ 3 jobs × 5 columns
        assert after - before <= 4


def test_vacuum_accepts_naive_cutoff(spark, sf_dir, tmp_path):
    import datetime as dt

    from db2pq_spark.core import Engine
    from db2pq_spark.sinks.repository import pq_list_files

    eng = Engine(spark, tmp_path)
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    eng.df_to_pq(df, "tpch", "region",
                 last_modified="Last modified: 01/02/2024 10:00:00",
                 archive=True)
    eng.df_to_pq(df, "tpch", "region",
                 last_modified="Last modified: 01/02/2026 10:00:00",
                 archive=True)
    # naive datetime (the natural datetime.now()-style call) must work
    removed = eng.vacuum("tpch", older_than=dt.datetime(2025, 1, 1))
    assert len(removed) == 1 and "2024" in removed[0]
    # only the replaced 2024 version was ever archived; the 2026 version
    # is the active table and is untouched by vacuum
    assert pq_list_files(tmp_path, "tpch", archive=True) == []
    assert pq_list_files(tmp_path, "tpch") == ["region"]


class TestMergePq:
    def _base(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, name string, v double")

    def _updates(self, spark):
        return spark.createDataFrame(
            [(2, "B", 99.0, False),     # update
             (4, "d", 40.0, False),     # insert
             (3, None, 0.0, True)],     # delete
            "id long, name string, v double, is_deleted boolean")

    def test_upsert_insert_delete(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        eng.df_to_pq(self._base(spark), "s", "t",
                     last_modified="Last modified: 01/01/2026 00:00:00")
        eng.merge_pq(self._updates(spark), "s", "t", ["id"],
                     delete_col="is_deleted")
        got = sorted(map(tuple, eng.read_pq("s", "t").collect()))
        assert got == [(1, "a", 10.0), (2, "B", 99.0), (4, "d", 40.0)]
        # freshness metadata survives the merge
        assert get_modified_pq(table_path(tmp_path, "s", "t")) \
            == "Last modified: 01/01/2026 00:00:00"

    def test_idempotent_reapply(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        eng.df_to_pq(self._base(spark), "s", "t")
        for _ in range(2):
            eng.merge_pq(self._updates(spark), "s", "t", ["id"],
                         delete_col="is_deleted")
        got = sorted(map(tuple, eng.read_pq("s", "t").collect()))
        assert got == [(1, "a", 10.0), (2, "B", 99.0), (4, "d", 40.0)]

    def test_creates_missing_table(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        eng.merge_pq(self._updates(spark), "s", "new", ["id"],
                     delete_col="is_deleted")
        got = sorted(map(tuple, eng.read_pq("s", "new").collect()))
        assert got == [(2, "B", 99.0), (4, "d", 40.0)]

    def test_duplicate_update_keys_rejected(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        eng.df_to_pq(self._base(spark), "s", "t")
        dup = spark.createDataFrame(
            [(1, "x", 1.0), (1, "y", 2.0)], "id long, name string, v double")
        with pytest.raises(ValueError, match="duplicate"):
            eng.merge_pq(dup, "s", "t", ["id"])

    def test_schema_mismatch_rejected(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        eng.df_to_pq(self._base(spark), "s", "t")
        bad = spark.createDataFrame([(1, "x")], "id long, other string")
        with pytest.raises(ValueError, match="schema"):
            eng.merge_pq(bad, "s", "t", ["id"])

    def test_partition_scoped_merge_leaves_untouched_dirs(
            self, spark, tmp_path):
        import os

        eng = Engine(spark, tmp_path)
        base = spark.createDataFrame(
            [(1, "en", 1.0), (2, "en", 2.0), (3, "de", 3.0), (4, "fr", 4.0)],
            "id long, lang string, v double")
        eng.df_to_pq(base, "s", "p", partition_by=["lang"],
                     last_modified="Last modified: 02/01/2026 00:00:00")
        fr = table_path(tmp_path, "s", "p") / "lang=fr"
        mtime = os.path.getmtime(fr)
        upd = spark.createDataFrame(
            [(2, "en", 22.0, False),    # update in en
             (5, "de", 55.0, False),    # insert in de
             (3, "de", 0.0, True)],     # delete in de
            "id long, lang string, v double, is_deleted boolean")
        eng.merge_pq(upd, "s", "p", ["id"], delete_col="is_deleted",
                     partition_cols=["lang"])
        got = sorted(map(tuple,
                         eng.read_pq("s", "p")
                         .select("id", "lang", "v").collect()))
        assert got == [(1, "en", 1.0), (2, "en", 22.0),
                       (4, "fr", 4.0), (5, "de", 55.0)]
        assert os.path.getmtime(fr) == mtime          # fr never rewritten
        assert get_modified_pq(table_path(tmp_path, "s", "p")) \
            == "Last modified: 02/01/2026 00:00:00"

    def test_partition_emptied_by_deletes_removed(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        base = spark.createDataFrame(
            [(1, "en", 1.0), (3, "de", 3.0)], "id long, lang string, v double")
        eng.df_to_pq(base, "s", "p2", partition_by=["lang"])
        upd = spark.createDataFrame(
            [(3, "de", 0.0, True)],
            "id long, lang string, v double, is_deleted boolean")
        eng.merge_pq(upd, "s", "p2", ["id"], delete_col="is_deleted",
                     partition_cols=["lang"])
        assert not (table_path(tmp_path, "s", "p2") / "lang=de").exists()
        got = [tuple(r) for r in
               eng.read_pq("s", "p2").select("id", "lang", "v").collect()]
        assert got == [(1, "en", 1.0)]

    def test_updates_missing_partition_col_rejected(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        base = spark.createDataFrame(
            [(1, "en", 1.0)], "id long, lang string, v double")
        eng.df_to_pq(base, "s", "p3", partition_by=["lang"])
        upd = spark.createDataFrame(
            [(2, "en", 2.0)], "id long, lang string, v double")
        with pytest.raises(ValueError, match="partition"):
            eng.merge_pq(upd, "s", "p3", ["id"], partition_cols=["nope"])


class TestRefreshRollup:
    SCHEMA = "day string, k string, qty long, price double"

    def _delta(self, spark, rows):
        return spark.createDataFrame(rows, self.SCHEMA)

    def test_incremental_equals_one_shot(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        d1 = [("d1", "a", 2, 5.0), ("d1", "b", 3, 1.0), ("d2", "a", 1, 9.0)]
        d2 = [("d1", "a", 4, 2.0), ("d2", "c", 7, 3.0)]
        aggs = {"qty": "sum", "price": "min"}

        eng.refresh_rollup(self._delta(spark, d1), "s", "roll",
                           ["day", "k"], aggs)
        eng.refresh_rollup(self._delta(spark, d2), "s", "roll",
                           ["day", "k"], aggs)
        got = sorted(map(tuple, eng.read_pq("s", "roll").collect()))

        one_shot = (self._delta(spark, d1 + d2)
                    .groupBy("day", "k")
                    .agg(F.count("*").alias("n"),
                         F.sum("qty").alias("sum_qty"),
                         F.min("price").alias("min_price")))
        want = sorted(map(tuple, one_shot.select(
            *eng.read_pq("s", "roll").columns).collect()))
        assert got == want
        # spot-check the merged cell: day d1 / key a saw 2 rows, qty 6
        by_key = {(r[0], r[1]): r for r in got}
        cols = eng.read_pq("s", "roll").columns
        row = dict(zip(cols, by_key[("d1", "a")]))
        assert row["n"] == 2 and row["sum_qty"] == 6 and row["min_price"] == 2.0

    def test_max_merge_and_metadata_preserved(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        eng.refresh_rollup(self._delta(spark, [("d1", "a", 5, 1.0)]),
                           "s", "r2", ["k"], {"qty": "max"},
                           last_modified="Last modified: 02/02/2026 00:00:00")
        eng.refresh_rollup(self._delta(spark, [("d9", "a", 3, 2.0)]),
                           "s", "r2", ["k"], {"qty": "max"})
        [r] = eng.read_pq("s", "r2").collect()
        assert r["max_qty"] == 5 and r["n"] == 2
        assert get_modified_pq(table_path(tmp_path, "s", "r2")) \
            == "Last modified: 02/02/2026 00:00:00"

    def test_rejects_non_mergeable_and_mismatch(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        d = self._delta(spark, [("d1", "a", 1, 1.0)])
        with pytest.raises(ValueError, match="non-mergeable"):
            eng.refresh_rollup(d, "s", "r3", ["k"], {"qty": "avg"})
        with pytest.raises(ValueError, match="lacks column"):
            eng.refresh_rollup(d, "s", "r3", ["k"], {"nope": "sum"})
        eng.refresh_rollup(d, "s", "r3", ["k"], {"qty": "sum"})
        with pytest.raises(ValueError, match="must match"):
            eng.refresh_rollup(d, "s", "r3", ["day", "k"], {"qty": "sum"})


def _new_jobs(spark, build) -> set[int]:
    """Ids of the Spark jobs submitted while ``build()`` runs."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    build()
    return set(tracker.getJobIdsForGroup(None)) - before


def _rows(df) -> list:
    return sorted(df.collect(), key=repr)


#: table shapes whose recorded schema must read back exactly as footer
#: inference returns it: (Spark schema, rows)
SHAPES = {
    "flat": ("id long, name string, v double, d date",
             [(1, "a", 1.5, dt.date(2020, 1, 2)), (2, None, None, None)]),
    "nested": ("id long, tags array<string>, pt struct<x:int,y:array<int>>,"
               " attrs map<string,double>, hist array<struct<k:string,n:long>>",
               [(1, ["a", None], (1, [2, 3]), {"p": 0.5}, [("z", 9)]),
                (2, None, None, None, [])]),
    "timestamps": ("id long, ltz timestamp, ntz timestamp_ntz",
                   [(1, dt.datetime(2024, 3, 1, 12, 30), dt.datetime(2024, 3, 1, 12, 30)),
                    (2, None, None)]),
    "decimal": ("id long, amt decimal(18,4), big decimal(38,10)",
                [(1, Decimal("12.3456"), Decimal("1.0000000001")), (2, None, None)]),
    "all_null": ("id long, empty string, none_num double",
                 [(1, None, None), (2, None, None)]),
    "not_nullable": (StructType([
        StructField("id", LongType(), False),
        StructField("xs", ArrayType(DoubleType(), False), False),
        StructField("pt", StructType([StructField("a", StringType(), False)]), True)]),
        [(1, [1.0], ("p",)), (2, [], None)]),
}


class TestRecordedSchema:
    """An unpartitioned sink table records its schema in the sidecar and
    ``read_pq`` reads with it; the result must be what footer inference
    (``spark.read.parquet``) returns — same schema JSON, same rows."""

    @staticmethod
    def _assert_recorded(spark, eng, schema, table):
        path = table_path(eng.data_dir, schema, table)
        assert "spark_schema" in read_sidecar(path)
        got, want = eng.read_pq(schema, table), spark.read.parquet(str(path))
        assert got.schema.json() == want.schema.json()
        assert _rows(got) == _rows(want)

    @pytest.mark.parametrize("shape", sorted(SHAPES))
    def test_shape_round_trips(self, spark, tmp_path, shape):
        ddl, rows = SHAPES[shape]
        write_parquet(spark.createDataFrame(rows, ddl), tmp_path, "s", shape)
        self._assert_recorded(spark, Engine(spark, tmp_path), "s", shape)

    def test_sidecar_extra_kept_beside_schema(self, spark, tmp_path):
        ddl, rows = SHAPES["flat"]
        write_parquet(spark.createDataFrame(rows, ddl), tmp_path, "s", "t",
                      sidecar_extra={"stream_batch_id": 7})
        assert read_sidecar(table_path(tmp_path, "s", "t"))["stream_batch_id"] == 7
        self._assert_recorded(spark, Engine(spark, tmp_path), "s", "t")

    def test_sidecar_extra_cannot_set_schema(self, spark, tmp_path):
        ddl, rows = SHAPES["flat"]
        with pytest.raises(ValueError, match="spark_schema"):
            write_parquet(spark.createDataFrame(rows, ddl), tmp_path, "s", "t",
                          sidecar_extra={"spark_schema": {}})

    def test_after_unpartitioned_merge(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        eng.df_to_pq(TestMergePq()._base(spark), "s", "t")
        eng.merge_pq(TestMergePq()._updates(spark), "s", "t", ["id"],
                     delete_col="is_deleted")
        self._assert_recorded(spark, eng, "s", "t")

    def test_after_compact(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        ddl, rows = SHAPES["nested"]
        eng.df_to_pq(spark.createDataFrame(rows * 50, ddl).repartition(4),
                     "s", "t")
        eng.compact("s", "t", target_files=1)
        self._assert_recorded(spark, eng, "s", "t")

    def test_after_refresh_rollup(self, spark, tmp_path):
        eng = Engine(spark, tmp_path)
        delta = spark.createDataFrame([("a", 2, 5.0), ("b", 3, 1.0)],
                                      "k string, qty long, price double")
        for _ in range(2):
            eng.refresh_rollup(delta, "s", "roll", ["k"],
                               {"qty": "sum", "price": "min"})
        self._assert_recorded(spark, eng, "s", "roll")


class TestInferredSchemaFallback:
    """Tables whose sidecar holds no recorded schema read exactly as
    before: ``spark.read.parquet`` with its schema-inference job."""

    @staticmethod
    def _assert_inferred(spark, eng, schema, table):
        path = table_path(eng.data_dir, schema, table)
        assert "spark_schema" not in read_sidecar(path)
        box = []
        assert _new_jobs(spark, lambda: box.append(eng.read_pq(schema, table)))
        want = spark.read.parquet(str(path))
        assert box[0].schema.json() == want.schema.json()
        assert _rows(box[0]) == _rows(want)

    def test_partitioned_table(self, spark, tmp_path):
        df = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")],
                                   "id long, p int, v string")
        write_parquet(df, tmp_path, "s", "t", partition_by=["p"])
        eng = Engine(spark, tmp_path)
        self._assert_inferred(spark, eng, "s", "t")
        # the partition column's type comes from the directory names
        assert dict(eng.read_pq("s", "t").dtypes)["p"] == "int"

    def test_single_file_table(self, spark, tmp_path):
        eng = Engine(spark, tmp_path, single_file=True)
        ddl, rows = SHAPES["flat"]
        eng.df_to_pq(spark.createDataFrame(rows, ddl), "s", "t")
        self._assert_inferred(spark, eng, "s", "t")

    def test_streamed_table(self, spark, tmp_path):
        from db2pq_spark.streaming.ingest import stream_to_pq

        ddl, rows = SHAPES["flat"]
        df = spark.createDataFrame(rows, ddl)
        write_parquet(df, tmp_path / "repo", "s", "t")
        src = tmp_path / "src"
        df.write.parquet(str(src))
        stream_to_pq(spark.readStream.schema(df.schema).parquet(str(src)),
                     tmp_path / "repo", "s", "t").awaitTermination()
        eng = Engine(spark, tmp_path / "repo")
        self._assert_inferred(spark, eng, "s", "t")
        assert eng.read_pq("s", "t").count() == 2 * len(rows)

    def test_sidecar_without_schema(self, spark, tmp_path):
        ddl, rows = SHAPES["flat"]
        path = write_parquet(spark.createDataFrame(rows, ddl), tmp_path, "s", "t",
                             last_modified=COMMENT)
        meta = read_sidecar(path)
        del meta["spark_schema"]
        (path / SIDECAR).write_text(json.dumps(meta))
        self._assert_inferred(spark, Engine(spark, tmp_path), "s", "t")
        assert get_modified_pq(path) == COMMENT


class TestReadSubmitsNoJobs:
    """Building a read of a sink-written table submits no Spark job —
    the inference job the recorded schema replaces is the counter this
    guards (perfbench ``spark.jobs``)."""

    def test_read_pq_and_registry_loader(self, spark, tmp_path, lineitem):
        from db2pq_spark.workload_base import t

        eng = Engine(spark, tmp_path)
        path = eng.df_to_pq(lineitem.limit(100), "tpch", "lineitem")
        assert _new_jobs(spark, lambda: eng.read_pq("tpch", "lineitem")) == set()
        assert _new_jobs(spark, lambda: t(spark, str(tmp_path / "tpch"),
                                          "lineitem")) == set()
        # the counter does see an inferring read of the same table
        assert _new_jobs(spark, lambda: spark.read.parquet(str(path)))
