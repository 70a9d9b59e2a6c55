"""The benchmark workloads.

Each workload builds its inputs from the seed in :meth:`setup`, then
yields rounds of operations. An operation is ``(kind, run, check)``:
``run()`` is the timed call into the engine; ``check(result)`` is the
cheap correctness check made right after it, outside its latency. The
runner owns timing, tracing and counting.
"""

from __future__ import annotations

import importlib.util
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen

ROOT = Path(__file__).resolve().parent.parent


def footer_rows(path: Path) -> int:
    """Row count of a stored table from its Parquet footers."""
    return ds.dataset(str(path), format="parquet").count_rows()


def tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def median(xs):
    return float(np.median(xs)) if xs else float("nan")


class Workload:
    """Base: a workload owns its inputs, its ledgers and its op mix."""

    name = ""
    #: untimed, checked rounds before the traced and timed ones. After
    #: Python-worker start-up and first-use code generation in the first
    #: round, the JIT keeps shortening rounds for a few more; timing that
    #: slope would make a run's figures depend on how many rounds fit in
    #: its window
    warmup_rounds = 2

    def __init__(self, seed: int):
        self.seed = seed

    def bind(self, ctx) -> None:
        """Attach the run context: ``spark``, ``engine``, ``inputs`` and
        ``repo`` directories and the ``tracer``."""
        self.ctx = ctx
        self.spark, self.engine = ctx.spark, ctx.engine
        self.inputs, self.repo = ctx.inputs, ctx.repo

    def setup(self) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Expensive reference results, computed outside the timed region."""

    def round(self, r: int) -> list[tuple]:
        raise NotImplementedError


    def final_checks(self) -> list[tuple[str, bool]]:
        return []

    def report(self, ops, wall_s: float) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures: {name: (value, unit)}."""
        return {}

    def _write_input(self, name: str, table) -> Path:
        path = self.inputs / f"{name}.parquet"
        pq.write_table(table, path)
        return path


# -- repo_sync ---------------------------------------------------------------

class RepoSync(Workload):
    """The reference's own job: exports, conditional refresh with
    archiving, CDC merge, vacuum and read-back over a Parquet repository,
    plus registry queries and a Spark-side ``sql_to_pq`` over repository
    tables the sink wrote (so write-side layout shows up as read cost)."""

    name = "repo_sync"
    QUERIES = ["q01_pricing_summary", "q03_top_orders", "q05_region_revenue",
               "q64_waiting_supplier"]
    TPCH = ["region", "nation", "customer", "supplier", "orders", "lineitem"]
    AGG_SQL = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines "
               "FROM lineitem WHERE l_quantity < {q} "
               "GROUP BY l_returnflag, l_linestatus")
    AGG_QTY = (10, 20, 30, 40)
    KEEP = r"^(gvkey|fyear|datadate|indfmt|at|lt|sale|ni|ceq|csho|prcc_f)$"
    RENAME = {"at": "total_assets", "lt": "total_liab"}
    COL_TYPES = {"fyear": "int64", "sale": "float32"}
    WHERES = [f"fyear >= {y} AND indfmt = 'INDL'" for y in (2004, 2009, 2014, 2019)]
    HEAD = 1000

    def __init__(self, seed: int, n_firms: int = 500, n_days: int = 200,
                 n_funda: int = 25_000, n_orders: int = 5_000):
        super().__init__(seed)
        self.n_firms, self.n_days, self.n_funda = n_firms, n_days, n_funda
        self.n_orders = n_orders

    def setup(self) -> None:
        dsf = gen.dsf(self.seed, self.n_firms, self.n_days)
        funda = gen.funda(self.seed, self.n_funda)
        self.dsf_src = self._write_input("dsf", dsf)
        self.funda_src = self._write_input("funda", funda)
        self.source_bytes = tree_bytes(self.inputs)  # dsf + funda
        self.n_dsf = dsf.num_rows
        self.ledger = gen.CdcLedger(self.seed, gen.dsf_keys(dsf))
        fyear, indfmt = funda["fyear"], funda["indfmt"]
        self.where_rows = [
            pc.sum(pc.and_(pc.greater_equal(fyear, y), pc.equal(indfmt, "INDL"))
                   .cast("int64")).as_py()
            for y in (2004, 2009, 2014, 2019)]
        self.sel_columns = [self.RENAME.get(c, c) for c in funda.column_names
                            if c in {"gvkey", "fyear", "datadate", "indfmt", "at",
                                     "lt", "sale", "ni", "ceq", "csho", "prcc_f"}]
        self.day = 0
        eng = self.engine
        eng.file_to_pq(self.dsf_src, "parquet", "crsp", "dsf_live")
        eng.file_to_pq(self.funda_src, "parquet", "comp", "funda",
                       last_modified=gen.freshness_comment(0))
        tpch = gen.tpch(self.seed, self.n_orders)
        for name in self.TPCH:
            eng.file_to_pq(self._write_input(name, tpch[name]), "parquet",
                           "tpch", name)
        eng.register_views("tpch", ["lineitem"])

    def prepare_checks(self) -> None:
        """DuckDB oracle results over the repository directories, bound
        through globbed ``read_parquet`` views and normalized as
        ``scripts/check_oracle.py`` does."""
        import duckdb

        from db2pq_spark import workload

        self._oracle = _check_oracle()
        con = duckdb.connect()
        for name in self.TPCH:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                        f"'{self._path('tpch', name)}/*.parquet')")
        self.query_fns = {n: workload.REGISTRY[n][0] for n in self.QUERIES}
        self.expected = {}
        for name in self.QUERIES:
            rel = con.sql(workload.REGISTRY[name][1])
            self.expected[name] = self._oracle.norm_rows(rel.columns,
                                                         rel.fetchall())
        self.agg_groups = {
            q: con.sql(f"SELECT COUNT(*) FROM ({self.AGG_SQL.format(q=q)})")
            .fetchone()[0] for q in self.AGG_QTY}
        con.close()

    # -- ops -----------------------------------------------------------------

    def _path(self, schema, table):
        from db2pq_spark.sinks.parquet_sink import table_path

        return table_path(self.repo, schema, table)

    def _modified(self, schema, table):
        from db2pq_spark.sinks.parquet_sink import get_modified_pq

        return get_modified_pq(self._path(schema, table))

    def round(self, r: int) -> list[tuple]:
        from db2pq_spark.sinks.repository import pq_list_files

        rng = np.random.default_rng([self.seed, 10, r])
        eng = self.engine
        stamp = gen.freshness_comment(1000 + r)
        variant = int(rng.integers(0, len(self.WHERES)))

        def export_full():
            return eng.file_to_pq(self.dsf_src, "parquet", "crsp", "dsf",
                                  last_modified=stamp)

        def check_full(path):
            return (footer_rows(path) == self.n_dsf
                    and self._modified("crsp", "dsf") == stamp)

        def export_filtered():
            return eng.file_to_pq(self.funda_src, "parquet", "comp", "funda_sel",
                                  keep=self.KEEP, rename=self.RENAME,
                                  col_types=self.COL_TYPES,
                                  where=self.WHERES[variant])

        def check_filtered(path):
            schema = ds.dataset(str(path), format="parquet").schema
            return (footer_rows(path) == self.where_rows[variant]
                    and schema.names == self.sel_columns
                    and str(schema.field("sale").type) == "float")

        def export_head():
            return eng.file_to_pq(self.dsf_src, "parquet", "crsp", "dsf_head",
                                  obs=self.HEAD)

        def check_head(path):
            return footer_rows(path) == self.HEAD

        def funda_exporter(day):
            return lambda: eng.file_to_pq(
                self.funda_src, "parquet", "comp", "funda",
                last_modified=gen.freshness_comment(day), archive=True)

        def update_newer():
            prev = gen.freshness_comment(self.day)
            self.day += 1
            res = eng.update_pq("comp", "funda", gen.freshness_comment(self.day),
                                funda_exporter(self.day))
            return res, prev

        def check_newer(out):
            from db2pq_spark.sync.timestamps import last_modified_dttm, utc_stamp

            res, prev = out
            archived = self.repo / "comp" / "archive" / \
                f"funda_{utc_stamp(last_modified_dttm(prev))}.parquet"
            return (res.action == "updated" and archived.exists()
                    and self._modified("comp", "funda")
                    == gen.freshness_comment(self.day)
                    and footer_rows(res.path) == self.n_funda)

        def update_same():
            return eng.update_pq("comp", "funda", gen.freshness_comment(self.day),
                                 funda_exporter(self.day))

        def check_same(res):
            return res.action == "skipped"

        cdc = self.inputs / f"cdc_{r}.parquet"
        table, apply_batch = self.ledger.batch(r)
        pq.write_table(table, cdc)

        def merge():
            updates = self.spark.read.parquet(str(cdc))
            return eng.merge_pq(updates, "crsp", "dsf_live",
                                key_cols=["permno", "date"], delete_col="_deleted")

        def check_merge(path):
            cdc.unlink()
            apply_batch()
            return footer_rows(path) == len(self.ledger.live)

        def vacuum():
            return eng.vacuum("comp", keep_last=2)

        def check_vacuum(_removed):
            return len(pq_list_files(self.repo, "comp", archive=True)) <= 2

        def read_count():
            return eng.read_pq("crsp", "dsf_live").count()

        def check_read(n):
            return n == len(self.ledger.live)

        tracer = self.ctx.tracer
        sf_dir = str(self.repo / "tpch")

        def query(name):
            def run():
                idx = tracer.open("workload.build")
                try:
                    df = self.query_fns[name](self.spark, sf_dir)
                finally:
                    tracer.close(idx)
                idx = tracer.open("workload.exec")
                try:
                    return df.columns, [tuple(x) for x in df.collect()]
                finally:
                    tracer.close(idx)

            def check(out):
                return self._oracle.norm_rows(*out) == self.expected[name]

            return name.split("_", 1)[0], run, check

        qty = self.AGG_QTY[int(rng.integers(0, len(self.AGG_QTY)))]

        def agg():
            return eng.sql_to_pq(self.AGG_SQL.format(q=qty), "agg", "lines_by_flag")

        def check_agg(path):
            return footer_rows(path) == self.agg_groups[qty]

        ops = [*(query(n) for n in self.QUERIES),
               ("sql_to_pq", agg, check_agg),
               ("export_full", export_full, check_full, self.n_dsf),
               ("export_filtered", export_filtered, check_filtered,
                self.where_rows[variant]),
               ("export_head", export_head, check_head, self.HEAD),
               ("update_newer", update_newer, check_newer, self.n_funda),
               ("update_same", update_same, check_same),
               ("merge", merge, check_merge),
               ("vacuum", vacuum, check_vacuum),
               ("read_count", read_count, check_read)]
        return [ops[i] for i in rng.permutation(len(ops))]

    def report(self, ops, wall_s):
        by = _by_kind(ops)
        exports = [o for o in ops if o.rows]
        return {
            "export_rows_per_s": (sum(o.rows for o in exports)
                                  / sum(o.seconds for o in exports), "1/s"),
            "export_full_p50_s": (median(by["export_full"]), "s"),
            "export_head_p50_s": (median(by["export_head"]), "s"),
            "merge_p50_s": (median(by["merge"]), "s"),
            "stored_bytes_per_source_byte":
                (tree_bytes(self.repo) / self.source_bytes, "ratio"),
            "query_p50_s": (median([t for kind, ts in by.items() if kind[0] == "q"
                                    for t in ts]), "s"),
        }


def _by_kind(ops) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o.kind, []).append(o.seconds)
    return out


def _check_oracle():
    """``scripts/check_oracle.py``, loaded by path (scripts/ is not a
    package) for its cross-engine row normalization."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "scripts" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# -- corpus_dedup ------------------------------------------------------------

class CorpusDedup(Workload):
    """Quality filter → exact dedup → MinHash-LSH → anti-join → export,
    per shard, over shards with planted exact and near duplicates."""

    name = "corpus_dedup"
    #: its rounds are short and keep speeding up through the fourth
    warmup_rounds = 3
    MINHASH = dict(num_hashes=64, bands=16, max_bucket=1000, impl="arrow")
    #: least share of a shard's planted near pairs MinHash must return.
    #: 16 bands x 4 rows find a pair at Jaccard >= 0.72 with probability
    #: about 0.99, so a correct operator clears this on every seed.
    RECALL_FLOOR = 0.9

    def __init__(self, seed: int, shards: int = 2, docs_per_shard: int = 400):
        super().__init__(seed)
        self.n_shards, self.docs_per_shard = shards, docs_per_shard

    def setup(self) -> None:
        """Generate the shards and ingest them into the repository; the
        pipeline reads them back from there."""
        self.corpus = gen.Corpus(self.seed, self.n_shards, self.docs_per_shard)
        for k, t in enumerate(self.corpus.shards):
            self.engine.file_to_pq(self._write_input(f"shard{k}", t),
                                   "parquet", "corpus", f"shard{k}")
        self.found: dict[int, set] = {}
        self.exact_found: dict[int, int] = {}

    def round(self, r: int) -> list[tuple]:
        import pandas as pd
        from pyspark.sql import functions as F

        from db2pq_spark.operators import dedup, filtering

        rng = np.random.default_rng([self.seed, 30, r])
        spark, tracer = self.spark, self.ctx.tracer
        ops = []
        for k in (int(i) for i in rng.permutation(self.n_shards)):
            st: dict = {}

            def ids_df(ids):
                # pandas → Arrow → JVM: no Python worker on the way in
                return F.broadcast(spark.createDataFrame(
                    pd.DataFrame({"doc_id": np.fromiter(ids, np.int64, len(ids))})))

            def gopher(k=k, st=st):
                docs = self.engine.read_pq("corpus", f"shard{k}")
                g = filtering.gopher_rules(docs, "text", "doc_id")
                st["pass"] = {row.id for row in
                              g.filter("passes").select("id").collect()}
                st["docs"] = docs.join(ids_df(st["pass"]), "doc_id", "left_semi")
                tracer.add("filter.docs_in", self.docs_per_shard)
                tracer.add("filter.docs_kept", len(st["pass"]))
                return st["pass"]

            def check_gopher(ids, k=k):
                return ids == self.corpus.passing[k]

            def exact(st=st):
                rows = dedup.exact_dedup(st["docs"], "text", "doc_id").collect()
                st["keep"] = {row.keep_id for row in rows}
                return sum(row.n_dups - 1 for row in rows)

            def check_exact(copies, k=k):
                self.exact_found[k] = copies
                return copies == self.corpus.exact_copies[k]

            def minhash(st=st):
                pairs = dedup.minhash_dedup(st["docs"], "text", "doc_id",
                                            **self.MINHASH).collect()
                st["pairs"] = [(p.id1, p.id2, p.jaccard) for p in pairs]
                tracer.add("dedup.verified_pairs", len(pairs))
                return st["pairs"]

            def check_minhash(pairs, k=k, st=st):
                planted = self.corpus.near_pairs[k]
                self.found[k] = {(a, b) for a, b, _ in pairs} & planted
                if tracer.enabled:
                    tracer.add("dedup.candidate_pairs",
                               self.candidate_pairs(st["docs"]))
                return (len(self.found[k]) >= self.RECALL_FLOOR * len(planted)
                        and all(j >= 0.7 and a in st["pass"] and b in st["pass"]
                                for a, b, j in pairs))

            def antijoin(st=st):
                drop = {b for _, b, _ in st["pairs"]}
                st["kept_df"] = (st["docs"]
                                 .join(ids_df(st["keep"]), "doc_id", "left_semi")
                                 .join(ids_df(drop or {-1}), "doc_id", "left_anti"))
                st["expected"] = len((st["pass"] & st["keep"]) - drop)
                return st["kept_df"].count()

            def check_antijoin(n, st=st):
                return n == st["expected"]

            def export(k=k, st=st):
                return self.engine.df_to_pq(st["kept_df"], "corpus", f"shard{k}_kept")

            def check_export(path, st=st):
                return footer_rows(path) == st["expected"]

            ops += [("gopher", gopher, check_gopher),
                    ("exact_dedup", exact, check_exact),
                    ("minhash_dedup", minhash, check_minhash),
                    ("antijoin", antijoin, check_antijoin),
                    ("export", export, check_export)]
        return ops

    def candidate_pairs(self, docs) -> int:
        """LSH candidate pairs before the exact-Jaccard verify, counted by
        re-running the operator's own banding stages (traced run only)."""
        from db2pq_spark.operators import dedup

        m = self.MINHASH
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", m["num_hashes"],
                                        impl=m["impl"])
        bands = sigs.select("id", dedup._band_key_entries(
            m["bands"], m["num_hashes"] // m["bands"])).select("id", "bk.band", "bk.key")
        return dedup._bucket_pairs(bands, ["band", "key"], m["max_bucket"]).count()

    def final_checks(self):
        planted = sum(self.corpus.exact_copies)
        return [("exact_dup_count_equals_planted",
                 len(self.exact_found) == self.n_shards
                 and sum(self.exact_found.values()) == planted)]

    def report(self, ops, wall_s):
        shards = sum(1 for o in ops if o.kind == "export")
        planted = sum(len(p) for p in self.corpus.near_pairs)
        found = sum(len(self.found.get(k, ())) for k in range(self.n_shards))
        return {"docs_per_s": (shards * self.docs_per_shard / wall_s, "1/s"),
                "dup_recall": (found / planted, "ratio")}


WORKLOADS = {w.name: w for w in (RepoSync, CorpusDedup)}


def write_json(path: Path, payload) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(payload))


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
