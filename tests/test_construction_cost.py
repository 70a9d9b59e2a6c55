"""py4j round trips spent *building* the corpus operators' plans.

Every ``F.*`` builder, Column operator and Python lambda is at least one
py4j round trip, so the dedup tier writes its projections as SQL text
(the construction rule in the ``operators/dedup.py`` module docstring).
These tests count the commands PySpark sends to the JVM while an
operator builds its DataFrame — no action is called — and hold each
under a budget at least 3× below the count of the former ``F.*``-built
version, measured on the sf0.001 documents fixture after one warm-up
build:

=================================  =========  ======
operator                           F.* built  budget
=================================  =========  ======
gopher_rules                             715     238
exact_dedup                              114      38
minhash_signatures                       438     146
minhash_dedup, hash repr                1005     335
minhash_dedup, text repr                 949     316
simhash_dedup                            536     178
simhash_dedup, md5_60                    557     185
winnow_fingerprints                      190      63
winnow_overlap_pairs                     351     117
winnow_overlap_pairs, md5_60             491     163
winnow_overlap_incremental               615     205
duplicate_spans                          590     196
duplicate_spans, md5                     540     180
duplicate_span_positions                 357     119
remove_duplicate_spans                   883     294
contamination_stats                      686     228
contamination_stats, md5                 575     191
=================================  =========  ======

Object-release commands (``m\\nd\\n``, sent when Python garbage-collects
a JVM reference) are not counted: their number follows the collector,
not the build. Only the test's own thread is counted.

The file also pins :func:`..skew.ensure_parallelism`'s three plan
classes.
"""
from __future__ import annotations

import threading

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from db2pq_spark.operators import dedup, filtering
from db2pq_spark.operators.skew import ensure_parallelism

BUDGETS = {
    "gopher_rules": 238,
    "exact_dedup": 38,
    "minhash_signatures": 146,
    "minhash_dedup_hash": 335,
    "minhash_dedup_text": 316,
    "simhash_dedup": 178,
    "simhash_dedup_md5_60": 185,
    "winnow_fingerprints": 63,
    "winnow_overlap_pairs": 117,
    "winnow_overlap_pairs_md5_60": 163,
    "winnow_overlap_incremental": 205,
    "duplicate_spans": 196,
    "duplicate_spans_md5": 180,
    "duplicate_span_positions": 119,
    "remove_duplicate_spans": 294,
    "contamination_stats": 228,
    "contamination_stats_md5": 191,
}

BUILDERS = {
    "gopher_rules": lambda d: filtering.gopher_rules(d, "text", "doc_id"),
    "exact_dedup": lambda d: dedup.exact_dedup(d, "text", "doc_id"),
    "minhash_signatures":
        lambda d: dedup.minhash_signatures(d, "text", "doc_id"),
    "minhash_dedup_hash": lambda d: dedup.minhash_dedup(d, "text", "doc_id"),
    "minhash_dedup_text": lambda d: dedup.minhash_dedup(
        d, "text", "doc_id", shingle_repr="text"),
    "simhash_dedup": lambda d: dedup.simhash_dedup(d, "text", "doc_id"),
    "simhash_dedup_md5_60": lambda d: dedup.simhash_dedup(
        d, "text", "doc_id", token_hash="md5_60"),
    "winnow_fingerprints":
        lambda d: dedup.winnow_fingerprints(d, "text", "doc_id"),
    "winnow_overlap_pairs":
        lambda d: dedup.winnow_overlap_pairs(d, "text", "doc_id"),
    "winnow_overlap_pairs_md5_60": lambda d: dedup.winnow_overlap_pairs(
        d, "text", "doc_id", token_hash="md5_60"),
    "winnow_overlap_incremental": lambda d: dedup.winnow_overlap_incremental(
        d.where("doc_id % 5 = 0"), d, "text", "doc_id"),
    "duplicate_spans": lambda d: dedup.duplicate_spans(d, "text", "doc_id"),
    "duplicate_spans_md5": lambda d: dedup.duplicate_spans(
        d, "text", "doc_id", span_hash="md5"),
    "duplicate_span_positions":
        lambda d: dedup.duplicate_span_positions(d, "text", "doc_id"),
    "remove_duplicate_spans":
        lambda d: dedup.remove_duplicate_spans(d, "text", "doc_id"),
    "contamination_stats": lambda d: dedup.contamination_stats(
        d, d.where("doc_id % 7 = 0"), "text", "doc_id"),
    "contamination_stats_md5": lambda d: dedup.contamination_stats(
        d, d.where("doc_id % 7 = 0"), "text", "doc_id", span_hash="md5"),
}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _build_calls(monkeypatch, build) -> int:
    """py4j commands this thread sends while ``build()`` runs."""
    send = py4j.clientserver.ClientServerConnection.send_command
    me, n = threading.get_ident(), [0]

    def counting(conn, command):
        if threading.get_ident() == me and not command.startswith("m\nd\n"):
            n[0] += 1
        return send(conn, command)

    with monkeypatch.context() as m:
        m.setattr(py4j.clientserver.ClientServerConnection, "send_command",
                  counting)
        build()
    return n[0]


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_build_call_budget(monkeypatch, docs, name):
    build = BUILDERS[name]
    build(docs)  # warm-up: one-off imports and function lookups
    calls = _build_calls(monkeypatch, lambda: build(docs))
    assert calls <= BUDGETS[name], (
        f"{name} sent {calls} py4j commands while building its plan "
        f"(budget {BUDGETS[name]})")


class TestEnsureParallelism:
    def test_single_partition_scan_is_spread(self, docs):
        assert docs.rdd.getNumPartitions() == 1
        out = ensure_parallelism(docs, min_partitions=4)
        assert out.rdd.getNumPartitions() == 4

    def test_shuffled_input_is_unchanged(self, docs):
        agg = docs.groupBy("doc_id").count()
        assert ensure_parallelism(agg, min_partitions=64) is agg

    def test_broadcast_joined_input_is_unchanged(self, spark, docs):
        ids = F.broadcast(spark.range(0, 10).withColumnRenamed("id",
                                                               "doc_id"))
        joined = docs.join(ids, "doc_id", "left_semi")
        assert ensure_parallelism(joined, min_partitions=64) is joined
