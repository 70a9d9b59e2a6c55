"""The production variants the harnesses time (``workload.PRODUCTION``,
resolved by ``workload.timed``) are checked, not only timed: each one
belongs to a registered gate entry, each runs end to end, and the
variants documented as bit-identical to their gate entry return the
gate's rows."""

from __future__ import annotations

import os
import sys

import pytest

from db2pq_spark import workload

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_production_name_is_registered():
    assert workload.PRODUCTION
    assert set(workload.PRODUCTION) - set(workload.REGISTRY) == set()


def test_timed_prefers_the_production_variant():
    for name, fn in workload.PRODUCTION.items():
        assert workload.timed(name) is fn
        assert fn.__doc__ and fn.__doc__.strip(), f"{name}: no provenance"
    gate = workload.REGISTRY["q01_pricing_summary"][0]
    assert workload.timed("q01_pricing_summary") is gate
    with pytest.raises(KeyError):
        workload.timed("q00_not_registered")


def test_harness_families_name_registered_queries():
    sys.path.insert(0, _REPO)
    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    import bench
    import scale_smoke

    for families, extra in ((bench._FAMILIES, set(bench._EXPORT_NAMES)),
                            (scale_smoke.FAMILIES, set())):
        names = [q for _, qs in families for q in qs]
        assert len(names) == len(set(names))
        assert set(names) - set(workload.REGISTRY) - extra == set()


@pytest.mark.parametrize("name", sorted(workload.PRODUCTION))
def test_production_variant_runs(spark, sf_dir, name):
    workload.PRODUCTION[name](spark, sf_dir).write.format("noop") \
        .mode("overwrite").save()
    spark.catalog.clearCache()


@pytest.mark.parametrize("name, renames", [
    ("q132_char_entropy", {"id": "doc_id"}),
    ("q147_gopher_repetition", {"id": "doc_id", "pass": "keep"}),
])
def test_bit_identical_variant_returns_gate_rows(spark, sf_correct_dir,
                                                 name, renames):
    gate = workload.REGISTRY[name][0](spark, sf_correct_dir)
    prod = workload.PRODUCTION[name](spark, sf_correct_dir) \
        .withColumnsRenamed(renames)
    assert prod.columns == gate.columns
    assert prod.count() == gate.count() > 0
    assert prod.exceptAll(gate).count() == 0
    assert gate.exceptAll(prod).count() == 0
