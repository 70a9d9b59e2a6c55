"""Full-registry oracle sweep as a test — every oracle-bearing entry in
``__spark_entry__.queries()`` (not just the driver's 50-slot gate) must
match its DuckDB oracle, so the beyond-gate queries cannot silently rot.

~5-8 minutes of Spark+DuckDB work, so it is opt-in:

    RUN_FULLGATE=1 python -m pytest tests/test_fullgate.py -q

The per-round artifact (FULLGATE_r{N}.json) is produced by
``python scripts/check_oracle.py --json FULLGATE_rN.json``.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

pytestmark = pytest.mark.skipif(
    not os.environ.get("RUN_FULLGATE"),
    reason="full sweep is opt-in: set RUN_FULLGATE=1",
)


def test_every_oracle_bearing_query_is_green(spark):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from check_oracle import run_sweep

    results = run_sweep(spark=spark, verbose=False)
    failed = {n: r["problems"] for n, r in results.items()
              if r["status"] == "fail"}
    assert not failed, f"non-green sweep rows: {failed}"
    # sanity: the sweep actually covered the registry
    assert sum(1 for r in results.values() if r["status"] == "pass") >= 90
