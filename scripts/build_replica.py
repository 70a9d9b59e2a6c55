#!/usr/bin/env python
"""Build (once) a persistent N× key-shifted replica of sf0.1 for perf
iteration — scale_smoke.py's ``build_replica`` (imported, not copied),
minus the delete-at-exit, so q64/q116-style plan work can measure
repeatedly against an identical dataset.

Usage: SMOKE_COPIES=100 python scripts/build_replica.py /tmp/sf10x100
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    out_dir = sys.argv[1]
    import scale_smoke as sm

    from db2pq_spark.session import get_spark

    spark = get_spark(app_name="build_replica")
    t0 = time.perf_counter()
    sm.build_replica(spark, out_dir)
    print(f"replica at {out_dir} built in {time.perf_counter() - t0:.0f}s")


if __name__ == "__main__":
    main()
