#!/usr/bin/env python
"""Driver-barrier audit: run a query through the noop sink and report
how many Spark JOBS it submitted (sc.statusTracker) plus wall time —
the per-query barrier floor the 8-core-faster scaling rows flagged
(VERDICT r13 item 6). Each named query runs in THIS process; run one
invocation per query family for isolation-sensitive timing (this
script is about job COUNTS, which are load-independent).

Usage: python scripts/job_count.py q155_pagerank [q157_pq_increment ...]
       (each query's production variant where one is registered —
        workload.timed, the config bench.py times)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from db2pq_spark import workload  # noqa: E402
from db2pq_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="job_count",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    st = spark.sparkContext.statusTracker()
    for name in names:
        qfn = workload.timed(name)
        # one warm pass (codegen/page cache), then the counted pass
        for counted in (False, True):
            before = len(st.getJobIdsForGroup(None))
            t0 = time.perf_counter()
            qfn(spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            dt = time.perf_counter() - t0
            jobs = len(st.getJobIdsForGroup(None)) - before
            if counted:
                print(f"{name}: jobs={jobs} wall={dt:.2f}s", flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
