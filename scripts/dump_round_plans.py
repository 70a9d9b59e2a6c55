#!/usr/bin/env python
"""Dump .explain("formatted") for an optimization round's targets.

Writes plans/<round>/<qname>_<tag>.txt for every query name given on
the command line (round = first arg, e.g. "r14"; tag = second arg:
"before" or "after"). The plan captured
is the BENCH configuration (``workload.timed``: the query's production
variant when one is registered, else the gate entry) — the config
whose seconds the optimization round is judged on. Iterative operators (pagerank, EM trainers, suffix
doubling) run driver-side loops whose intermediate actions don't show
in one final explain; for those the final-plan shape plus the loop
structure in code is the evidence.

Usage: python scripts/dump_round_plans.py r14 before q149_longest_dup_span ...
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from db2pq_spark.session import get_spark  # noqa: E402


def main() -> None:
    round_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump_{round_dir}_plans")

    from db2pq_spark import workload

    for name in names:
        fn = workload.timed(name)
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        n_py = (plan.count("BatchEvalPython")
                + plan.count("ArrowEvalPython")
                + plan.count("MapInPandas"))
        print(f"{name}: {len(plan)} chars, Exchange x{n_ex}, "
              f"python-eval x{n_py} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
