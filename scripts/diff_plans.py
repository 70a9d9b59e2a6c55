#!/usr/bin/env python
"""Compare two plan dumps query by query, ignoring run-specific ids.

DIR_A and DIR_B hold ``scripts/dump_round_plans.py`` output, one
``<query>_<tag>.txt`` file per query, dumped with the same round and
tag from two checkouts; files pair by name.

Before comparing, each plan is normalised so that two builds of the
same plan read the same:

- expression ids ``#N``;
- lambda variables: each one (name and id) is numbered in order of
  first appearance, since ``F.transform`` names its variable ``x_45``
  and SQL text reuses ``x`` across lambdas;
- ``[plan_id=N]``, codegen stage ``*(N)`` / ``[codegen id : N]`` and
  ``QueryStage N`` numbers, and RDD ids;
- ``UnsafeArrayData@…`` hashes of folded array literals.

Prints one line per query: ``identical``, ``DIFFERENT`` (followed by
the first lines of a diff of the normalised plans), or ``only in A/B``.
Exits 1 when any query differs or is missing on one side.

Usage: python scripts/diff_plans.py DIR_A DIR_B
"""
from __future__ import annotations

import difflib
import os
import re
import sys

_SUBS = [
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=]"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : ]"),
    (re.compile(r"QueryStage \d+"), "QueryStage"),
    (re.compile(r"UnsafeArrayData@[0-9a-f]+"), "UnsafeArrayData@"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"#\d+"), "#"),
]
_LAMBDA = re.compile(r"\blambda (\w+#\d+)")


def normalise(plan: str) -> str:
    names: dict[str, int] = {}
    plan = _LAMBDA.sub(
        lambda m: "lambda v%d" % names.setdefault(m.group(1), len(names)),
        plan)
    for pat, rep in _SUBS:
        plan = pat.sub(rep, plan)
    return plan


def _plans(d: str) -> dict[str, str]:
    return {f[:-4]: os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".txt")}


def main() -> int:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    dir_a, dir_b = sys.argv[1:]
    a, b = _plans(dir_a), _plans(dir_b)
    bad = 0
    for key in sorted(a.keys() | b.keys()):
        if key not in b or key not in a:
            print(f"{key}: only in {'A' if key in a else 'B'}")
            bad += 1
            continue
        with open(a[key]) as fa, open(b[key]) as fb:
            pa, pb = normalise(fa.read()), normalise(fb.read())
        if pa == pb:
            print(f"{key}: identical")
            continue
        bad += 1
        print(f"{key}: DIFFERENT")
        diff = difflib.unified_diff(pa.splitlines(), pb.splitlines(),
                                    a[key], b[key], lineterm="", n=1)
        for line in list(diff)[:40]:
            print("    " + line)
    print(f"{len(a.keys() | b.keys()) - bad} identical, {bad} different "
          "or unpaired")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
