"""Compare the deterministic counters of two perfbench traces.

    python scripts/compare_traces.py A.json B.json

``A.json`` and ``B.json`` are ``.perfbench/traces/<workload>_seed<N>.json``
files written by ``perfbench/run.py --trace 1`` (typically the parent
commit and a change, same workload and seed). Prints, per op kind, the
median over the traced rounds of the Spark counters that do not depend
on the host's speed — jobs, stages, tasks, shuffle read/write bytes —
for A, B and B − A, then every per-layer metric of the two runs with
its delta. Wall-time layers are printed too, but only the counters are
reproducible run to run.
"""

from __future__ import annotations

import json
import sys
from statistics import median

COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes")


def op_counters(trace: dict) -> dict[str, dict[str, float]]:
    """{op kind: {counter: median over the traced ops of that kind}}."""
    by_kind: dict[str, list[dict]] = {}
    for op in trace["ops"]:
        by_kind.setdefault(op["kind"], []).append(op["spark"])
    return {kind: {c: median(s.get(c, 0.0) for s in runs) for c in COUNTERS}
            for kind, runs in by_kind.items()}


def _num(x: float) -> str:
    return f"{x:.6g}"


def _table(header: list[str], rows: list[list[str]]) -> str:
    widths = [max(len(r[i]) for r in [header, *rows]) for i in range(len(header))]
    fmt = "  ".join(f"{{:<{w}}}" if i == 0 else f"{{:>{w}}}"
                    for i, w in enumerate(widths))
    return "\n".join(fmt.format(*r) for r in [header, *rows])


def compare(a: dict, b: dict) -> str:
    ca, cb = op_counters(a), op_counters(b)
    rows = []
    for kind in sorted(ca.keys() | cb.keys()):
        for c in COUNTERS:
            va, vb = ca.get(kind, {}).get(c, 0.0), cb.get(kind, {}).get(c, 0.0)
            rows.append([f"{kind} {c}", _num(va), _num(vb), _num(vb - va)])
    out = [f"per-op medians ({a['workload']} A vs {b['workload']} B)",
           _table(["op counter", "A", "B", "B-A"], rows), ""]
    la, lb = a["layers"], b["layers"]
    rows = []
    for name in sorted(la.keys() | lb.keys()):
        va, vb = la.get(name, 0.0), lb.get(name, 0.0)
        rel = f"{(vb - va) / va:+.1%}" if va else ""
        rows.append([name, _num(va), _num(vb), _num(vb - va), rel])
    out += ["per-layer metrics, per round",
            _table(["layer", "A", "B", "B-A", "rel"], rows)]
    return "\n".join(out)


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print("usage: python scripts/compare_traces.py A.json B.json",
              file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv[1:])
    print(compare(a, b))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
