#!/usr/bin/env python3
"""Benchmark self-test at a tiny scale.

    python3 perfbench/selftest.py

Checks that every workload emits every metric with its unit (untraced
and traced), that a corrupted output — a truncated part file, a wrong
sidecar stamp — is counted as a failed op, and that no span's self time
exceeds the wall time of the op it belongs to. Exits 0 when all hold.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

from run import OUT, ROOT, pin_env

HERE = Path(__file__).resolve().parent
TINY = {
    "repo_sync": dict(n_firms=20, n_days=100, n_funda=2_000, n_orders=1_000),
    "corpus_dedup": dict(shards=2, docs_per_shard=200),
}


def corrupt(kind: str, result, run) -> None:
    """Damage the first full export and the first refreshed sidecar."""
    done = run.corrupted
    if kind == "export_full" and "truncate" not in done:
        part = sorted(Path(result).glob("part-*.parquet"))[0]
        part.write_bytes(part.read_bytes()[: part.stat().st_size // 2])
        done.add("truncate")
    elif kind == "update_newer" and "stamp" not in done:
        sidecar = Path(result[0].path) / "_last_modified.json"
        meta = json.loads(sidecar.read_text())
        meta["last_modified"] = "Last modified: 01/01/1999 00:00:00"
        sidecar.write_text(json.dumps(meta))
        done.add("stamp")


def main() -> int:
    work = OUT / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    pin_env(work)
    sys.path[:0] = [str(ROOT), str(HERE)]
    from runner import execute
    from workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems: list[str] = []
    try:
        for name, cls in WORKLOADS.items():
            for trace in (False, True):
                w = cls(1, **TINY[name])
                res, _lines, run = execute(w, 0.5, trace, work / name, setups=1)
                if not res["correct"]:
                    problems.append(f"{name} trace={trace}: clean run not correct")
                want = {m["name"]: m["unit"] for m in
                        spec["per_layer" if trace else "end_to_end"]}
                got = {m: v["unit"] for m, v in res["metrics"].items()}
                if got != want:
                    problems.append(f"{name} trace={trace}: metrics/units "
                                    f"{sorted(set(got.items()) ^ set(want.items()))}")
                if trace:
                    problems += check_self_times(name, run)
        problems += check_corruption(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "passed" if not problems else f"failed ({len(problems)})")
    return 1 if problems else 0


def check_self_times(name: str, run) -> list[str]:
    """Every span's self time lies within its op's wall time."""
    tracer, out = run.traced_tracer, []
    walls = {o.op: o.wall for o in run.traced_logs}
    for sp, st in zip(tracer.spans, tracer.self_times()):
        wall = walls.get(sp.op)
        if wall is None or st < -1e-6 or st > wall + 1e-3:
            out.append(f"{name}: span {sp.name} self {st:.4f}s vs op wall {wall}")
    if not tracer.spans:
        out.append(f"{name}: traced run recorded no spans")
    return out


def check_corruption(work: Path) -> list[str]:
    from runner import execute
    from workloads import RepoSync

    w = RepoSync(1, **TINY["repo_sync"])
    _res, _lines, run = execute(w, 0.5, False, work / "corrupt", setups=1,
                                after_op=corrupt)
    failed = {o.kind for o in run.all_logs if not o.ok}
    out = []
    if run.corrupted != {"truncate", "stamp"}:
        out.append(f"corruption not injected: {run.corrupted}")
    for kind in ("export_full", "update_newer"):
        if kind not in failed:
            out.append(f"corrupted {kind} output was not counted as failed")
    return out


if __name__ == "__main__":
    sys.exit(main())
