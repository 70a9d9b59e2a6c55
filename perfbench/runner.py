"""Run one workload: repeated set-up, warm-up rounds, optional traced
rounds, the timed closed loop, and the metrics.

One client drives the engine in a closed loop: the next operation is
sent only when the previous one has returned and been checked. The loop
runs whole rounds (a round is the workload's full seeded op mix) until
``seconds`` have passed and at least ``MIN_TIMED_ROUNDS`` rounds have
run, so every run measures the same mix and has the samples its tail
needs.

Every time the metrics report is steal-adjusted (``spans.Clock``): the
hypervisor's share of the interval is taken out, so a run on a busy host
reads close to one on a quiet host. The raw wall-time figures are
printed beside them.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from types import SimpleNamespace

import numpy as np

from spans import SPARK_COUNTERS, Clock, SparkCounters, Tracer, tree_peak_rss_bytes
from workloads import footer_rows, median, reset_dir, write_json

SETUPS = 3
TRACED_ROUNDS = 2
#: op_tail_s is always this percentile, so runs of a faster or slower
#: engine compare the same statistic; a run with fewer than
#: ``TAIL_MIN_BEYOND`` ops above it is flagged in the report lines
TAIL_PERCENTILE = 75
TAIL_MIN_BEYOND = 10
#: fewest timed rounds. A round has at least 10 ops, so the p75 of four
#: has ``TAIL_MIN_BEYOND`` samples above it, and each op kind has four
#: samples in every run
MIN_TIMED_ROUNDS = 4

END_TO_END = {  # name -> unit; every workload reports all of them
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB"}


@dataclass
class OpLog:
    kind: str
    seconds: float  # steal-adjusted
    ok: bool
    rows: int = 0
    op: int = -1
    spark: dict = field(default_factory=dict)
    wall: float = 0.0  # raw


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: the mean of the
    order statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density.

    An op mix has clusters of latencies (one per op kind) with gaps
    between them; a single order statistic jumps across a gap when one
    sample moves, while this weighted mean moves smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # Beta CDF at i/n by the midpoint rule on a fine grid
    grid = np.linspace(0.0, 1.0, 4001)
    mid = (grid[1:] + grid[:-1]) / 2
    log_pdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    edges = np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1])
    return float(np.diff(edges) @ x)


def tail(values: list[float]) -> tuple[float, int]:
    """(value, samples beyond it): the ``TAIL_PERCENTILE`` of ``values``."""
    cut = quantile(values, TAIL_PERCENTILE / 100)
    return cut, sum(x > cut for x in values)


class Run:
    """State of one benchmark run inside one Spark driver process."""

    def __init__(self, workload, work: Path, after_op=None):
        self.w = workload
        self.work = work
        self.after_op = after_op
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.session_starts: list[float] = []
        self.setup_times: list[float] = []
        self.ops_seen = 0
        self.corrupted: set[str] = set()

    # -- session -------------------------------------------------------------

    def start_session(self) -> None:
        from db2pq_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        # the driver heap is committed and touched up front, so the JVM's
        # share of peak_rss_mb does not depend on when the heap grew
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        self.spark = get_spark(
            app_name=f"perfbench-{self.w.name}",
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.driver.defaultJavaOptions":
                            f"-Xms{heap} -XX:+AlwaysPreTouch"})
        self.session_starts.append(time.perf_counter() - t0)

    def stop(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def setup(self) -> None:
        from db2pq_spark.core import Engine

        c0 = Clock.start()
        self.start_session()
        inputs = reset_dir(self.work / "inputs")
        repo = reset_dir(self.work / "repo")
        self.ctx = SimpleNamespace(spark=self.spark, inputs=inputs, repo=repo,
                                   engine=Engine(self.spark, repo),
                                   tracer=self.tracer)
        self.w.bind(self.ctx)
        self.w.setup()
        self.setup_times.append(c0.adjusted(Clock.stop()))

    # -- ops -----------------------------------------------------------------

    def run_op(self, op, counters=None) -> OpLog:
        kind, run, check, *rest = op
        self.tracer.op = self.ops_seen
        self.ops_seen += 1
        c0 = Clock.start()
        span = self.tracer.open(f"op.{kind}")
        try:
            result, error = run(), None
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            result, error = None, exc
        self.tracer.close(span)
        c1 = Clock.stop()
        log = OpLog(kind, c0.adjusted(c1), False, rest[0] if rest else 0,
                    self.tracer.op, wall=c1.wall - c0.wall)
        if counters is not None:
            log.spark = counters.delta()
        if error is not None:
            traceback.print_exception(error, file=sys.stderr)
        else:
            if self.after_op is not None:
                self.after_op(kind, result, self)
            try:
                log.ok = bool(check(result))
            except Exception:  # noqa: BLE001 - a failed check is a failed op
                traceback.print_exc(file=sys.stderr)
            if not log.ok:
                print(f"check failed: {kind}", file=sys.stderr)
        if counters is not None:
            counters.delta()  # drop work the check itself submitted
        return log

    def rounds(self, first: int, until=None, count=None, counters=None,
               min_rounds=0):
        """Run whole rounds: ``count`` of them, or, with ``until``, until
        ``until`` seconds have passed and ``min_rounds`` rounds have run.
        Returns (logs, next round, start clock, end clock)."""
        logs, r, c0 = [], first, Clock.start()
        while True:
            done = r - first
            if count is not None and done >= count:
                break
            if (until is not None and time.perf_counter() - c0.wall >= until
                    and done >= min_rounds):
                break
            for op in self.w.round(r):
                logs.append(self.run_op(op, counters))
            r += 1
        return logs, r, c0, Clock.stop()


def install_tracing(tracer: Tracer, counters: SparkCounters) -> None:
    """Wrap the engine's public module functions named in the layer map
    with spans (see README.md)."""
    from db2pq_spark import core
    from db2pq_spark.plans import plan
    from db2pq_spark.sinks import parquet_sink, repository

    for owner in (core, plan):
        tracer.wrap(owner, "build_plan", "plans")
    tracer.wrap(plan.QueryPlan, "apply", "plans")
    for fn in ("apply_numeric_mode", "normalize_timestamps"):
        tracer.wrap(core, fn, "functions.transform")
    for owner in (core, parquet_sink, repository):
        tracer.wrap(owner, "get_modified_pq", "sink.modified")
    for owner in (parquet_sink, repository):
        tracer.wrap(owner, "archive_existing", "sink.archive")
    for fn in ("pq_archive", "pq_list_files", "pq_last_modified", "pq_vacuum"):
        tracer.wrap(repository, fn, "repository")
    for fn in ("modified_info", "update_available"):
        tracer.wrap(core, fn, "sync.check")
    for m in ("df_to_pq", "file_to_pq", "sql_to_pq", "merge_pq", "read_pq",
              "vacuum", "register_views"):
        tracer.wrap(core.Engine, m, f"core.{m}")

    def count_update(res, _state):
        tracer.add("sync.checked", 1)
        tracer.add("sync.skipped", res.action == "skipped")

    tracer.wrap(core.Engine, "update_pq", "core.update_pq", after=count_update)

    def count_write(out, jobs_before):
        tracer.add("sink.spark_write_s",
                   counters.job_seconds(counters.job_ids() - jobs_before))
        if out is not None:
            files = list(Path(out).rglob("*.parquet"))
            tracer.add("sink.rows_written", footer_rows(out))
            tracer.add("sink.bytes_written", sum(p.stat().st_size for p in files))
            tracer.add("sink.files_written", len(files))

    for owner in (core, parquet_sink):
        tracer.wrap(owner, "write_parquet", "sink.write",
                    before=counters.job_ids, after=count_write)


def _op_seconds(logs, kind_prefix: str) -> float:
    return sum(o.seconds for o in logs if o.kind.startswith(kind_prefix))


def layer_metrics(run: Run, tracer: Tracer, traced: list[OpLog],
                  traced_wall: float, untraced_ops_per_s: float) -> dict:
    """Per-layer figures of the traced rounds, per round."""
    k = TRACED_ROUNDS
    layers, counts = tracer.by_layer(), tracer.counts

    def span(name, field="total_s"):
        return layers.get(name, {}).get(field, 0.0) / k

    def count(name):
        return counts.get(name, 0.0) / k

    write_s, spark_write_s = span("sink.write"), count("sink.spark_write_s")
    cands, verified = count("dedup.candidate_pairs"), count("dedup.verified_pairs")
    out = {
        "session.start_s": median(run.session_starts[1:] or run.session_starts),
        "session.cold_start_s": run.session_starts[0],
        "plans.build_s": span("plans"),
        "plans.calls": span("plans", "calls"),
        "functions.transform_s": span("functions.transform"),
        "sink.write_s": write_s,
        "sink.spark_write_s": spark_write_s,
        "sink.bookkeeping_s": write_s - spark_write_s,
        "sink.rows_written": count("sink.rows_written"),
        "sink.bytes_written": count("sink.bytes_written"),
        "sink.files_written": count("sink.files_written"),
        "repository.op_s": span("repository", "self_s"),
        "repository.calls": span("repository", "calls"),
        "sync.check_s": span("sync.check"),
        "sync.skip_ratio": (counts.get("sync.skipped", 0.0)
                            / counts["sync.checked"]) if counts.get("sync.checked") else 0.0,
        "core.merge_self_s": span("core.merge_pq", "self_s"),
        "core.read_pq_s": span("core.read_pq"),
        "workload.build_s": span("workload.build"),
        "workload.exec_s": span("workload.exec"),
        "filter.s": _op_seconds(traced, "gopher") / k,
        "filter.docs_in": count("filter.docs_in"),
        "filter.docs_kept": count("filter.docs_kept"),
        "dedup.exact_s": _op_seconds(traced, "exact_dedup") / k,
        "dedup.minhash_s": _op_seconds(traced, "minhash_dedup") / k,
        "dedup.candidate_pairs": cands,
        "dedup.verified_pairs": verified,
        "dedup.verify_yield": verified / cands if cands else 0.0,
    }
    for name in SPARK_COUNTERS:
        out[f"spark.{name}"] = sum(o.spark.get(name, 0.0) for o in traced) / k
    out["trace.overhead_ops_per_s"] = untraced_ops_per_s - len(traced) / traced_wall
    return out


LAYER_UNITS = {
    "plans.calls": "count", "repository.calls": "count", "sync.skip_ratio": "ratio",
    "sink.rows_written": "count", "sink.bytes_written": "bytes",
    "sink.files_written": "count", "filter.docs_in": "count",
    "filter.docs_kept": "count", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "trace.overhead_ops_per_s": "1/s"}


def layer_unit(name: str) -> str:
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    return "bytes" if name.endswith("_bytes") else "s"


def execute(workload, seconds: float, trace: bool, work: Path,
            setups: int = SETUPS, after_op=None, trace_out: Path | None = None):
    """Run ``workload`` and return (result dict, report lines, run)."""
    run = Run(workload, work, after_op)
    lines: list[str] = []
    try:
        for _ in range(setups):
            run.setup()
        workload.prepare_checks()
        # warm-up: checked, not timed
        logs, r, *_ = run.rounds(0, count=workload.warmup_rounds)
        traced, traced_wall, tracer = [], 0.0, None
        if trace:
            tracer = Tracer(enabled=True)
            run.tracer = run.ctx.tracer = tracer
            counters = SparkCounters(run.spark)
            install_tracing(tracer, counters)
            try:
                traced, r, c0, c1 = run.rounds(
                    r, count=TRACED_ROUNDS, counters=counters)
                traced_wall = c0.adjusted(c1)
            finally:
                tracer.unwrap_all()
            run.tracer = run.ctx.tracer = Tracer(enabled=False)
            run.traced_tracer, run.traced_logs = tracer, traced
            logs += traced
        timed, r, c0, c1 = run.rounds(r, until=seconds,
                                      min_rounds=MIN_TIMED_ROUNDS)
        loop_s = c0.adjusted(c1)
        logs += timed
        finals = workload.final_checks()
        peak_rss = tree_peak_rss_bytes()
    finally:
        run.stop()
    run.all_logs = logs

    failed = sum(not o.ok for o in logs)
    for name, ok in finals:
        if not ok:
            failed += 1
            lines.append(f"final check failed: {name}")
    lat = [o.seconds for o in timed]
    tail_v, beyond = tail(lat)
    e2e = {
        "setup_s": median(run.setup_times),
        "ops_per_s": len(timed) / loop_s,
        "op_p50_s": quantile(lat, 0.5),
        "op_tail_s": tail_v,
        "peak_rss_mb": peak_rss / 2**20,
    }
    raw = [o.wall for o in timed]
    lines.append(f"steal {(c1.steal - c0.steal) / (c1.wall - c0.wall):.4f} CPUs "
                 "over the timed loop")
    lines.append(f"unadjusted ops_per_s {len(timed) / (c1.wall - c0.wall):.6g} 1/s, "
                 f"op_p50_s {quantile(raw, 0.5):.6g} s, "
                 f"op_tail_s {tail(raw)[0]:.6g} s")
    lines.append(f"op_tail_s is p{TAIL_PERCENTILE} of {len(lat)} timed ops "
                 f"({beyond} beyond it)")
    if beyond < TAIL_MIN_BEYOND:
        lines.append(f"WARNING op_tail_s has fewer than {TAIL_MIN_BEYOND} "
                     "samples beyond it: lengthen --seconds")
    lines.append(f"failed_ops_ratio {failed / len(logs):.6f} ratio "
                 f"({failed} of {len(logs)} ops, warm-up and traced rounds included)")
    extra = workload.report(timed, loop_s)
    for name, value in e2e.items():
        lines.append(f"{name} {value:.6g} {END_TO_END[name]}")
    for name, (value, unit) in extra.items():
        lines.append(f"{name} {value:.6g} {unit}")
    if trace:
        metrics = layer_metrics(run, tracer, traced, traced_wall, e2e["ops_per_s"])
        units = {n: layer_unit(n) for n in metrics}
        if trace_out is not None:
            write_json(trace_out, {
                "workload": workload.name, **tracer.to_json(),
                "ops": [o.__dict__ for o in traced], "layers": metrics})
            lines.append(f"spans written to {trace_out}")
        for name, value in metrics.items():
            lines.append(f"{name} {value:.6g} {units[name]}")
    else:
        metrics, units = e2e, END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(logs),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    return result, lines, run
