"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 15 --trace 0

Runs one workload (sync_incremental, relational_batch) in one process:
set-up, then ``--seconds`` of measurement (at least one operation; a
loop stops early when its next operation would not finish inside the
window), with every output checked. Stdout ends with two JSON
lines: a full report (machine, seed, every workload-specific metric by
name and unit, failures, digests), then the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` its
metrics are BENCHMARK.json's end-to-end metrics; with ``--trace 1`` the
per-layer metrics, and the spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracer import Tracer  # noqa: E402

BENCH = os.path.join(ROOT, "BENCHMARK.json")
DIGESTS = os.path.join(ROOT, "perfbench", "digests.json")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SEED = 1
SETUP_REPS = 3  # setup_s reports the median of this many set-up builds


class Result:
    """What a workload hands back: set-up times, operation latencies,
    attempted/failed counts, workload-specific metrics and digests."""

    def __init__(self):
        self.setup: list[float] = []
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, dict] = {}
        self.digests: dict[str, str] = {}

    def timed(self, build, reps: int = SETUP_REPS) -> None:
        for rep in range(reps):
            t0 = time.perf_counter()
            build(rep)
            self.setup.append(time.perf_counter() - t0)

    def attempt(self, ok: bool, msg: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(msg)

    def fail(self, msg: str) -> None:
        self.attempt(False, msg)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}

    @staticmethod
    def median(xs) -> float:
        return statistics.median(xs) if xs else float("nan")


class Timer:
    t0 = 0.0
    elapsed = 0.0


class Context:
    """Run-wide state handed to a workload."""

    def __init__(self, seed: int, seconds: float, work_dir: str, session, tracer: Tracer):
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.session = session
        self.spark = session.spark
        self.sc = session.sc
        self.tracer = tracer

    @contextmanager
    def op(self, rid: str, query: str | None = None):
        """One timed operation under its own Spark job group. Traced runs
        also record its GC time, driver CPU and job/stage/task counts;
        that probing happens outside the timed interval."""
        tr = self.tracer
        tr.request(rid)
        self.sc.setJobGroup(rid, rid)
        if tr.enabled:
            p0 = time.perf_counter()
            gc0, cpu0 = self.session.gc_s(), time.process_time()
            tr.count("trace.probe_s", time.perf_counter() - p0)
        timer = Timer()
        timer.t0 = time.perf_counter()
        try:
            yield timer
        finally:
            timer.elapsed = time.perf_counter() - timer.t0
            tr.request(None)
            if tr.enabled:
                p0 = time.perf_counter()
                cpu = time.process_time() - cpu0
                tr.count("jvm.gc_s", self.session.gc_s() - gc0)
                tr.count("driver.cpu_s", cpu)
                jobs, stages, tasks = self.session.job_counts(rid)
                tr.count("queries.jobs", jobs)
                tr.count("queries.stages", stages)
                tr.count("queries.tasks", tasks)
                if query:
                    tr.count(f"parity.{query}_tasks", tasks)
                    tr.count(f"parity.{query}_n")
                tr.count("ops")
                tr.count("trace.probe_s", time.perf_counter() - p0)


def workloads():
    from perfbench.batch import RelationalBatch
    from perfbench.sync import SyncIncremental

    return {w.name: w for w in (SyncIncremental, RelationalBatch)}


def end_to_end(res: Result, start_s: float) -> dict:
    return {
        "setup_s": {"value": start_s + res.median(res.setup), "unit": "s"},
        "phase1_s": res.metrics.get("phase1_s", {}),
        "phase2_s": res.metrics.get("phase2_s", {}),
    }


def per_layer(tr: Tracer, start_s: float, res: Result, rss_mb: dict[str, float]) -> dict:
    """Per-layer figures from the traced run's spans and counters. Times
    and counts are per timed operation (a sync cycle or one query run)
    unless named otherwise."""
    from perfbench.batch import CURATION, OLAP

    total, selft = tr.aggregate(lambda s: s.request is not None and not s.request.startswith("setup"))
    c = tr.counts
    n = max(1.0, c.get("ops", 0.0))
    out = {
        "session.start_s": (start_s, "s"),
        "normalize.plan_s": (total.get("normalize.plan", 0.0) / n, "s"),
        "sources.fetch_s": (total.get("sources.fetch", 0.0) / n, "s"),
        "sources.fetch_requests": (c.get("sources.fetch_requests", 0.0) / n, "count"),
        "sources.assemble_s": (total.get("sources.assemble", 0.0) / n, "s"),
        "sources.store_write_s": (total.get("sources.store_write", 0.0) / n, "s"),
        "sources.export_s": (total.get("sources.export", 0.0) / n, "s"),
        "sources.store_bytes": (c.get("sources.store_bytes", 0.0), "B"),
        "operators.refresh_cache_s": (selft.get("operators.refresh_cache", 0.0) / n, "s"),
        "operators.changed_frac": (
            c.get("operators.changed", 0.0) / c["operators.fetched"]
            if c.get("operators.fetched") else 0.0, "ratio"),
        "queries.plan_s": (total.get("queries.plan", 0.0) / n, "s"),
        "queries.jobs_per_request": (c.get("queries.jobs", 0.0) / n, "count"),
        "queries.stages_per_request": (c.get("queries.stages", 0.0) / n, "count"),
        "queries.tasks_per_request": (c.get("queries.tasks", 0.0) / n, "count"),
        "sinks.analysis_render_s": (total.get("sinks.analysis_render", 0.0) / n, "s"),
        "sinks.report_payload_s": (total.get("sinks.report_payload", 0.0) / n, "s"),
        "sinks.pdf_render_s": (total.get("sinks.pdf_render", 0.0) / n, "s"),
        "sinks.chart_render_s": (total.get("sinks.chart_render", 0.0) / n, "s"),
        "pipeline_app.run_pipeline_s": (total.get("pipeline_app.run_pipeline", 0.0) / n, "s"),
        "pipeline_app.self_s": (selft.get("pipeline_app.run_pipeline", 0.0) / n, "s"),
        "jvm.gc_s": (c.get("jvm.gc_s", 0.0) / n, "s"),
        "jvm.peak_rss_mb": (rss_mb["jvm"], "MB"),
        "driver.peak_rss_mb": (rss_mb["python"], "MB"),
        "driver.cpu_s": (c.get("driver.cpu_s", 0.0) / n, "s"),
        "trace.probe_s": (c.get("trace.probe_s", 0.0) / n, "s"),
        # the same phases as the untraced run's, measured with tracing on
        "trace.phase1_s": (res.metrics.get("phase1_s", {}).get("value", 0.0), "s"),
        "trace.phase2_s": (res.metrics.get("phase2_s", {}).get("value", 0.0), "s"),
    }
    for q in OLAP + CURATION:
        runs = c.get(f"parity.{q}_n", 0.0)
        out[f"parity.{q}_s"] = (total.get(f"parity.{q}", 0.0) / runs if runs else 0.0, "s")
        out[f"parity.{q}_tasks"] = (c.get(f"parity.{q}_tasks", 0.0) / runs if runs else 0.0, "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def check_digests(workload: str, seed: int, res: Result) -> None:
    """For the default seed, replies must match the committed digests."""
    if seed != DEFAULT_SEED or not os.path.exists(DIGESTS):
        return
    with open(DIGESTS) as f:
        want = json.load(f).get(workload, {})
    for key, d in want.items():
        if key in res.digests:
            res.attempt(res.digests[key] == d, f"digest {key}: {res.digests[key]} != {d}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(workloads()))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench import env, layers

    with open(BENCH) as f:
        bench = json.load(f)
    work_dir = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    tracer = Tracer(bool(args.trace))
    res = Result()
    try:
        session = env.Session(work_dir, f"perfbench-{args.workload}")
        try:
            if args.trace:
                layers.instrument(tracer)
            ctx = Context(args.seed, args.seconds, work_dir, session, tracer)
            workloads()[args.workload](ctx).run(res)
            rss_mb = session.peak_rss_mb()
        finally:
            session.close()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        if not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    check_digests(args.workload, args.seed, res)

    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        tracer.write(os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))
        got = per_layer(tracer, session.start_s, res, rss_mb)
        specs = bench["per_layer"]
    else:
        got = end_to_end(res, session.start_s)
        specs = bench["end_to_end"]
    # a run that failed early lacks samples; its (incorrect) result still
    # prints, with 0 where a value is missing
    metrics = {}
    for m in specs:
        v = got.get(m["name"], {}).get("value", float("nan"))
        metrics[m["name"]] = {"value": v if math.isfinite(v) else 0.0, "unit": m["unit"]}
    report = {
        "workload": args.workload,
        "machine": env.machine_info(args.seed),
        "seconds": args.seconds,
        "trace": args.trace,
        "samples": len(res.ops),
        "setup_reps_s": res.setup,
        "session_start_s": session.start_s,
        "peak_rss_mb": rss_mb,
        "metrics": {**res.metrics, "failed_frac": {
            "value": res.failed / max(1, res.attempted), "unit": "ratio"}},
        "digests": res.digests,
        "errors": res.errors[:20],
    }
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
