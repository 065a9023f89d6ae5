#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload catchup_evolve_mor --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that measures every layer (spans around the calls
into each module, FileIO call counts, the Spark event log) and reports
the tracing overhead. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value": v, "unit": u}}}

``--repeat N`` runs the workload N times in fresh processes, one seed
after another from ``--seed``, and prints each end-to-end metric's median,
quartiles and spread against its bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import T_PROC, Work, log, quartiles  # noqa: E402

# (unit) of every metric, end-to-end then per-layer
E2E_UNITS = {
    "setup_s": "s",
    "apply_events_per_s": "events/s",
    "batch_p50_ms": "ms",
    "freshness_p50_ms": "ms",
    "read_s": "s",
    "feed_read_s": "s",
    "written_mb": "MB",
    "live_mb": "MB",
}


def layer_units() -> dict[str, str]:
    from perfbench.tracing import APPLY_PHASES, LAYERS, phase_metric

    units = {"runner.plan_ms": "ms", "apply.batch_ms": "ms"}
    units.update({phase_metric(p): "ms" for p in APPLY_PHASES})
    units.update(
        {
            "spark.jobs_per_batch": "count",
            "spark.tasks_per_batch": "count",
            "spark.shuffle_write_mb_per_batch": "MB",
            "spark.executor_cpu_ms_per_batch": "ms",
            "spark.spill_mb": "MB",
            "spark.task_skew": "ratio",
            "fileio.list_dir_per_batch": "count",
            "fileio.read_text_per_batch": "count",
            "fileio.publish_per_batch": "count",
            "fileio.walk_files_per_batch": "count",
            "tables.commit_ms": "ms",
            "tables.commit_delta_ms": "ms",
            "tables.manifest_calls_per_batch": "count",
            "tables.read_ms": "ms",
            "tables.read_changes_ms": "ms",
            "tables.delta_depth_max": "count",
            "maintenance.compact_ms": "ms",
            "maintenance.compactions": "count",
            "lineage.append_ms": "ms",
            "multi.fanout_ms": "ms",
            "multi.fanout_efficiency": "ratio",
            "streaming.pickup_ms": "ms",
            "streaming.backlog_files": "count",
            "streaming.feeder_late_ms": "ms",
        }
    )
    units.update({f"self.{layer}_ms": "ms" for layer in LAYERS})
    units["trace.overhead_pct"] = "%"
    return units


def delta_depth_max(roots: list[str]) -> float:
    """Deepest per-bucket delta chain over every retained snapshot."""
    from estuary_spark.tables import LakeTable

    depth = 0
    for root in roots:
        t = LakeTable(root)
        for v in t.versions():
            d = t.manifest(v).get("delta_files", {})
            depth = max([depth] + [len(fl) for fl in d.values()])
    return float(depth)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import oracle
    from perfbench.common import median, start_spark, stop_spark
    from perfbench.workloads import WORKLOADS

    work = Work(workload)
    spark = None
    tracer = None
    try:
        spark = start_spark(work, event_log=trace)
        log("session started")
        if trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
        w = WORKLOADS[workload](spark, work, seed, tracer)
        try:
            w.prepare(seconds)
            setup_s = time.time() - T_PROC
            log("inputs generated and warm-up done")
            refs = []
            if tracer is not None:
                # untraced passes bracket the traced one, so JIT warm-up
                # that continues across passes does not read as overhead
                refs.append(w.measure(seconds, "ref-before"))
                log("untraced reference pass done")
                tracer.install()
            p = w.measure(seconds, "m")
            counts = dict(tracer.counts) if tracer else {}
            log("measured pass done")
            r0 = time.time()
            figures = w.reads(p)
            read_window = (r0, time.time())
            log("reads done")
            if tracer is not None:
                tracer.uninstall()
            con = oracle.connect(work.tmp)
            try:
                w.verify(p, con)
            finally:
                con.close()
            log("reads and checks done")
            if tracer is not None:
                refs.append(w.measure(seconds, "ref-after"))
            depth = delta_depth_max(w.table_roots(p)) if trace else 0.0
        finally:
            w.close()
        stop_spark(spark)
        spark = None

        if not trace:
            metrics = {
                "setup_s": setup_s,
                "apply_events_per_s": median(p.rates),
                "batch_p50_ms": median(p.walls_ms),
                "freshness_p50_ms": median(p.freshness_ms),
                **figures,
            }
            units = E2E_UNITS
            tail = _tail_note(p.freshness_ms)
            print(f"[perfbench] {workload}: {len(p.walls_ms)} batches, {len(p.rounds)} round(s); {tail}", file=sys.stderr)
            print(f"[perfbench] batch walls ms: {[round(x) for x in p.walls_ms]}", file=sys.stderr)
            print(f"[perfbench] freshness ms: {[round(x) for x in p.freshness_ms]}", file=sys.stderr)
        else:
            from perfbench import tracing

            jobs, tasks = tracing.read_event_log(work.path("eventlog"))
            windows = p.clock.windows()
            if hasattr(w, "EXCLUDED"):
                windows = windows[w.EXCLUDED:]
            metrics = {k: 0.0 for k in layer_units()}
            metrics.update(tracing.layer_metrics(tracer, (p.begin, p.end), windows, read_window, counts, len(p.rounds)))
            metrics.update(tracing.spark_metrics(jobs, tasks, windows))
            metrics.update(p.extra)
            metrics["tables.delta_depth_max"] = depth
            traced = median(p.walls_ms)
            untraced = sum(median(r.walls_ms) for r in refs) / len(refs)
            metrics["trace.overhead_pct"] = 100.0 * (traced - untraced) / untraced
            units = layer_units()
            out = os.path.join(HERE, ".traces", f"{workload}-seed{seed}.json")
            tracer.dump(out)
            print(
                f"[perfbench] traced batch p50 {traced:.0f} ms vs untraced {untraced:.0f} ms "
                f"(mean of the passes before and after it in the same process) "
                f"(overhead {metrics['trace.overhead_pct']:+.1f}%); spans written to {os.path.relpath(out, ROOT)}",
                file=sys.stderr,
            )
            for layer in tracing.LAYERS:
                print(f"[perfbench]   self time {layer:<12} {metrics[f'self.{layer}_ms']:9.1f} ms/batch", file=sys.stderr)
        for prob in w.problems:
            print(f"[perfbench] CHECK FAILED: {prob}", file=sys.stderr)
        return {
            "correct": not w.problems,
            "attempted": int(w.attempted),
            "failed": 0,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        work.remove()


def _tail_note(samples: list[float]) -> str:
    """The highest freshness percentile the sample supports: one with at
    least ten samples beyond it, and none below forty samples."""
    n = len(samples)
    if n < 40:
        return f"freshness: {n} samples, median only"
    for pct in (99.9, 99, 95, 90):
        if n * (100 - pct) / 100 >= 10:
            q = statistics.quantiles(samples, n=1000)[int(pct * 10) - 1]
            return f"freshness p{pct:g} {q:.0f} ms over {n} samples"
    return f"freshness: {n} samples"


def repeat(args) -> int:
    """Run the workload ``args.repeat`` times and report each metric's
    spread (interquartile range over median) against its bound."""
    bench = {}
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        with open(path) as fh:
            bench = json.load(fh)
    kind = "per_layer" if args.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in bench.get(kind, [])}
    values: dict[str, list[float]] = {}
    failed = attempted = 0
    for i in range(args.repeat):
        seed = args.seed + i
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}, no result", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} ({time.time() - t0:.0f}s)", flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"{'metric':<36} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, q2, q3 = quartiles(vs)
        spread = (q3 - q1) / q2 if q2 else 0.0
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else ("within bound" if spread <= b else "TOO WIDE"))
        print(f"{k:<36} {q2:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {b if b is not None else '':>6} {flag}")
    print(f"failed share: {failed}/{attempted}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["catchup_evolve_mor", "tail_fanout_cow"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0, help="run N times in fresh processes and report spreads")
    args = ap.parse_args(argv)
    if args.repeat:
        return repeat(args)
    try:
        import estuary_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the estuary_spark package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
