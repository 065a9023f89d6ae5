"""Traced-run instrumentation: spans around the public calls into each
module of the engine, call counts at the ``FileIO`` seam, and Spark job,
stage and task figures from the event log.

Everything is observed from outside: wrappers are installed on the
module attributes the engine calls through and removed afterwards; the
engine's source is not changed. Spans are held in memory and written out
when the run ends. A layer's self time is its spans' duration minus the
part covered by their child spans.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict

from perfbench.common import Patches, median

MB = 1024.0 * 1024.0

# the program names each layer is observed through: (module, attribute,
# span name). A function imported by name into several modules is
# wrapped in each of them, because the callers look it up there.
SPANNED = [
    ("estuary_spark.runner", "plan_batches", "runner.plan"),
    ("estuary_spark.multi", "plan_batches", "runner.plan"),
    ("estuary_spark.runner", "apply_batch", "apply.batch"),
    ("estuary_spark.streaming.runner", "apply_batch", "apply.batch"),
    ("estuary_spark.multi", "apply_batch", "apply.batch"),
    ("estuary_spark.runner", "append_lineage", "lineage.append"),
    ("estuary_spark.streaming.runner", "append_lineage", "lineage.append"),
    ("estuary_spark.multi", "append_lineage", "lineage.append"),
    ("estuary_spark.maintenance", "compact", "maintenance.compact"),
    ("estuary_spark.multi", "_apply_table_ops", "multi.table_ops"),
    ("estuary_spark.multi", "_apply_fanout", "multi.fanout"),
]
TABLE_METHODS = [
    "commit",
    "commit_delta",
    "commit_metadata",
    "evolve_schema",
    "manifest",
    "read",
    "read_unfolded",
    "read_changes",
]
FILEIO_METHODS = ["list_dir", "read_text", "publish_text", "walk_files", "exists", "makedirs", "delete", "mtime"]
LAYERS = ["runner", "apply", "tables", "maintenance", "lineage", "multi"]
# spans whose calls run work on pool threads: a span that opens on a
# thread with nothing open there is the child of the open ambient span
AMBIENT = {"multi.fanout"}
APPLY_PHASES = [
    "offset-range",
    "lww+touched",
    "merge-plan",
    "lineage-agg",
    "commit",
    "mor-touched",
    "mor-lineage",
    "mor-commit",
]


def phase_metric(phase: str) -> str:
    return "apply.phase." + phase.replace("+", "_") + "_ms"


class Tracer:
    """Spans (id, name, start, end, parent, thread) and call counts."""

    def __init__(self):
        self.spans: list[tuple[int, str, float, float, int | None, int]] = []
        self.counts: Counter = Counter()
        self.results: dict[str, list] = defaultdict(list)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches = Patches()
        self._ambient: int | None = None

    # ---------------------------------------------------------- recording

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span_call(self, name: str, keep_result: bool = False):
        def make(orig):
            def wrapper(*a, **k):
                st = self._stack()
                parent = st[-1] if st else self._ambient
                sid = next(self._ids)
                st.append(sid)
                if name in AMBIENT:
                    self._ambient = sid
                t0 = time.time()
                try:
                    out = orig(*a, **k)
                finally:
                    t1 = time.time()
                    st.pop()
                    if name in AMBIENT:
                        self._ambient = None
                    self.spans.append((sid, name, t0, t1, parent, threading.get_ident()))
                if keep_result:
                    self.results[name].append((t0, t1, out))
                return out

            wrapper.__wrapped__ = orig
            return wrapper

        return make

    def count_call(self, key: str):
        def make(orig):
            def wrapper(*a, **k):
                with self._lock:
                    self.counts[key] += 1
                return orig(*a, **k)

            wrapper.__wrapped__ = orig
            return wrapper

        return make

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block: the benchmark's own call sites."""
        st = self._stack()
        parent = st[-1] if st else self._ambient
        sid = next(self._ids)
        st.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            st.pop()
            self.spans.append((sid, name, t0, time.time(), parent, threading.get_ident()))

    # ------------------------------------------------------- installation

    def install(self) -> None:
        import importlib

        from estuary_spark.fileio import LocalFileIO
        from estuary_spark.tables import LakeTable

        for mod, attr, name in SPANNED:
            keep = name in ("apply.batch", "maintenance.compact")
            self._patches.wrap(importlib.import_module(mod), attr, self.span_call(name, keep))
        for meth in TABLE_METHODS:
            self._patches.wrap(LakeTable, meth, self.span_call(f"tables.{meth}"))
        for meth in FILEIO_METHODS:
            self._patches.wrap(LocalFileIO, meth, self.count_call(f"fileio.{meth}"))

    def uninstall(self) -> None:
        self._patches.undo()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {"id": s, "name": n, "start": a, "end": b, "parent": p, "thread": t}
                        for s, n, a, b, p, t in self.spans
                    ],
                    "counts": dict(self.counts),
                },
                fh,
            )


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times_ms(spans, lo: float, hi: float) -> dict[str, float]:
    """Per-layer self time (ms) of the spans inside [lo, hi]."""
    children = defaultdict(list)
    for s in spans:
        if s[4] is not None:
            children[s[4]].append(s)
    out: dict[str, float] = defaultdict(float)
    for sid, name, t0, t1, _p, _t in spans:
        if t0 < lo or t1 > hi:
            continue
        covered = _union_len([(max(c[2], t0), min(c[3], t1)) for c in children[sid] if c[3] > t0 and c[2] < t1])
        out[name.split(".")[0]] += max(0.0, (t1 - t0) - covered) * 1000.0
    return out


# ------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the Spark event log written in ``log_dir``."""
    jobs, tasks = [], []
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "submit": ev["Submission Time"] / 1000.0})
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0)),
                            "launch": info.get("Launch Time", 0) / 1000.0,
                            "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                            "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs, tasks


def spark_metrics(jobs, tasks, windows) -> dict[str, float]:
    """Per-batch Spark figures, attributing jobs by submission time and
    tasks by launch time to the batch windows."""
    per_batch = []
    for s, e in windows:
        bj = [j for j in jobs if s <= j["submit"] < e]
        bt = [t for t in tasks if s <= t["launch"] < e]
        by_stage = defaultdict(list)
        for t in bt:
            by_stage[t["stage"]].append(t["dur_ms"])
        multi = [d for d in by_stage.values() if len(d) >= 2]
        skew = 1.0
        if multi:
            heaviest = max(multi, key=sum)
            skew = max(heaviest) / max(1.0, median(heaviest))
        per_batch.append(
            {
                "jobs": len(bj),
                "tasks": len(bt),
                "shuffle_mb": sum(t["shuffle_write"] for t in bt) / MB,
                "cpu_ms": sum(t["cpu_ms"] for t in bt),
                "spill_mb": sum(t["spill"] for t in bt) / MB,
                "skew": skew,
            }
        )
    n = max(1, len(per_batch))
    return {
        "spark.jobs_per_batch": sum(b["jobs"] for b in per_batch) / n,
        "spark.tasks_per_batch": sum(b["tasks"] for b in per_batch) / n,
        "spark.shuffle_write_mb_per_batch": sum(b["shuffle_mb"] for b in per_batch) / n,
        "spark.executor_cpu_ms_per_batch": sum(b["cpu_ms"] for b in per_batch) / n,
        "spark.spill_mb": sum(b["spill_mb"] for b in per_batch),
        "spark.task_skew": median(b["skew"] for b in per_batch),
    }


# --------------------------------------------------------- layer metrics


def layer_metrics(tracer: Tracer, pass_window, windows, read_window, counts_at_pass_end, n_rounds) -> dict[str, float]:
    """Per-layer figures of one traced measured pass (``pass_window``,
    split into batch ``windows``) and of the read phase after it."""
    lo, hi = pass_window
    spans = tracer.spans
    in_pass = [s for s in spans if lo <= s[2] and s[3] <= hi]
    in_reads = [s for s in spans if read_window[0] <= s[2] and s[3] <= read_window[1]]
    n = max(1, len(windows))

    def durs(name, pool=in_pass):
        return [(s[3] - s[2]) * 1000.0 for s in pool if s[1] == name]

    out: dict[str, float] = {
        "runner.plan_ms": median(durs("runner.plan")),
        "apply.batch_ms": median(durs("apply.batch")),
    }
    results = [r for (t0, t1, r) in tracer.results["apply.batch"] if lo <= t0 and t1 <= hi]
    for ph in APPLY_PHASES:
        out[phase_metric(ph)] = median(r.phases_ms[ph] for r in results if ph in r.phases_ms)
    for meth in ("list_dir", "read_text", "publish_text", "walk_files"):
        key = "publish" if meth == "publish_text" else meth
        out[f"fileio.{key}_per_batch"] = counts_at_pass_end.get(f"fileio.{meth}", 0) / n
    out["tables.commit_ms"] = median(durs("tables.commit"))
    out["tables.commit_delta_ms"] = median(durs("tables.commit_delta"))
    out["tables.manifest_calls_per_batch"] = len(durs("tables.manifest")) / n
    out["tables.read_ms"] = median(durs("tables.read", in_reads))
    out["tables.read_changes_ms"] = median(durs("tables.read_changes", in_reads))
    compacts = [(t0, t1, r) for (t0, t1, r) in tracer.results["maintenance.compact"] if lo <= t0 and t1 <= hi]
    out["maintenance.compact_ms"] = median((t1 - t0) * 1000.0 for t0, t1, _ in compacts)
    out["maintenance.compactions"] = sum(1 for *_, r in compacts if r) / max(1, n_rounds)
    out["lineage.append_ms"] = median(durs("lineage.append"))
    fan = [s for s in in_pass if s[1] == "multi.fanout"]
    out["multi.fanout_ms"] = median((s[3] - s[2]) * 1000.0 for s in fan)
    eff = []
    for f in fan:
        kids = [s for s in in_pass if s[4] == f[0] and s[1] == "apply.batch"]
        if kids:
            eff.append(sum(k[3] - k[2] for k in kids) / max(1e-9, f[3] - f[2]))
    out["multi.fanout_efficiency"] = median(eff)
    selfs = self_times_ms(in_pass, lo, hi)
    for layer in LAYERS:
        out[f"self.{layer}_ms"] = selfs.get(layer, 0.0) / n
    return out
