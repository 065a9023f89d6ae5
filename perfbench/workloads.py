"""The two workloads. Each one generates its inputs from the seed with
``estuary_spark.generator``, warms the JVM up by driving the same entry
point into a throwaway table, runs a measured pass, reads the result
back, and checks it against the DuckDB oracle and the method's
properties.

A measured pass is made of whole rounds of the same operations; a new
round starts only while it is expected to end within the run length, and
there is always at least one.
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import shutil
import threading
import time

import pyarrow.parquet as pq

from perfbench import oracle
from perfbench.common import (
    BatchClock,
    Patches,
    dir_bytes,
    live_bytes,
    log,
    median,
    stamp_calls,
    timed_noop,
)

MB = 1024.0 * 1024.0
READS = 5  # timed full reads per read metric, after one untimed; the median is reported


def log_files(log_dir: str) -> list[str]:
    """The parquet files of a generated log, in LSN order (the generator
    range-partitions by LSN, so part order is LSN order)."""
    return sorted(glob.glob(os.path.join(log_dir, "**", "part-*.parquet"), recursive=True))


def n_rows(files: list[str]) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def lsn_span(path: str) -> tuple[int, int]:
    """(min, max) LSN of one parquet file, from its footer statistics."""
    md = pq.ParquetFile(path).metadata
    col = md.schema.names.index("lsn")
    stats = [md.row_group(i).column(col).statistics for i in range(md.num_row_groups)]
    return min(int(s.min) for s in stats), max(int(s.max) for s in stats)


class Pass:
    """What one measured pass produced."""

    def __init__(self):
        self.clock = BatchClock()
        self.begin = self.end = 0.0
        self.rounds: list[dict] = []
        self.freshness_ms: list[float] = []
        self.walls_ms: list[float] = []
        self.rates: list[float] = []
        self.extra: dict[str, float] = {}
        self.extra_results: list = []


class Workload:
    name = ""

    def __init__(self, spark, work, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.problems: list[str] = []
        self._patches = Patches()
        self.current: Pass | None = None

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(f"{self.name}: {what}")

    def close(self) -> None:
        self._patches.undo()

    def rounds(self, seconds: float, tag: str, one_round) -> Pass:
        """Run ``one_round(pass, tag)`` until the next round would end
        after ``seconds``; at least one round."""
        p = Pass()
        self.current = p
        p.begin = time.time()
        while True:
            t0 = time.time()
            p.rounds.append(one_round(p, f"{tag}{len(p.rounds)}"))
            took = time.time() - t0
            if time.time() - p.begin + took > seconds:
                break
        p.end = time.time()
        p.walls_ms = p.clock.walls_ms()
        self.attempted += len(p.walls_ms)
        return p

    def warm_reads(self, cfg) -> None:
        """One untimed pass of both reads over the warm-up table, so the
        timed reads find the read path's code compiled."""
        for make_df in self.read_fns(cfg):
            timed_noop(make_df())

    def timed_reads(self, make_df) -> float:
        """Median seconds of READS full materializations of ``make_df()``,
        after one untimed read that loads the new table's metadata."""
        timed_noop(make_df())
        self.attempted += 1
        walls = []
        for _ in range(READS):
            with self.span("bench.read"):
                walls.append(timed_noop(make_df()))
            self.attempted += 1
        return median(walls)


# --------------------------------------------------------------- catch-up


def link_segment(files: list[str], seg_dir: str) -> None:
    """Land a log segment: hard-link its files into a hidden directory,
    then rename the directory into place (the source ignores dot names)."""
    landing = os.path.join(os.path.dirname(seg_dir), "." + os.path.basename(seg_dir))
    os.makedirs(landing)
    for f in files:
        os.link(f, os.path.join(landing, os.path.basename(f)))
    os.rename(landing, seg_dir)


class CatchupEvolveMor(Workload):
    """A backlog drained through ``run_sync`` in MoR with compaction. The
    log arrives as two segments; the second one, with two added columns,
    lands after the first is applied, and a second ``run_sync`` call
    resumes from the checkpoint and evolves the table's schema."""

    name = "catchup_evolve_mor"
    N_CONVS = 3000  # ~68k events: ~41k in the first segment, ~27k in the second
    # 3 + 2 batches, far enough from a rounding edge that every seed plans
    # the same count, so compaction fires at the same batch in every run
    EVENTS_PER_BATCH = 16_000
    # the runner's own compaction policy, with a threshold that fires once
    # per drain, at the end of the first segment (the default, 16 deltas
    # per bucket, needs 16 batches); the reads then fold a 2-deep chain
    COMPACT_EVERY = 3
    # warm-up: the same entry point over the log's head; JVM and Catalyst
    # warm-up grows with batches planned, not with rows
    WARM_BATCHES = 2
    WARM_EVENTS_PER_BATCH = 4000

    def cfg(self, tag: str):
        from estuary_spark.config import SyncConfig

        return SyncConfig(
            source_log_dir=self.work.path(tag, "log"),
            target_table_dir=self.work.path(tag, "table"),
            lineage_dir=self.work.path(tag, "lineage"),
            checkpoint_path=self.work.path(tag, "checkpoint.json"),
            write_mode="mor",
            compact_every=self.COMPACT_EVERY,
        )

    def prepare(self, seconds: float) -> None:
        import estuary_spark.runner as R
        from estuary_spark import generator as G

        spec = G.LogSpec(n_convs=self.N_CONVS, seed=self.seed)
        info = G.write_log(self.spark, spec, self.work.path("gen"), evolve=True, n_files=8)
        self.segments = [log_files(d) for d in info["phase_dirs"]]
        self.files = self.segments[0] + self.segments[1]
        self.n_events = n_rows(self.files)
        self.lsn_max = max(lsn_span(f)[1] for f in self.segments[1])
        log(f"log written: {self.n_events} events")
        cfg = self.cfg("warm")
        os.makedirs(cfg.source_log_dir)
        link_segment(self.segments[0], os.path.join(cfg.source_log_dir, "phase1"))
        R.run_sync(self.spark, cfg, events_per_batch=self.WARM_EVENTS_PER_BATCH, max_batches=self.WARM_BATCHES)
        self.warm_reads(cfg)
        self._patches.wrap(
            R, "apply_batch", stamp_calls(start=lambda: self.current.clock.on_start(), commit=lambda: self.current.clock.on_commit())
        )

    def _round(self, p: Pass, tag: str) -> dict:
        import estuary_spark.runner as R

        cfg = self.cfg(tag)
        os.makedirs(cfg.source_log_dir)
        wall = 0.0
        for k, seg in enumerate(self.segments):
            link_segment(seg, os.path.join(cfg.source_log_dir, f"phase{k + 1}"))
            first = len(p.clock.commits)
            t0 = time.time()
            with self.span("runner.run_sync"):
                R.run_sync(self.spark, cfg, events_per_batch=self.EVENTS_PER_BATCH)
            t1 = time.time()
            p.clock.close()
            wall += t1 - t0
            # a segment's events are all present when its call starts
            p.freshness_ms += [(c - t0) * 1000.0 for c in p.clock.commits[first:]]
        p.rates.append(self.n_events / wall)
        return {"cfg": cfg}

    def measure(self, seconds: float, tag: str) -> Pass:
        return self.rounds(seconds, tag, self._round)

    def read_fns(self, cfg):
        """(snapshot read, change-feed read over the applied range)."""
        from estuary_spark.runner import read_final_state
        from estuary_spark.tables import LakeTable

        table = LakeTable(cfg.target_table_dir)
        lo, hi = table.applied_ranges()[0]
        return (lambda: read_final_state(self.spark, cfg)), (lambda: table.read_changes(self.spark, lo, hi))

    def reads(self, p: Pass) -> dict:
        from estuary_spark.tables import LakeTable

        cfg = p.rounds[-1]["cfg"]
        table = LakeTable(cfg.target_table_dir)
        snap, feed = self.read_fns(cfg)
        return {
            "read_s": self.timed_reads(snap),
            "feed_read_s": self.timed_reads(feed),
            "written_mb": dir_bytes(cfg.target_table_dir) / MB,
            "live_mb": live_bytes(table) / MB,
        }

    def verify(self, p: Pass, con) -> None:
        import estuary_spark.runner as R
        from estuary_spark.tables import LakeTable

        cfg = p.rounds[-1]["cfg"]
        table = LakeTable(cfg.target_table_dir)
        got = R.read_final_state(self.spark, cfg).toArrow()
        self.attempted += 1
        oracle.build_oracle(con, self.files)
        self.problems += oracle.compare(con, "oracle", got, self.name)
        # the plan starts at LSN 0 (no checkpoint, empty table) and must
        # end exactly at the log's last LSN, with no gap between segments
        ranges = table.applied_ranges()
        self.check(ranges == [[0, self.lsn_max]], f"applied ranges {ranges} != [[0, {self.lsn_max}]]")
        self.check({"tool_args", "latency_ms"} <= set(table.schema.names), "the added columns are missing from the schema")
        # a re-run over the applied table runs no batch and commits nothing
        v0 = table.current_version()
        again = R.run_sync(self.spark, cfg, events_per_batch=self.EVENTS_PER_BATCH)
        self.attempted += 1
        self.check(again.batches_run == 0 and again.batches_skipped == 0, f"re-run ran {again.batches_run} batches")
        self.check(table.current_version() == v0, "re-run published a new snapshot")

    def table_roots(self, p: Pass) -> list[str]:
        return [p.rounds[-1]["cfg"].target_table_dir]


# ---------------------------------------------------------- tail stream


class TailFanoutCow(Workload):
    """An open-loop feed of small files tailed by
    ``run_sync_streaming_multi`` (default trigger, one file per trigger,
    COW), each file's events routed to two destination tables."""

    name = "tail_fanout_cow"
    EVENTS_PER_FILE = 2000
    INTERVAL_S = 4.5  # feed schedule; below the measured per-file capacity
    EXCLUDED = 1  # first file of a session: query start-up, not in freshness
    WARM_FILES = 2  # throwaway available-now session before the measured one
    EVENTS_PER_CONV = 22.3  # generator average at its default knobs
    TABLE_COL = "role"  # user / assistant / system / tool
    TABLES = "user|tool"  # the whitelist routes two of the four

    def n_measured(self, seconds: float) -> int:
        return max(3, int(seconds / self.INTERVAL_S))

    def cfg(self, tag: str):
        from estuary_spark.config import SyncConfig

        return SyncConfig(
            source_log_dir=self.work.path(tag, "log"),
            target_table_dir=self.work.path(tag, "tables"),
            lineage_dir=self.work.path(tag, "lineage"),
            table_col=self.TABLE_COL,
            table_filter=self.TABLES,
        )

    def prepare(self, seconds: float) -> None:
        import estuary_spark.multi as M
        from estuary_spark import generator as G

        n_files = self.EXCLUDED + self.n_measured(seconds)
        n_convs = math.ceil(n_files * self.EVENTS_PER_FILE / self.EVENTS_PER_CONV)
        staged = self.work.path("staged")
        G.write_log(self.spark, G.LogSpec(n_convs=n_convs, seed=self.seed), staged, n_files=n_files)
        self.files = log_files(staged)
        self.spans = [lsn_span(f) for f in self.files]
        self.events = [n_rows([f]) for f in self.files]
        log(f"log written: {len(self.files)} files of {self.events} events")
        # warm-up: the same entry point drains the first files into
        # throwaway tables, one file per trigger
        cfg = self.cfg("warm")
        os.makedirs(cfg.source_log_dir)
        for i in range(min(self.WARM_FILES, len(self.files))):
            self._land(i, cfg.source_log_dir)
        M.run_sync_streaming_multi(self.spark, cfg, self.work.path("warm", "ckpt"), max_files_per_trigger=1)
        self.warm_reads(cfg)
        self._patches.wrap(M, "_apply_table_ops", stamp_calls(start=lambda: self.current.clock.on_start()))
        self._patches.wrap(M, "_apply_fanout", self._observe_fanout)

    def _observe_fanout(self, orig):
        def wrapper(*a, **k):
            out = orig(*a, **k)
            self.current.clock.on_commit()
            self.current.clock.on_end()
            self.current.extra_results.append(out)
            return out

        wrapper.__wrapped__ = orig
        return wrapper

    def _land(self, i: int, dest: str) -> None:
        """Copy staged file ``i`` in under a hidden name, then rename it
        into place (the rename is the landing)."""
        tmp = os.path.join(dest, f".landing-{i:04d}")
        shutil.copyfile(self.files[i], tmp)
        os.rename(tmp, os.path.join(dest, f"f{i:04d}.parquet"))

    def measure(self, seconds: float, tag: str) -> Pass:
        import estuary_spark.multi as M

        p = Pass()
        self.current = p
        cfg = self.cfg(tag)
        os.makedirs(cfg.source_log_dir)
        n = len(self.files)
        landed = [0.0] * n
        due = [0.0] * n
        stop = threading.Event()
        failure: list[BaseException] = []

        def feeder(t_start: float) -> None:
            for i in range(1, n):
                due[i] = t_start + i * self.INTERVAL_S
                if stop.wait(max(0.0, due[i] - time.time())):
                    return
                self._land(i, cfg.source_log_dir)
                landed[i] = time.time()

        def stream() -> None:
            try:
                M.run_sync_streaming_multi(self.spark, cfg, self.work.path(tag, "ckpt"), max_files_per_trigger=1, available_now=False)
            except BaseException as e:  # re-raised in the measuring thread
                failure.append(e)

        p.begin = due[0] = time.time()
        self._land(0, cfg.source_log_dir)
        landed[0] = time.time()
        runner = threading.Thread(target=stream, name="perfbench-stream")
        feed = threading.Thread(target=feeder, args=(p.begin,), name="perfbench-feeder")
        runner.start()
        feed.start()
        deadline = p.begin + n * self.INTERVAL_S + 90
        try:
            while len(p.clock.commits) < n and not failure and time.time() < deadline:
                time.sleep(0.05)
        finally:
            stop.set()
            feed.join(timeout=30)
            for q in self.spark.streams.active:
                q.stop()
            runner.join(timeout=60)
        p.end = time.time()
        if failure:
            raise failure[0]
        if len(p.clock.commits) < n or runner.is_alive() or feed.is_alive():
            raise RuntimeError(f"{self.name}: {len(p.clock.commits)} of {n} files committed before the deadline")
        commits = p.clock.commits
        starts = p.clock.starts
        measured = range(self.EXCLUDED, n)
        walls = p.clock.walls_ms()
        p.walls_ms = [walls[i] for i in measured]
        p.freshness_ms = [(commits[i] - due[i]) * 1000.0 for i in measured]
        p.rates = [sum(self.events[i] for i in measured) / (sum(p.walls_ms) / 1000.0)]
        backlog = max(sum(1 for t in landed if 0 < t <= starts[i]) - i for i in range(n))
        p.extra = {
            "streaming.pickup_ms": median((starts[i] - landed[i]) * 1000.0 for i in measured),
            "streaming.backlog_files": float(backlog),
            "streaming.feeder_late_ms": max((landed[i] - due[i]) * 1000.0 for i in range(1, n)),
        }
        p.rounds.append({"cfg": cfg, "results": p.extra_results})
        self.attempted += len(p.walls_ms)
        return p

    def read_fns(self, cfg):
        """(snapshot read, change-feed read over the fed LSN span)."""
        from estuary_spark.multi import read_changes_multi, read_final_state_multi

        lo, hi = self.spans[0][0], self.spans[-1][1]
        return (lambda: read_final_state_multi(self.spark, cfg)), (lambda: read_changes_multi(self.spark, cfg, lo, hi))

    def reads(self, p: Pass) -> dict:
        cfg = p.rounds[-1]["cfg"]
        snap, feed = self.read_fns(cfg)
        return {
            "read_s": self.timed_reads(snap),
            "feed_read_s": self.timed_reads(feed),
            "written_mb": dir_bytes(cfg.target_table_dir) / MB,
            "live_mb": sum(live_bytes(t) for t in self._tables(cfg).values()) / MB,
        }

    def _tables(self, cfg):
        from estuary_spark.tables import LakeTable

        root = cfg.target_table_dir
        return {d: LakeTable(os.path.join(root, d)) for d in sorted(os.listdir(root))}

    def verify(self, p: Pass, con) -> None:
        from estuary_spark.multi import read_final_state_multi

        cfg = p.rounds[-1]["cfg"]
        results = p.rounds[-1]["results"]
        self.check(sorted(self._tables(cfg)) == ["tool", "user"], f"destination tables {sorted(self._tables(cfg))}")
        # one batch per fed file, in landing order, every table's share of
        # it committed inside the file's LSN span
        self.check(len(results) == len(self.files), f"{len(results)} batches for {len(self.files)} files")
        for i, (span, fan) in enumerate(zip(self.spans, results)):
            ok = len(fan) == 2 and all(
                not res.skipped and span[0] <= res.offset_range[0] and res.offset_range[1] <= span[1] for _d, _c, res in fan
            )
            self.check(ok, f"file {i} {span}: batch {[(d, r.offset_range, r.skipped) for d, _c, r in fan]}")
            self.attempted += 1
        got = read_final_state_multi(self.spark, cfg).toArrow()
        self.attempted += 1
        oracle.build_oracle(con, self.files, table_col=self.TABLE_COL, table_filter=self.TABLES)
        self.problems += oracle.compare(con, "oracle", got, self.name)

    def table_roots(self, p: Pass) -> list[str]:
        return [t.root for t in self._tables(p.rounds[-1]["cfg"]).values()]


WORKLOADS = {w.name: w for w in (CatchupEvolveMor, TailFanoutCow)}
