"""Process-level plumbing shared by the workloads: the pinned Spark
session, the scratch directory, batch clocks and small statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Pinned so a run's figures do not depend on the caller's environment:
# the session default (16g) does not fit next to the Python driver on a
# 15 GiB box, and every Spark allocation in these workloads is far below 3g.
DRIVER_MEM = "3g"


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc), so
    ``setup_s`` covers interpreter start and imports; falls back to the
    first call when /proc is unavailable."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration, IndexError):
        return time.time()


T_PROC = process_start_time()


def log(msg: str) -> None:
    """A progress line on standard error, stamped with seconds since the
    process started."""
    import sys

    print(f"[perfbench] +{time.time() - T_PROC:6.1f}s {msg}", file=sys.stderr, flush=True)


def n_cores() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


class Work:
    """The run's scratch directory under ``perfbench/.work``; everything
    the run writes (tables, logs, Spark temp files, event logs) lives
    here and is removed when the run ends."""

    def __init__(self, workload: str):
        self.root = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def start_spark(work: Work, event_log: bool):
    """One ``local[nproc]`` session with the steadiness settings the
    README lists: console progress bar off, shuffle partitions fixed to
    the core count, driver memory pinned, every temp file inside the
    run's scratch directory. ``event_log`` turns on Spark's event log
    (traced runs only)."""
    os.environ["ESTUARY_DRIVER_MEM"] = DRIVER_MEM
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so set both
    os.environ["SPARK_LOCAL_DIRS"] = work.path("spark-local")
    os.environ["TMPDIR"] = work.tmp
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; turn it off in the launcher JVM and the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = work.tmp
    cores = n_cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work.path("spark-local"),
        "spark.sql.warehouse.dir": work.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work.tmp} -Dderby.system.home={work.tmp}",
    }
    if event_log:
        os.makedirs(work.path("eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + work.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from estuary_spark.session import get_spark

    return get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


class Patches:
    """Module/class attribute replacements that are undone in reverse
    order. The program's own source is never edited: the benchmark
    observes it by wrapping the public names its modules call through."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def undo(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


class BatchClock:
    """Start and end wall-clock stamps of each batch of a sync call.

    A batch starts at the wrapped ``start`` call and ends at the last
    wrapped ``end`` call before the next start, or at ``close()`` — so a
    batch's wall covers apply, commit, lineage append and any compaction
    it triggers. ``commit`` stamps the moment the batch's snapshot was
    published (the return of the call that commits)."""

    def __init__(self):
        self.starts: list[float] = []
        self.ends: list[float] = []
        self.commits: list[float] = []
        self._lock = threading.Lock()

    def on_start(self) -> None:
        with self._lock:
            now = time.time()
            if self.starts and len(self.ends) < len(self.starts):
                self.ends.append(now)
            self.starts.append(now)

    def on_end(self) -> None:
        with self._lock:
            now = time.time()
            if len(self.ends) == len(self.starts) and self.ends:
                self.ends[-1] = now
            elif len(self.ends) < len(self.starts):
                self.ends.append(now)

    def on_commit(self) -> None:
        with self._lock:
            self.commits.append(time.time())

    def close(self) -> None:
        with self._lock:
            if len(self.ends) < len(self.starts):
                self.ends.append(time.time())

    def windows(self) -> list[tuple[float, float]]:
        return list(zip(self.starts, self.ends))

    def walls_ms(self) -> list[float]:
        return [(e - s) * 1000.0 for s, e in self.windows()]


def stamp_calls(start=None, end=None, commit=None):
    """A wrapper factory for ``Patches.wrap`` that stamps a BatchClock
    around each call."""

    def make(orig):
        def wrapper(*a, **k):
            if start:
                start()
            out = orig(*a, **k)
            if commit:
                commit()
            if end:
                end()
            return out

        wrapper.__wrapped__ = orig
        return wrapper

    return make


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quartiles(xs) -> tuple[float, float, float]:
    xs = list(xs)
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def live_bytes(table) -> int:
    """Bytes of the data files the table's current snapshot references."""
    m = table.manifest()
    return sum(
        os.path.getsize(os.path.join(table.root, f))
        for kind in ("files", "delta_files")
        for fl in m.get(kind, {}).values()
        for f in fl
    )


def timed_noop(df) -> float:
    """Seconds to materialize every row and column of ``df`` (Spark's
    no-op sink: a full read with no output cost)."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t
