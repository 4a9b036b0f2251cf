"""Instruments read from outside the engine: process-tree memory,
Spark's own status store, streaming listener progress, benchmark-side
spans and the host-health probe.

Nothing here reaches into the package; every number comes from the
OS, from Spark, or from timing the benchmark's own calls.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

# ------------------------------------------------------------------ memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # comm, in parentheses, may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # the process just exited
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _cpu_ticks(stat: str) -> tuple[str, int]:
    """(comm, utime + stime) from one /proc stat line."""
    comm = stat[stat.index("(") + 1 : stat.rindex(")")]
    fields = stat.rsplit(")", 1)[1].split()
    return comm, int(fields[11]) + int(fields[12])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it
    (driver JVM, Python workers), counting exited workers through their
    parent's reaped-children times, less the JVM's JIT compiler threads.

    Compiling is warm-up. How much of it lands inside a given op varies
    from process to process by seconds, while the op's own work varies
    by a few percent; the compile cost shows in ``setup_s`` instead.
    The JVM must run with ``-XX:-UseDynamicNumberOfCompilerThreads`` so
    that no compiler thread exits and drops out of the sum. Time the
    hypervisor steals is not charged.
    """
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            fields = stat.rsplit(")", 1)[1].split()
            # utime, stime, and cutime, cstime of children already reaped
            total += sum(int(x) for x in fields[11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError, ValueError):  # the process just exited
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    comm, ticks = _cpu_ticks(f.read())
            except (OSError, IndexError, ValueError):  # the thread just exited
                continue
            if "CompilerThre" in comm:  # "C1/C2 CompilerThread<n>", cut to 15
                total -= ticks
    return total / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root: int) -> float:
    return sum(_rss_kb(p) for p in [root, *descendants(root)]) / 1024.0


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (driver JVM, Python workers) every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


# ------------------------------------------------------------ spark counters


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


class SparkCounters:
    """Job and stage counters from Spark's status store (kept with the
    UI disabled). ``mark()`` returns the highest job and stage ids seen;
    ``since(mark)`` sums everything newer. Both are py4j round trips,
    so callers read them outside timed regions."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)

    def _jobs(self):
        return _seq(self._store.jobsList(None))

    def _stages(self):
        return _seq(self._store.stageList(None, False, False, self._no_quantiles, None))

    def mark(self) -> tuple[int, int]:
        jobs = [j.jobId() for j in self._jobs()]
        stages = [s.stageId() for s in self._stages()]
        return max(jobs, default=-1), max(stages, default=-1)

    def since(self, mark: tuple[int, int]) -> dict:
        job_mark, stage_mark = mark
        jobs = []
        for j in self._jobs():
            if j.jobId() > job_mark:
                sub = j.submissionTime()
                jobs.append(
                    {
                        "id": j.jobId(),
                        "group": j.jobGroup().get() if j.jobGroup().isDefined() else None,
                        "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    }
                )
        totals = dict.fromkeys(
            ("stages", "tasks", "cpu_s", "run_s", "input_mb",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0
        )
        mb = 1024.0 * 1024.0
        for s in self._stages():
            if s.stageId() <= stage_mark:
                continue
            totals["stages"] += 1
            totals["tasks"] += s.numTasks()
            totals["cpu_s"] += s.executorCpuTime() / 1e9
            totals["run_s"] += s.executorRunTime() / 1e3
            totals["input_mb"] += s.inputBytes() / mb
            totals["shuffle_read_mb"] += s.shuffleReadBytes() / mb
            totals["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            totals["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
        totals["jobs"] = len(jobs)
        totals["job_list"] = jobs
        return totals


# -------------------------------------------------------- streaming progress


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event as a
    plain dict and records which queries have terminated. Defined lazily
    so importing this module needs no Spark runtime."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self._lock = threading.Lock()
            self._progress: list[dict] = []
            self._started: set[str] = set()
            self._ended: set[str] = set()

        def onQueryStarted(self, event) -> None:  # noqa: N802 (listener API)
            with self._lock:
                self._started.add(str(event.id))

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            rec = {
                "id": str(p.id),
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [
                    {
                        "rows": s.numRowsTotal,
                        "bytes": s.memoryUsedBytes,
                        "commit_ms": s.commitTimeMs,
                    }
                    for s in p.stateOperators
                ],
            }
            with self._lock:
                self._progress.append(rec)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            with self._lock:
                self._ended.add(str(event.id))

        def drain(self, timeout: float = 5.0) -> list[dict]:
            """Progress since the last drain, after every query started
            since then has delivered its termination event (delivery is
            asynchronous and can trail the drive by a few ms)."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    if self._started <= self._ended:
                        break
                time.sleep(0.01)
            with self._lock:
                out, self._progress = self._progress, []
                self._started, self._ended = set(), set()
            return out

    return ProgressListener()


# ------------------------------------------------------------------- spans


class Tracer:
    """Benchmark-side spans around calls into the package's layers.

    Spans live in memory and are written once at the end. A disabled
    tracer records nothing, so untraced runs pay only a no-op context
    manager per call.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "wall_start": time.time(),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the time its direct
    children cover (children of one parent never overlap here — the
    benchmark has a single client thread)."""
    child_cover: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child_cover.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[str, int]:
    """Count Spark jobs per innermost span whose wall interval holds the
    job's submission time."""
    out: dict[str, int] = {}
    for j in jobs:
        t = j.get("submitted")
        best = None
        for s in spans:
            if t is not None and s["wall_start"] <= t <= s["wall_end"]:
                if best is None or s["wall_start"] >= best["wall_start"]:
                    best = s
        name = best["name"] if best else "(outside spans)"
        out[name] = out.get(name, 0) + 1
    return out


# ---------------------------------------------------------------- host probe


def host_probe(spark, lake: str) -> float:
    """Seconds for a fixed lineitem scan plus hash aggregate — the shape
    of ``bench.py``'s calibration probe. Recorded beside the metrics
    so runs that fell in a host stall can be told apart."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(lake, "lineitem.parquet"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    df = li.groupBy("l_returnflag").agg(F.sum(rev).alias("revenue"), F.count(F.lit(1)).alias("n"))
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from /proc/stat; the
    steal share over an interval shows how much of it the hypervisor
    gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def du(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(dirpath, n)).st_size
                files += 1
            except OSError:
                pass
    return files, size
