"""Spans, job-group stage metrics, stream progress, and CPU time and
resident memory of the driver's process tree, for the benchmark.

Spans are recorded by the benchmark around its own calls into the
engine's modules; nothing inside the package is instrumented. With
tracing off, :meth:`Tracer.span` only runs the body, so the untraced run
sets no job groups and reads no status store.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict

from pyspark.sql.streaming import StreamingQueryListener

from measure import Span

# StageData accessors read per stage, with the unit each one reports in.
_STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "jvm_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "tasks": ("numCompleteTasks", 1),
}


def group_metrics(spark, group: str) -> dict[str, float]:
    """Jobs, executed stages and summed stage metrics of one job group,
    read from Spark's status store after the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(_STAGE_FIELDS, 0.0)
    jobs = tracker.getJobIdsForGroup(group)
    out["jobs"] = len(jobs)
    out["stages"] = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else ():
            data = store.lastStageAttempt(sid)
            if data.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            for key, (attr, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(data, attr)() * scale
    return out


class Tracer:
    """Spans kept in memory and written once, plus per-span stage metrics
    for spans that own a job group."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stage: dict[int, dict[str, float]] = {}
        self.cost_s = 0.0  # time spent reading the status store
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int, job_group: bool = False):
        """Record a span around the body; yields its id (None when
        tracing is off)."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, op, sid)
        self.spans.append(s)
        self._stack.append(sid)
        group = f"perfbench-{op}-{sid}"
        sc = self.spark.sparkContext
        if job_group:
            sc.setJobGroup(group, name, False)
        try:
            yield sid
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if job_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self.stage[sid] = group_metrics(self.spark, group)
                self.cost_s += time.perf_counter() - s.end

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), **{"stage": self.stage.get(s.sid)})
                 for s in self.spans],
                fh,
            )


class StreamProgress(StreamingQueryListener):
    """Every progress record of every streaming query, as plain dicts,
    taken from Spark's listener bus rather than from the sink code."""

    def __init__(self, spark):
        self.spark = spark
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        """The records posted so far (after the bus has delivered them),
        and a fresh list for the next ones."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.progress = self.progress, []
        return out


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[int]:
    """``root`` and every live process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system) used so far by ``root`` and the
    processes below it, counting children they have already reaped: the
    Python workers that Spark's worker daemon forks and waits for."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in f[11:15])  # utime stime cu cs
        except (OSError, IndexError, ValueError):
            continue
    return ticks / _TICK


class RssSampler:
    """Peak resident memory of the driver JVM and the Python workers it
    forks (every process below it), sampled from /proc on a daemon
    thread. The thread's own CPU time is kept, so a caller timing the
    process's CPU can leave it out."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self.root = root_pid
        self.interval = interval_s
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            t = time.thread_time()
            self._sample()
            self.cpu_s += time.thread_time() - t
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
