"""Interleaved in-process A/B timing with value-hash equality.

``interleave({"parent": f, "change": g}, pairs=6)`` calls every arm once
untimed, then runs ``pairs`` rounds of one call per arm, the order
reversed every other round. An arm is a zero-argument callable returning
rows or a DataFrame (collected inside the timed call), or None (say,
after ``noop(df)``: timed, not hashed). Per arm: wall seconds per round,
median, IQR, rounds won, and the sha256 of its sorted rows. Scripts under
tools/ import it as ``from ab import interleave``; trust a median only
when ``hashes_equal`` holds.

A JVM flag cannot be compared in one process: run one process per arm
and split each arm's CPU by thread with ``thread_cpu``, or from a shell
while the arm runs::

    python tools/ab.py threads <jvm-pid> <seconds>
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import threading
import time
from typing import Any, Callable

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

from layers import process_tree  # noqa: E402


def rows_sha256(rows) -> str:
    """sha256 of the rows as sorted ``|``-joined lines, floats ``%.10g``."""
    def norm(v: Any) -> str:
        return f"{v:.10g}" if isinstance(v, float) else str(v)

    lines = sorted("|".join(norm(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def noop(df) -> None:
    """Execute ``df`` fully, collecting nothing."""
    df.write.format("noop").mode("overwrite").save()


def _call(arm: Callable[[], Any]) -> tuple[float, str | None]:
    t0 = time.perf_counter()
    out = arm()
    if hasattr(out, "collect"):
        out = out.collect()
    return time.perf_counter() - t0, None if out is None else rows_sha256(out)


def interleave(arms: dict[str, Callable[[], Any]], pairs: int = 6) -> dict:
    names = list(arms)
    for n in names:
        _call(arms[n])
    sec: dict[str, list[float]] = {n: [] for n in names}
    sha: dict[str, set] = {n: set() for n in names}
    wins = dict.fromkeys(names, 0)
    for i in range(pairs):
        took = {}
        for n in names if i % 2 == 0 else names[::-1]:
            took[n], h = _call(arms[n])
            sec[n].append(took[n])
            sha[n].add(h)
        wins[min(took, key=took.get)] += 1
    out: dict[str, Any] = {"hashes_equal": len(set().union(*sha.values())) == 1}
    for n in names:
        q1, med, q3 = statistics.quantiles(sec[n], n=4, method="inclusive")
        out[n] = {
            "sec": [round(t, 3) for t in sec[n]],
            "median": round(med, 3),
            "iqr": round(q3 - q1, 3),
            "wins": wins[n],
            "sha256": min(sha[n]) if len(sha[n]) == 1 else sorted(sha[n]),
        }
    return out


# JVM thread groups by thread name (Linux keeps the first 15 characters);
# the first pattern that matches wins, an unmatched thread is "other JVM".
THREAD_GROUPS = [
    ("C2 compiler", re.compile(r"C2 CompilerThre")),
    ("C1 compiler", re.compile(r"C1 CompilerThre")),
    ("GC + VM", re.compile(r"GC Thread#|G1 |VM Thread")),
    ("executor tasks", re.compile(r"Executor task l")),
    ("py4j driver", re.compile(r"Thread-\d+$")),
]
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as fh:
            head, tail = fh.read().rsplit(")", 1)
    except (OSError, ValueError):
        return None  # exited
    return head.split("(", 1)[1], tail.split()


def _sample(pid: int) -> dict[str, tuple[str, int]]:
    """Clock ticks so far (user + system) per JVM thread, keyed by thread
    id, and of all processes below the JVM together, with the children
    they have reaped (a worker that exits moves into its parent's
    count), keyed ``workers``."""
    now = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st:
            name = next((g for g, rx in THREAD_GROUPS if rx.match(st[0])),
                        "other JVM")
            now[tid] = name, int(st[1][11]) + int(st[1][12])
    ticks = 0
    for child in process_tree(pid)[1:]:
        st = _stat(f"/proc/{child}/stat")
        if st:
            ticks += sum(int(x) for x in st[1][11:15])
    now["workers"] = "Python workers", ticks
    return now


def thread_cpu(pid: int, seconds: float, interval: float = 0.2,
               stop: threading.Event | None = None) -> dict[str, float]:
    """CPU seconds of JVM ``pid`` over ``seconds`` (or until ``stop`` is
    set), split into ``THREAD_GROUPS``, other JVM threads and the
    processes below the JVM (Spark's Python workers). /proc is read every
    ``interval`` seconds, so a thread that exits mid-window (the JVM
    starts and retires compiler threads with the load) keeps the time it
    had at its last sample; one that appears after the first sample
    counts from zero. ``total`` is the sum of the groups."""
    stop = stop or threading.Event()
    first = _sample(pid)
    last = dict(first)
    t_end = time.monotonic() + seconds
    while not stop.wait(max(0.0, min(interval, t_end - time.monotonic()))):
        try:
            last.update(_sample(pid))
        except FileNotFoundError:
            break  # the JVM exited
        if time.monotonic() >= t_end:
            break
    out = dict.fromkeys([g for g, _ in THREAD_GROUPS]
                        + ["other JVM", "Python workers"], 0.0)
    for key, (group, ticks) in last.items():
        out[group] += (ticks - first.get(key, (group, 0))[1]) / _TICK
    out["total"] = sum(out.values())
    return {g: round(v, 2) for g, v in out.items()}


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] != "threads":
        sys.exit("usage: python tools/ab.py threads <jvm-pid> <seconds>")
    print(json.dumps(thread_cpu(int(sys.argv[2]), float(sys.argv[3])),
                     indent=1))
