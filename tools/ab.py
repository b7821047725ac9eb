"""Interleaved in-process A/B timing with value-hash equality.

``interleave({"parent": f, "change": g}, pairs=6)`` calls every arm once
untimed, then runs ``pairs`` rounds of one call per arm, the order
reversed every other round. An arm is a zero-argument callable returning
rows or a DataFrame (collected inside the timed call), or None (say,
after ``noop(df)``: timed, not hashed). Per arm: wall seconds per round,
median, IQR, rounds won, and the sha256 of its sorted rows. Scripts under
tools/ import it as ``from ab import interleave``; trust a median only
when ``hashes_equal`` holds.
"""

from __future__ import annotations

import hashlib
import statistics
import time
from typing import Any, Callable


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
