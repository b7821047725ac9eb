"""Pure measurement helpers: output value hash, latency statistics,
failure counting, stream and lake totals, and span self time. Nothing
here touches Spark, so the benchmark's own logic is testable without a
session."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from collections.abc import Sequence
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc


# ----------------------------------------------------------- value hash


def canon(v) -> str:
    """One value in the oracle canon: floats as ``%.10g``, Decimals in
    plain notation without trailing zeros (``10.00`` and ``10`` agree),
    arrays element-wise, timezone-aware timestamps as naive UTC."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f") if v.is_finite() else str(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon(x) for x in list(v)) + "]"
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def _canon_floats(col: pa.ChunkedArray) -> pa.Array:
    out = list(map("{:.10g}".format,
                   col.to_numpy(zero_copy_only=False).tolist()))
    if col.null_count:
        for i in col.is_null().to_numpy(zero_copy_only=False).nonzero()[0]:
            out[i] = "None"
    return pa.array(out, pa.string())


def _canon_column(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """:func:`canon` over one Arrow column, vectorised for the types that
    dominate large results."""
    t = col.type
    if pa.types.is_floating(t):
        return pa.chunked_array([_canon_floats(col)])
    if pa.types.is_timestamp(t):
        # tz-aware values are stored as UTC, so dropping the zone is the
        # naive UTC rendering; one unit so both engines print alike
        col = col.cast(pa.timestamp("us"), safe=False)
        t = col.type
    if (pa.types.is_integer(t) or pa.types.is_string(t)
            or pa.types.is_timestamp(t) or pa.types.is_date(t)):
        return pc.fill_null(pc.cast(col, pa.string()), "None")
    return pa.chunked_array(
        [pa.array([canon(v) for v in col.to_pylist()], pa.string())])


def arrow_hash(table: pa.Table) -> str:
    """Order-insensitive value hash of a result: columns in name order
    (case folded), every value rendered with :func:`canon`, one line per
    row, lines sorted."""
    folded = [c.lower() for c in table.column_names]
    order = sorted(range(len(folded)), key=lambda i: folded[i])
    h = hashlib.sha256(("|".join(folded[i] for i in order) + "\n").encode())
    if order and table.num_rows:
        lines = pc.binary_join_element_wise(
            *[_canon_column(table.column(i)) for i in order], "|")
        lines = pc.take(lines, pc.sort_indices(lines))
        h.update("\n".join(lines.to_pylist()).encode())
    return h.hexdigest()


# ------------------------------------------------------------ statistics


def median(xs: Sequence[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: Sequence[float], min_beyond: int = 10) -> tuple[float, int, int]:
    """Latency at the highest whole percentile that leaves at least
    ``min_beyond`` samples strictly above its nearest-rank position.

    Returns ``(value, percentile, samples_beyond)``. With too few samples
    for any percentile from 50 up, the maximum is returned with its
    percentile 100 and 0 samples beyond, so a caller always sees how
    thinly the tail is sampled."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)  # nearest rank, 1-based
        beyond = n - rank
        if beyond >= min_beyond:
            return s[rank - 1], p, beyond
    return s[-1], 100, 0


@dataclass
class Outcomes:
    """Operations attempted and failed. An operation fails if it raised,
    or if its output did not match the oracle in this run: a mismatch is
    found once per operation name but charges every timed attempt of
    that name."""

    attempts: dict[str, int] = field(default_factory=dict)
    raised: dict[str, int] = field(default_factory=dict)
    mismatched: set[str] = field(default_factory=set)

    def attempt(self, name: str, ok: bool) -> None:
        self.attempts[name] = self.attempts.get(name, 0) + 1
        if not ok:
            self.raised[name] = self.raised.get(name, 0) + 1

    def mismatch(self, name: str) -> None:
        self.mismatched.add(name)

    @property
    def attempted(self) -> int:
        return sum(self.attempts.values())

    @property
    def failed(self) -> int:
        return sum(
            self.attempts[n] if n in self.mismatched else self.raised.get(n, 0)
            for n in self.attempts
        )

    @property
    def failed_ratio(self) -> float:
        return self.failed / max(self.attempted, 1)


# ------------------------------------------------------ lake and streams


def stream_totals(progress: Sequence[dict]) -> dict[str, float]:
    """Micro-batches, batch seconds, commit seconds and final state size
    of the streaming queries whose progress records are given. Commit time
    is the state stores' commits plus the offset and commit log writes;
    state size sums the last record of each query run."""
    out = {"batches": 0, "batch_s": 0.0, "commit_s": 0.0,
           "state_rows": 0, "state_bytes": 0}
    last: dict[str, dict] = {}
    for p in progress:
        d = p.get("durationMs") or {}
        states = p.get("stateOperators") or []
        out["batches"] += 1
        out["batch_s"] += p.get("batchDuration", 0) / 1e3
        out["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)
                            + sum(s.get("commitTimeMs", 0) for s in states)
                            ) / 1e3
        last[p["runId"]] = p
    for p in last.values():
        for s in p.get("stateOperators") or []:
            out["state_rows"] += s.get("numRowsTotal", 0)
            out["state_bytes"] += s.get("memoryUsedBytes", 0)
    return out


def written(before: dict[str, tuple[int, int]],
            after: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """Files and bytes in ``after`` that are new or rewritten since
    ``before``; both map a path to its ``(size, mtime_ns)``."""
    sizes = [v[0] for p, v in after.items() if before.get(p) != v]
    return len(sizes), sum(sizes)


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    sid: int = -1

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover (overlapping children are merged first)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(kids.get(s.sid, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.sid] = s.dur - covered
    return out
