"""Traced probes of the layers that no headline row reaches.

``medallion`` makes successive pipeline runs on one lake, calling each
zone of ``pipeline.run_pipeline`` in its order, and reads what the sinks
wrote from a listing of the lake and how well the sources pruned from
the clean zone's input bytes. ``streaming`` runs the registry's
streaming rows and reads their micro-batches and state stores through a
``StreamingQueryListener``.

The probes run in analytics' traced run (``run.Run.probe``).
Outputs are checked as the workload's own rows are, and every failure
counts in the run's outcomes.
"""

from __future__ import annotations

import datetime
import os
import shutil
import traceback

from measure import arrow_hash, canon, median, stream_totals, written

ZONES = ("ingest", "clean", "curate", "serve")
STREAM_FIELDS = ("batches", "batch_s", "commit_s", "state_rows",
                 "state_bytes")

METRICS = {
    **{f"pipeline.{z}_s": "s" for z in ZONES},
    **{f"pipeline.{z}.jobs": "count" for z in ZONES},
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sources.prune_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.commit_s.streaming_join": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.outside_batch_s": "s",
}


def _listing(lake: str) -> dict[str, tuple[int, int]]:
    """Data files under the lake (Spark's part files, not checksums or
    markers) with their size and modification time."""
    out = {}
    for d, _, files in os.walk(lake):
        for f in files:
            if f.startswith("part-"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def medallion(run, data_dir: str, runs: int, seed: int) -> dict[str, float]:
    """``runs`` successive pipeline runs on a fresh lake, ``ingest_ts``
    one hour apart from a start the seed picks.

    Every run lands the same input, so the newest raw partition has the
    same size each time: ``sources.prune_ratio`` is the clean zone's
    input bytes in the last run over those in the first, and stays 1.0
    while the clean zone reads only the newest partition. The first run
    writes to an empty lake and is left out of the other medians. A run
    is correct when its curated row equals ``hygiene_score`` on the same
    input and the clean events keep every input row."""
    from data_lakehouse_hygiene_spark import pipeline, sinks
    from data_lakehouse_hygiene_spark.schemas import load_table

    spark, tr = run.spark, run.tracer
    expected = [canon(v) for v in
                run.qs["hygiene_score"](spark, data_dir).collect()[0]]
    n_events = load_table(spark, data_dir, "events").count()
    lake = os.path.join(run.tmp, f"lake-{os.getpid()}")
    shutil.rmtree(lake, ignore_errors=True)
    start = datetime.datetime(2026, 1, 1) + datetime.timedelta(
        hours=seed % 8760)
    zones = {
        "ingest": lambda ts: pipeline.ingest(spark, data_dir, lake, ts),
        "clean": lambda ts: pipeline.clean(spark, lake),
        "curate": lambda ts: pipeline.curate(spark, lake, as_of=ts),
        "serve": lambda ts: pipeline.serve(spark, lake),
    }
    per_run: list[dict[str, float]] = []
    clean_in: list[float] = []
    files: dict[str, tuple[int, int]] = {}
    try:
        for k in range(runs):
            ts = (start + datetime.timedelta(hours=k)).isoformat()
            op = next(run.op_ids)
            rec: dict[str, float] = {}
            returned = {}
            try:
                with tr.span("medallion", op):
                    for zone, call in zones.items():
                        with tr.span(f"pipeline.{zone}", op,
                                     job_group=True) as sid:
                            returned[zone] = call(ts)
                        rec[f"pipeline.{zone}_s"] = tr.spans[sid].dur
                        rec[f"pipeline.{zone}.jobs"] = tr.stage[sid]["jobs"]
                        if zone == "clean":
                            clean_in.append(tr.stage[sid]["input_bytes"])
                curated = returned["curate"].collect()[0]
                got = [canon(v) for v in curated][:-1]  # less generated_at
                ok = got == expected and sinks.read_table(
                    spark, f"{lake}/clean/events").count() == n_events
            except Exception:  # noqa: BLE001 — a failing run is a result
                traceback.print_exc()
                ok = False
            run.outcomes.attempt("medallion", ok)
            after = _listing(lake)
            rec["sinks.files_written"], rec["sinks.bytes_written"] = (
                written(files, after))
            files = after
            per_run.append(rec)
    finally:
        shutil.rmtree(lake, ignore_errors=True)
    steady = per_run[1:] or per_run
    out = {k: median([r[k] for r in steady if k in r])
           for k in METRICS if any(k in r for r in steady)}
    if len(clean_in) == runs:
        out["sources.prune_ratio"] = clean_in[-1] / clean_in[0]
    return out


def streaming(run, data_dir: str, ops: list[str]) -> dict[str, float]:
    """One traced pass over the streaming rows, which is also their
    output check: a row's stream runs to completion while the row is
    built, and its result is then collected and value-hashed against the
    oracle. Batch, commit and state figures come from the queries'
    progress records; ``streaming.outside_batch_s`` is each row's wall
    time less its batch time: query start plus the copy-out of the sink
    and the collect."""
    from layers import StreamProgress

    spark, tr = run.spark, run.tracer
    oracle = run.oracle(data_dir, ops)
    listener = StreamProgress(spark)
    spark.streams.addListener(listener)
    out = {k: 0.0 for k in METRICS if k.startswith("streaming.")}
    try:
        for name in ops:
            op = next(run.op_ids)
            try:
                with tr.span(name, op) as sid:
                    with tr.span("construct", op, job_group=True):
                        df = run.qs[name](spark, data_dir)
                    with tr.span("exec", op, job_group=True):
                        table = df.toArrow()
                ok = arrow_hash(table) == oracle[name]
            except Exception:  # noqa: BLE001 — a failing op is a result
                traceback.print_exc()
                ok = False
            run.outcomes.attempt(name, ok)
            wall = tr.spans[sid].dur
            tot = stream_totals(listener.drain())
            for f in STREAM_FIELDS:
                out[f"streaming.{f}"] += tot[f]
            out["streaming.outside_batch_s"] += wall - tot["batch_s"]
            if name == "streaming_join":
                out["streaming.commit_s.streaming_join"] = tot["commit_s"]
    finally:
        spark.streams.removeListener(listener)
    return out
