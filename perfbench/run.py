"""Benchmark of the hygiene engine: one workload per process.

    python3 perfbench/run.py --workload analytics --seed 7 --seconds 5 --trace 0

Workloads and their inputs are declared in ``perfbench/workloads.json``.
Each run builds a ``local[N]`` session with ``get_spark``, warms up
untimed (one pass that also checks every operation's output against the
DuckDB oracle, then the workload's noop warm-up passes), then times
whole passes (a closed loop, one client, one operation in flight) until
``--seconds`` have passed. The seed shuffles the operation order of
every pass; it is printed with the results.

``--trace 0`` prints the end-to-end metrics. Two are in the JSON result:
``setup_s``, and ``pass_cpu_s``, the median CPU seconds per pass of the
driver JVM, its Python workers and this process. The wall ``pass_s``,
per-operation latencies, peak resident memory and ``failed_ratio`` are
printed beside them. ``--trace 1`` records spans and job-group stage
metrics around each call into the engine and prints the per-layer
metrics with the tracing overhead; analytics' traced run then makes the
probes of the lake layers (``lake.py``): medallion pipeline runs and the
streaming rows. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Inputs are the fixed tables under ``perfbench/data`` (see
``workloads.json``). The oracle's value hashes are cached under
``.bench_build/perfbench`` in the checkout, where Spark, DuckDB and the
JVM keep their temporary files too.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # process start, as near as Python gets

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path[:0] = [ROOT, HERE]

import lake  # noqa: E402
from measure import Outcomes, arrow_hash, median, self_times, tail  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as _fh:
    SPEC = json.load(_fh)

# Per-row layer metrics: the rows where construction or off-JVM time
# dominated the ROADMAP's layer baseline.
CONSTRUCT_ROWS = ["ccnet_bucket", "group_heavy_hitters", "heavy_hitters",
                  "hygiene_score"]
PYWORKER_ROWS = ["ivfpq_ann", "simhash128_near_dup", "ngram_jaccard",
                 "media_near_dup"]
# The lake probes of analytics' traced run (lake.py): medallion pipeline
# runs on the sf0.1 input, and the registry's streaming rows on sf0.01.
MEDALLION_INPUT, MEDALLION_RUNS = "sf0.1", 4
STREAM_INPUT = "sf0.01"
EXEC_FIELDS = ["jobs", "stages", "tasks", "task_run_s", "jvm_cpu_s", "gc_s",
               "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"]

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
PER_LAYER = {
    "session.build_s": "s", "session.first_job_s": "s",
    "construct.s": "s", "construct.jobs": "count",
    **{f"construct.s.{r}": "s" for r in CONSTRUCT_ROWS},
    "exec.s": "s",
    **{f"exec.{f}": "count" if f in ("jobs", "stages", "tasks") else
       "bytes" if f.endswith("bytes") else "s" for f in EXEC_FIELDS},
    "pyworker.off_jvm_s": "s",
    **{f"pyworker.off_jvm_s.{r}": "s" for r in PYWORKER_ROWS},
    **lake.METRICS,
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.op_self_s": "s",
}


def _configure_env(cores: int) -> str:
    """Keep every file Spark, Python and DuckDB write inside the checkout."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_WAREHOUSE_DIR": os.path.join(tmp, "warehouse"),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
        # hsperfdata would otherwise go to /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        # Python workers import the engine package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    time.tzset()
    return tmp


# ------------------------------------------------------------------ inputs


def input_dir(key: str) -> str:
    """Directory of the named input, after checking its tables hold the
    rows ``workloads.json`` records."""
    import pyarrow.parquet as pq

    spec = SPEC["inputs"][key]
    out = os.path.join(ROOT, spec["dir"])
    rows = {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet"))
            .metadata.num_rows for t in spec["rows"]}
    if rows != spec["rows"]:
        raise RuntimeError(f"input {key}: rows {rows} differ from"
                           f" workloads.json {spec['rows']}")
    return out


def _digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def oracle_hashes(data_dir: str, ops: list[str], cores: int, tmp: str,
                  oracle_sql: dict[str, str]) -> dict[str, str]:
    """DuckDB value hash of each op's oracle on ``data_dir``, computed
    once per checkout and cached under ``.bench_build``. An entry is keyed
    by the input's bytes, the source of the hash canon and the oracle
    query, so editing any of them recomputes the affected hashes."""
    import duckdb

    tables = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    base = _digest(os.path.join(HERE, "measure.py"),
                   *(os.path.join(data_dir, f) for f in tables))
    path = os.path.join(BUILD, "oracle",
                        os.path.basename(data_dir) + ".json")
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    keys = {o: hashlib.sha256((base + oracle_sql[o]).encode()).hexdigest()
            for o in ops}
    missing = [o for o in ops if cache.get(o, {}).get("key") != keys[o]]
    if missing:
        con = duckdb.connect(config={"threads": cores,
                                     "temp_directory": tmp})
        for f in tables:
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{f}')")
        for op in missing:
            cache[op] = {"key": keys[op], "hash": arrow_hash(
                con.execute(oracle_sql[op]).fetch_arrow_table())}
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".part", "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(path + ".part", path)
    return {o: cache[o]["hash"] for o in ops}


# ----------------------------------------------------------------- running


class Run:
    """One benchmark process: the session, the workload's registry rows,
    and a record of every timed operation. Each row is forced through
    the ``noop`` sink; its construction and execution are separate
    spans."""

    def __init__(self, workload: str, seed: int, tracer_cls):
        import __spark_entry__ as entrymod
        from data_lakehouse_hygiene_spark.session import get_spark

        spec = SPEC["workloads"][workload]
        self.cores = SPEC["cores"]
        self.tmp = _configure_env(self.cores)
        self.rng = random.Random(seed)
        self.outcomes = Outcomes()
        self.oracle_sql = entrymod.oracle_sql()
        self.qs = entrymod.queries()
        self.workload = workload
        self.ops: list[str] = spec["ops"]
        self.noop_warmups: int = spec["noop_warmup_passes"]
        missing = [o for o in self.ops if o not in self.qs]
        if missing:
            raise RuntimeError(f"ops not in queries(): {missing}")
        self.op_ids = itertools.count()  # one span identifier per operation
        self.latencies: list[float] = []
        self.records: list[dict] = []  # one per timed op

        t = time.perf_counter()
        self.data_dir = input_dir(spec["input"])
        self.build_s = time.perf_counter() - t

        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(1).collect()
        t2 = time.perf_counter()
        self.session = {"session.build_s": t1 - t,
                        "session.first_job_s": t2 - t1}
        self.tracer = tracer_cls(self.spark, enabled=False)

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def order(self, ops: list[str] | None = None) -> list[str]:
        """The operations of one pass, in the seed's shuffled order."""
        ops = list(self.ops if ops is None else ops)
        self.rng.shuffle(ops)
        return ops

    def oracle(self, data_dir: str, ops: list[str]) -> dict[str, str]:
        return oracle_hashes(data_dir, ops, self.cores, self.tmp,
                             self.oracle_sql)

    def warm_up_and_check(self) -> None:
        """The untimed warm-up: a pass that is also the output check, then
        the workload's ``noop_warmup_passes``. In the check pass each row's
        result is collected and value-hashed against the oracle; a mismatch
        charges every attempt of the row. The oracle hashes are computed
        first, as input build time.

        Analytics makes one noop pass more: after the check pass alone its
        timed pass still spent 8-9 of 24-29 CPU seconds in the JIT
        compiler threads, and ``pass_cpu_s`` spread 0.16 (IQR/median) over
        ten runs; with the extra pass, 0.11 over six. Curation's pass is
        twice as long and spread 0.09 without one.

        A cold row spends most of its time compiling on the driver, so the
        rows are built ``cores`` at a time: this halves the set-up, which
        is most of a run. The rows share no mutable session state (their
        conf writes all pin the same values), so each result is the one a
        row gives alone."""
        t = time.perf_counter()
        oracle = self.oracle(self.data_dir, self.ops)
        self.build_s += time.perf_counter() - t
        # Hashing a result is the check's work, not the engine's: the
        # hashes run one at a time and their time counts as build time.
        hashing = threading.Lock()

        def output_hash(name: str) -> str | None:
            try:
                table = self.qs[name](self.spark, self.data_dir).toArrow()
            except Exception:  # noqa: BLE001 — a failing op is a result
                traceback.print_exc()
                return None
            with hashing:
                t = time.perf_counter()
                got = arrow_hash(table)
                self.build_s += time.perf_counter() - t
            return got

        names = self.order()
        with ThreadPoolExecutor(self.cores) as pool:
            hashes = list(pool.map(output_hash, names))
        for name, got in zip(names, hashes):
            if got != oracle[name]:
                print(f"MISMATCH {name}", file=sys.stderr)
                self.outcomes.mismatch(name)
        # The collected results are the check's garbage, not the
        # workload's: free them before timing starts.
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        for _ in range(self.noop_warmups):
            for name in self.order():
                self.attempt(name, next(self.op_ids))

    def attempt(self, name: str, op_id: int) -> float:
        """One operation: build the row and force it through the noop
        sink, with construction and execution as separate spans. Returns
        its wall seconds; a raise counts as a failed attempt."""
        tr = self.tracer
        t = time.perf_counter()
        try:
            with tr.span(name, op_id):
                with tr.span("construct", op_id, job_group=True):
                    df = self.qs[name](self.spark, self.data_dir)
                with tr.span("exec", op_id, job_group=True):
                    df.write.format("noop").mode("overwrite").save()
            ok = True
        except Exception:  # noqa: BLE001 — a failing op is a result
            traceback.print_exc()
            ok = False
        self.outcomes.attempt(name, ok)
        return time.perf_counter() - t

    def probe(self, seed: int) -> dict[str, float]:
        """The lake probes (lake.py), made by analytics' traced run only:
        medallion pipeline runs and the registry's streaming rows."""
        if self.workload != "analytics":
            return {}
        out = lake.medallion(self, input_dir(MEDALLION_INPUT),
                             MEDALLION_RUNS, seed)
        streams = [n for n in self.qs if n.startswith("streaming_")]
        out.update(lake.streaming(self, input_dir(STREAM_INPUT),
                                  self.order(streams)))
        return out

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits on EOF of its stdin
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def timed_passes(run: Run, seconds: float,
                 cpu) -> tuple[list[float], list[float]]:
    """Whole passes until ``seconds`` have elapsed (at least one). Returns
    the wall seconds of each pass and the CPU seconds ``cpu()`` grew by
    during it."""
    passes, cpus = [], []
    t_begin = time.perf_counter()
    while not passes or time.perf_counter() - t_begin < seconds:
        t_pass, c_pass = time.perf_counter(), cpu()
        for name in run.order():
            op_id = next(run.op_ids)
            run.latencies.append(run.attempt(name, op_id))
            run.records.append({"name": name, "op": op_id,
                                "pass": len(passes)})
        passes.append(time.perf_counter() - t_pass)
        cpus.append(cpu() - c_pass)
    return passes, cpus


# ----------------------------------------------------------------- metrics


def layer_metrics(run: Run, passes: list[float], overhead_s: float,
                  probed: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the traced passes' spans and stage records
    (sums per pass, then the median over passes), with the probes' lake
    metrics. A layer the workload does not reach reads 0.

    ``trace.overhead_s`` is the tracer's own time per pass, spent reading
    the status store; ``trace.pass_s`` set beside the untraced run's
    ``pass_s`` gives the same overhead as the difference of two runs."""
    tr = run.tracer
    selfs = self_times(tr.spans)
    by_op: dict[int, list] = {}
    for s in tr.spans:
        by_op.setdefault(s.op, []).append(s)
    per_pass: list[dict[str, float]] = [{} for _ in passes]

    def add(d, k, v):
        d[k] = d.get(k, 0.0) + v

    for rec in run.records:
        acc = per_pass[rec["pass"]]
        name = rec["name"]
        for s in by_op.get(rec["op"], []):
            if s.parent is None:
                add(acc, "trace.op_self_s", selfs[s.sid])
            st = tr.stage.get(s.sid)
            if st is None:
                continue
            off_jvm = st["task_run_s"] - st["jvm_cpu_s"] - st["gc_s"]
            add(acc, "pyworker.off_jvm_s", off_jvm)
            if name in PYWORKER_ROWS:
                add(acc, f"pyworker.off_jvm_s.{name}", off_jvm)
            if s.name == "construct":
                add(acc, "construct.s", s.dur)
                add(acc, "construct.jobs", st["jobs"])
                if name in CONSTRUCT_ROWS:
                    add(acc, f"construct.s.{name}", s.dur)
            else:
                add(acc, "exec.s", s.dur)
                for f in EXEC_FIELDS:
                    add(acc, f"exec.{f}", st[f])

    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(run.session)
    out.update(probed)
    for k in {k for p in per_pass for k in p}:
        out[k] = median([p.get(k, 0.0) for p in per_pass])
    out["trace.pass_s"] = median(passes)
    out["trace.overhead_s"] = overhead_s
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import bench
    from layers import RssSampler, Tracer, tree_cpu_s

    headline = {o for w in SPEC["workloads"].values() for o in w["ops"]}
    if headline != set(bench.HEADLINE):
        raise RuntimeError("analytics + curation must equal bench.HEADLINE")

    run = Run(args.workload, args.seed, Tracer)
    try:
        run.warm_up_and_check()
        setup_s = time.perf_counter() - _T0 - run.build_s
        with RssSampler(run.jvm_pid) as rss:
            run.tracer.enabled = bool(args.trace)
            # the driver JVM, its Python workers and this client process,
            # less the sampler's own thread
            passes, cpus = timed_passes(run, args.seconds, lambda: (
                tree_cpu_s(run.jvm_pid) + time.process_time() - rss.cpu_s))
            if args.trace:
                overhead_s = run.tracer.cost_s / len(passes)
                probed = run.probe(args.seed)
        if args.trace:
            run.tracer.write(os.path.join(
                BUILD, "trace", f"{args.workload}-seed{args.seed}.json"))
            metrics = layer_metrics(run, passes, overhead_s, probed)
            units = PER_LAYER
        else:
            metrics = {"setup_s": setup_s, "pass_cpu_s": median(cpus)}
            units = END_TO_END
    finally:
        run.stop()

    oc = run.outcomes
    print(f"workload {args.workload}  seed {args.seed}  cores {run.cores}"
          f"  passes {len(passes)}  ops/pass {len(run.ops)}")
    for k, v in metrics.items():
        print(f"  {k:40s} {v:14.6g} {units[k]}")
    if not args.trace:
        # Printed, not gated. Wall times swing with the load on the shared
        # host: over sets of five to ten runs on 4 vCPUs, pass_s spread
        # 0.13-0.29 (IQR/median) where pass_cpu_s spread 0.06-0.17. One
        # pass holds only 21 or 34 unlike rows for op_p50_s and op_tail_s.
        # Peak RSS follows G1's timing-dependent heap growth (spread
        # 0.08-0.19).
        tail_v, tail_p, tail_n = tail(run.latencies)
        print(f"  {'pass_s':40s} {median(passes):14.6g} s")
        print(f"  {'op_p50_s':40s} {median(run.latencies):14.6g} s")
        print(f"  {'op_tail_s':40s} {tail_v:14.6g} s  (p{tail_p}: {tail_n}"
              f" of {len(run.latencies)} samples beyond it)")
        print(f"  {'peak_rss_mb':40s} {rss.peak_bytes / 2**20:14.6g} MB")
    print(f"  failed_ratio {oc.failed_ratio:g} ({oc.failed} failed /"
          f" {oc.attempted} attempted)")
    print(json.dumps({
        "correct": oc.failed == 0,
        "attempted": oc.attempted,
        "failed": oc.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
