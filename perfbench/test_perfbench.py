"""Tests of the benchmark's own logic: the tail rule, failure counting,
the value-hash canon, stream and lake totals, span self time, job-group
attribution, stream progress through the listener, and the consistency
of BENCHMARK.json with the workload file.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from measure import (  # noqa: E402
    Outcomes, Span, arrow_hash, self_times, stream_totals, tail, written)


# ------------------------------------------------------------- tail rule


@pytest.mark.parametrize(
    "n, pct, rank",
    [(21, 52, 11), (34, 70, 24), (100, 90, 90), (1000, 99, 990)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, rank):
    xs = [float(i) for i in range(1, n + 1)]
    value, p, beyond = tail(list(reversed(xs)))
    assert (value, p, beyond) == (float(rank), pct, n - rank)
    assert beyond >= 10
    # one percentile higher would leave fewer than ten beyond
    assert n - -(-(p + 1) * n // 100) < 10


def test_tail_with_too_few_samples_is_the_max_with_none_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100, 0)
    with pytest.raises(ValueError):
        tail([])


# ------------------------------------------------------- failure counting


def test_raises_count_per_attempt():
    oc = Outcomes()
    for ok in (True, False, True, False):
        oc.attempt("a", ok)
    oc.attempt("b", True)
    assert (oc.attempted, oc.failed) == (5, 2)
    assert oc.failed_ratio == pytest.approx(0.4)


def test_mismatch_charges_every_attempt_of_that_op():
    oc = Outcomes()
    for _ in range(3):
        oc.attempt("a", True)
        oc.attempt("b", True)
    oc.attempt("b", False)
    oc.mismatch("a")
    assert (oc.attempted, oc.failed) == (7, 4)


# ------------------------------------------------------------ value hash


def test_hash_ignores_row_order_and_column_order_and_case():
    a = pa.table({"k": [1, 2], "V": ["x", "y"]})
    b = pa.table({"v": ["y", "x"], "K": [2, 1]})
    assert arrow_hash(a) == arrow_hash(b)
    assert arrow_hash(a) != arrow_hash(pa.table({"k": [1, 2], "v": ["x", "z"]}))


def test_float_canon_is_ten_significant_digits():
    assert arrow_hash(pa.table({"f": [0.1 + 0.2, None]})) == arrow_hash(
        pa.table({"f": [0.3, None]}))
    assert arrow_hash(pa.table({"f": [1.0]})) != arrow_hash(
        pa.table({"f": [1.000001]}))
    # float32 and float64 of the same short decimal agree
    assert arrow_hash(pa.table({"f": pa.array([2.5], pa.float32())})) == (
        arrow_hash(pa.table({"f": [2.5]})))


def test_decimal_canon_ignores_scale():
    d2 = pa.array([decimal.Decimal("10.00"), decimal.Decimal("1.50")],
                  pa.decimal128(10, 2))
    d1 = pa.array([decimal.Decimal("10.0"), decimal.Decimal("1.5")],
                  pa.decimal128(12, 1))
    assert arrow_hash(pa.table({"d": d2})) == arrow_hash(pa.table({"d": d1}))
    # a whole-number decimal (DuckDB's HUGEINT sum) equals the integer
    assert arrow_hash(pa.table({"d": pa.array([decimal.Decimal(7)],
                                              pa.decimal128(38, 0))})) == (
        arrow_hash(pa.table({"d": [7]})))


def test_array_canon_is_element_wise():
    f32 = pa.array([[1.5, 2.0], None, []], pa.list_(pa.float32()))
    f64 = pa.array([[1.5, 2.0], None, []], pa.list_(pa.float64()))
    assert arrow_hash(pa.table({"a": f32})) == arrow_hash(pa.table({"a": f64}))
    assert arrow_hash(pa.table({"a": f64})) != arrow_hash(
        pa.table({"a": pa.array([[2.0, 1.5], None, []])}))


def test_timestamp_canon_is_naive_utc():
    ts = datetime.datetime(2024, 1, 1, 12, 30)
    naive = pa.array([ts], pa.timestamp("us"))
    aware = pa.array([ts.replace(tzinfo=datetime.timezone.utc)],
                     pa.timestamp("us", tz="UTC"))
    nanos = pa.array([ts], pa.timestamp("ns"))
    h = arrow_hash(pa.table({"t": naive}))
    assert h == arrow_hash(pa.table({"t": aware}))
    assert h == arrow_hash(pa.table({"t": nanos}))


# ------------------------------------------------------ lake and streams


def _progress(run_id, batch_ms, commit_ms=None, rows=0):
    p = {"runId": run_id, "batchDuration": batch_ms,
         "durationMs": {"walCommit": 5, "commitOffsets": 5}}
    if commit_ms is not None:
        p["stateOperators"] = [{"commitTimeMs": commit_ms,
                                "numRowsTotal": rows,
                                "memoryUsedBytes": 10 * rows}]
    return p


def test_stream_totals_sum_batches_and_keep_each_queries_last_state():
    t = stream_totals([
        _progress("a", 1000, 90, rows=3),
        _progress("a", 500, 40, rows=7),  # a's state after its last batch
        _progress("b", 250),  # stateless
    ])
    assert t["batches"] == 3
    assert t["batch_s"] == pytest.approx(1.75)
    assert t["commit_s"] == pytest.approx((90 + 40 + 3 * 10) / 1e3)
    assert (t["state_rows"], t["state_bytes"]) == (7, 70)
    assert stream_totals([])["batches"] == 0


def test_written_counts_new_and_rewritten_files_only():
    before = {"kept": (10, 1), "rewritten": (20, 1), "gone": (30, 1)}
    after = {"kept": (10, 1), "rewritten": (25, 2), "new": (40, 3)}
    assert written(before, after) == (2, 65)
    assert written({}, {}) == (0, 0)


def test_lake_listing_sees_data_files_only(tmp_path):
    import lake

    part = tmp_path / "raw" / "events" / "ingest_ts=x"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"abc")
    (part / ".part-00000.parquet.crc").write_bytes(b"c")
    (tmp_path / "raw" / "events" / "_SUCCESS").write_bytes(b"")
    files = lake._listing(str(tmp_path))
    assert [os.path.basename(p) for p in files] == ["part-00000.parquet"]
    assert next(iter(files.values()))[0] == 3


def test_tree_cpu_counts_reaped_children():
    import subprocess

    from layers import process_tree, tree_cpu_s

    assert process_tree(os.getpid())[0] == os.getpid()
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", (
        "import time\nt = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass")], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.4


# ------------------------------------------------------------------ spans


def test_self_time_subtracts_merged_child_cover():
    spans = [
        Span("op", 0.0, 10.0, None, 0, 0),
        Span("a", 1.0, 4.0, 0, 0, 1),
        Span("b", 3.0, 6.0, 0, 0, 2),  # overlaps a: cover is 1..6
        Span("c", 8.0, 12.0, 0, 0, 3),  # clipped to the parent: 8..10
        Span("d", 1.5, 2.0, 1, 0, 4),  # grandchild: only a's self time
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)


# --------------------------------------------------------- declarations


def test_benchmark_json_matches_the_runner():
    import bench
    import run

    import __spark_entry__ as entrymod

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["end_to_end"][0]["bound"] == max(
        m["bound"] for m in spec["end_to_end"])  # setup_s: the largest
    wl = run.SPEC["workloads"]
    assert {w["name"] for w in spec["workloads"]} == set(wl)
    assert set(wl["analytics"]["ops"]) | set(wl["curation"]["ops"]) == set(
        bench.HEADLINE)
    assert not set(wl["analytics"]["ops"]) & set(wl["curation"]["ops"])
    qs = entrymod.queries()
    assert all(o in qs for w in wl.values() for o in w["ops"])
    assert sum(n.startswith("streaming_") for n in qs) == 10


def test_inputs_are_the_recorded_tables():
    import run

    for key, spec in run.SPEC["inputs"].items():
        d = run.input_dir(key)  # raises if a table's rows differ
        assert {t: os.path.getsize(os.path.join(d, f"{t}.parquet"))
                for t in spec["bytes"]} == spec["bytes"]


# ---------------------------------------------------- job-group attribution


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from data_lakehouse_hygiene_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]",
                  shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir():
    import run

    return run.input_dir("sf0.01")


def test_every_job_of_a_row_lands_in_its_group(spark, sf_dir):
    import __spark_entry__ as entrymod
    from layers import Tracer

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def all_job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    tr = Tracer(spark, enabled=True)
    before = all_job_ids()
    with tr.span("exec", 0, job_group=True):
        entrymod.queries()["global_sum"](spark, sf_dir).write.format(
            "noop").mode("overwrite").save()
    started = all_job_ids() - before
    group = sc.statusTracker().getJobIdsForGroup(f"perfbench-0-{0}")
    assert started and set(group) == started
    assert tr.stage[0]["jobs"] == len(started)
    assert tr.stage[0]["stages"] >= 1 and tr.stage[0]["tasks"] >= 1
    # the group is cleared after the span: later jobs land outside it
    spark.range(3).count()
    assert set(sc.statusTracker().getJobIdsForGroup("perfbench-0-0")) == started


def test_stream_progress_reaches_the_listener(spark, sf_dir):
    import __spark_entry__ as entrymod
    from layers import StreamProgress

    listener = StreamProgress(spark)
    spark.streams.addListener(listener)
    try:
        entrymod.queries()["streaming_time_bucket"](spark, sf_dir)
        progress = listener.drain()
    finally:
        spark.streams.removeListener(listener)
    assert progress and all(p["batchDuration"] > 0 for p in progress)
    assert stream_totals(progress)["state_rows"] > 0
    assert listener.drain() == []
