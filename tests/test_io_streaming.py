"""Lakehouse I/O (S4/S5/S7/S8) and Structured Streaming behavior tests."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from .conftest import SF_ORACLE, SF_SMOKE

import __spark_entry__ as entrymod
from data_lakehouse_hygiene_spark import sinks, streaming
from data_lakehouse_hygiene_spark.schemas import TABLES, load_table
from data_lakehouse_hygiene_spark.sources import fail_soft, latest_ingest


def test_overwrite_idempotent(spark):
    """S7: overwrite twice ≡ overwrite once (the reference's full-refresh
    contract, clean_sheets.py:76-81)."""
    df = load_table(spark, SF_SMOKE, "nation")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/nation_tbl"
        sinks.overwrite_table(df, path)
        sinks.overwrite_table(df, path)
        back = sinks.read_table(spark, path)
        assert back.count() == df.count()
        assert sorted(back.columns) == sorted(df.columns)


def test_append_log_latest_ingest(spark):
    """S4+S5: append two snapshots, latest_ingest prunes to the newest —
    and the physical plan shows a partition filter, not a full scan."""
    df = load_table(spark, SF_SMOKE, "region")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/region_log"
        sinks.append_snapshot(df, path, "2026-01-01T00:00:00")
        sinks.append_snapshot(df.limit(3), path, "2026-01-02T00:00:00")
        log = sinks.read_table(spark, path)
        latest = latest_ingest(log)
        rows = latest.collect()
        assert len(rows) == 3
        assert {r["ingest_ts"] for r in rows} == {"2026-01-02T00:00:00"}


def test_latest_partition_scan_prunes_at_planning(spark):
    """S5 stretch (SURVEY §4.2 item 4): the max-partition predicate is
    resolved from file-index metadata and injected as a literal, so the
    PLANNED scan touches only the newest partition's files — asserted on
    the PartitionFilters plan node and runtime input_file_name()."""
    from data_lakehouse_hygiene_spark.sources import latest_partition_scan

    df = load_table(spark, SF_SMOKE, "region")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/region_log"
        sinks.append_snapshot(df, path, "2026-01-01T00:00:00")
        sinks.append_snapshot(df.limit(2), path, "2026-01-02T00:00:00")
        latest = latest_partition_scan(spark, path)
        rows = latest.collect()
        assert len(rows) == 2
        assert {r["ingest_ts"] for r in rows} == {"2026-01-02T00:00:00"}
        # Planning-time pruning: the literal shows up as a PartitionFilter
        # on the scan node...
        plan = latest._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "= 2026-01-02T00:00:00" in plan, plan
        # ...and the files actually opened at runtime are only the newest
        # partition's (input_file_name is post-pruning, unlike inputFiles).
        scanned = {
            r[0]
            for r in latest.select(F.input_file_name()).distinct().collect()
        }
        assert scanned and all("2026-01-02" in f for f in scanned), scanned


def test_merge_upsert(spark):
    """MERGE semantics: matched keys replaced, new keys appended."""
    base = load_table(spark, SF_SMOKE, "region")  # 5 rows, r_regionkey 0-4
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/region_tbl"
        sinks.overwrite_table(base, path)
        updates = spark.createDataFrame(
            [(0, "UPDATED"), (99, "BRAND NEW")], ["r_regionkey", "r_name"]
        ).withColumn("r_regionkey", F.col("r_regionkey").cast("int"))
        sinks.merge_upsert(spark, updates, path, "r_regionkey")
        got = {
            r["r_regionkey"]: r["r_name"]
            for r in sinks.read_table(spark, path).collect()
        }
        assert len(got) == 6
        assert got[0] == "UPDATED"
        assert got[99] == "BRAND NEW"
        assert got[1] == base.where("r_regionkey = 1").collect()[0]["r_name"]


def test_merge_upsert_cleans_temp_dir(spark):
    """The Parquet-fallback staging dir must not leak (ADVICE r1)."""
    import os

    base = load_table(spark, SF_SMOKE, "region")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/region_tbl"
        sinks.overwrite_table(base, path)
        updates = base.limit(1)
        sinks.merge_upsert(spark, updates, path, "r_regionkey")
        assert not os.path.exists(path + "__merge_tmp")


def _py_merge(current_rows, change_rows, key, op_col=None):
    """Independent MERGE oracle: plain-Python dict replay of the clause
    matrix (matched+D → delete, matched → replace, unmatched non-D →
    insert, unmatched D → no-op). Deliberately shares no code with the
    Spark implementation so a bug in the anti-join/union decomposition
    cannot cancel out in the comparison."""
    table = {r[key]: dict(r) for r in current_rows}
    for r in change_rows:
        if op_col is not None and r[op_col] == "D":
            table.pop(r[key], None)
        else:
            table[r[key]] = {k: v for k, v in r.items() if k != op_col}
    return sorted(
        (tuple(sorted(r.items())) for r in table.values()),
    )


def _as_row_dicts(df):
    return [r.asDict() for r in df.collect()]


MERGE_MATRIX = [
    ("update_only", [(0, "U0"), (1, "U1")]),
    ("insert_only", [(90, "N90")]),
    ("mixed", [(0, "U0"), (91, "N91")]),
    ("empty", []),
]


def test_merge_upsert_matrix_vs_python_oracle(spark):
    """Parquet-simulated MERGE oracle (VERDICT r2 §Next 5): every
    upsert scenario asserted row-for-row against the independent
    pure-Python merge replay."""
    base = load_table(spark, SF_SMOKE, "region")
    cols = base.columns  # r_regionkey, r_name
    for name, changes in MERGE_MATRIX:
        with tempfile.TemporaryDirectory() as d:
            path = f"{d}/region_tbl"
            sinks.overwrite_table(base, path)
            updates = spark.createDataFrame(changes, schema=base.schema)
            sinks.merge_upsert(spark, updates, path, "r_regionkey")
            got = _py_merge(
                _as_row_dicts(sinks.read_table(spark, path)), [], "r_regionkey"
            )
            want = _py_merge(
                _as_row_dicts(base),
                [dict(zip(cols, c)) for c in changes],
                "r_regionkey",
            )
            assert got == want, f"scenario {name}: {got} != {want}"


CDC_MATRIX = [
    ("upsert_and_delete", [(0, "U0", "U"), (2, "x", "D"), (93, "N93", "I")]),
    ("delete_only", [(1, "x", "D")]),
    ("delete_absent_key_is_noop", [(95, "x", "D")]),
    ("all_clauses", [(0, "U0", "U"), (1, "x", "D"),
                     (94, "N94", "I"), (96, "x", "D")]),
    ("empty", []),
]


def test_apply_cdc_matrix_vs_python_oracle(spark):
    """CDC MERGE (upsert + delete clause matrix) asserted against the
    independent pure-Python replay — covers the whenMatchedDelete /
    whenMatchedUpdate / whenNotMatchedInsert semantics that the
    Delta-gated test cannot execute in this sandbox."""
    base = load_table(spark, SF_SMOKE, "region")
    cols = base.columns + ["op"]
    import pyspark.sql.types as T

    ch_schema = T.StructType(
        base.schema.fields + [T.StructField("op", T.StringType())]
    )
    for name, changes in CDC_MATRIX:
        with tempfile.TemporaryDirectory() as d:
            path = f"{d}/region_tbl"
            sinks.overwrite_table(base, path)
            chdf = spark.createDataFrame(changes, schema=ch_schema)
            sinks.apply_cdc(spark, chdf, path, "r_regionkey")
            got = _py_merge(
                _as_row_dicts(sinks.read_table(spark, path)), [], "r_regionkey"
            )
            want = _py_merge(
                _as_row_dicts(base),
                [dict(zip(cols, c)) for c in changes],
                "r_regionkey",
                op_col="op",
            )
            assert got == want, f"scenario {name}: {got} != {want}"


def test_append_snapshot_rejects_offset_stamp(spark):
    """Offset-bearing ISO stamps break lexicographic==chronological
    ordering for latest_ingest's string max — rejected up front."""
    import pytest

    df = load_table(spark, SF_SMOKE, "region")
    with tempfile.TemporaryDirectory() as d:
        with pytest.raises(ValueError, match="offset-naive"):
            sinks.append_snapshot(
                df, f"{d}/log", "2026-01-02T03:04:05+05:00"
            )


def _has_delta() -> bool:
    from data_lakehouse_hygiene_spark.sinks import _HAS_DELTA

    return _HAS_DELTA


def test_merge_upsert_delta_branch(spark):
    """Merge RESULT semantics are asserted against the pure-Python oracle
    on whatever branch ``merge_upsert`` takes — parquet fallback in this
    container (no delta-spark, installs not permitted), DeltaTable.merge
    on a cluster with Delta (the reference's actual storage path,
    clean_sheets.py:70-82). Only the Delta-API observability assertions
    (commit history, time travel) sit behind the skip, so the gate covers
    strictly the Delta API surface, never the merge semantics."""
    import pytest

    base = load_table(spark, SF_SMOKE, "region")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/region_delta"
        sinks.overwrite_table(base, path)
        updates = base.limit(2)
        update_rows = _as_row_dicts(updates)
        sinks.merge_upsert(spark, updates, path, "r_regionkey")
        got = _py_merge(
            _as_row_dicts(sinks.read_table(spark, path)), [], "r_regionkey"
        )
        want = _py_merge(_as_row_dicts(base), update_rows, "r_regionkey")
        assert got == want

        if not _has_delta():
            pytest.skip(
                "delta-spark absent: Delta history/time-travel assertions "
                "skipped (merge result asserted above on the fallback branch)"
            )
        from delta import DeltaTable

        dt = DeltaTable.forPath(spark, path)
        assert dt.history().count() >= 2  # write + merge commits
        v0 = spark.read.format("delta").option("versionAsOf", 0).load(path)
        assert v0.count() == base.count()


def test_fail_soft_missing_source(spark):
    schema = TABLES["region"]
    df = fail_soft(
        spark, schema, lambda: spark.read.schema(schema).parquet("/nonexistent/x")
    )
    assert df.count() == 0
    assert df.schema == schema


def test_stateful_hours_since_marker_matches_batch_asof(spark):
    """The applyInPandasWithState operator must agree with the batch as-of
    join on the same data (single micro-batch ≡ batch semantics)."""
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark.operators import temporal

    ev_stream = streaming.load_stream_table(spark, SF_SMOKE, "events")
    stateful = streaming.hours_since_marker_stateful(ev_stream)
    got_df = streaming.run_to_memory(stateful, output_mode="append")
    got = {
        r["event_id"]: r["hours_since_marker"] for r in got_df.collect()
    }

    ev = load_table(spark, SF_SMOKE, "events")
    markers = ev.where(F.col("event_type") == "signup")
    asof = temporal.asof_join(ev, markers, key="user_id", ts="ts")
    want_rows = asof.select(
        "event_id",
        (
            (F.unix_micros(F.col("ts").cast("timestamp"))
             - F.unix_micros(F.col("asof_ts").cast("timestamp")))
            / F.lit(3.6e9)
        ).alias("h"),
    ).collect()
    want = {r["event_id"]: r["h"] for r in want_rows}

    assert set(got) == set(want)
    for eid, h in want.items():
        g = got[eid]
        if h is None:
            assert g is None or g != g  # NULL or NaN pre-first-marker
        else:
            assert g is not None and abs(g - h) < 1e-9, eid


def test_foreach_batch_recompute_matches_batch(spark):
    """§2.8: the per-micro-batch recompute produces the same 1-row score as
    the batch flagship query."""
    from data_lakehouse_hygiene_spark.operators import scoring

    batch_row = entrymod.entry(spark).collect()[0]
    got = {}

    def recompute(bdf, batch_id):
        if bdf.isEmpty():
            return
        cust = load_table(spark, SF_SMOKE, "customer")
        res = scoring.hygiene_result_single_source(
            activities=bdf,
            dims=cust,
            marker_pred=F.col("event_type") == "signup",
            act_ts="ts",
            act_value="value",
            act_key="user_id",
            dim_key="c_custkey",
            dim_met="c_acctbal",
            dim_category="c_mktsegment",
        )
        got["row"] = res.collect()[0]

    ev = streaming.load_stream_table(spark, SF_SMOKE, "events")
    streaming.foreach_batch_recompute(ev, recompute)
    assert tuple(got["row"]) == tuple(batch_row)


def test_near_dup_stream_suppresses_families(spark, tmp_path):
    """A stream containing an exact dup, a near-dup (one token changed in
    the middle of a long doc), and a distinct doc collapses to one
    fingerprint per family; the distinct doc survives separately."""
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok20", "tokX")  # rolling min-hash likely shared
    rows = [
        (0, base),
        (1, base),        # exact dup of 0
        (2, near),        # near-dup of 0
        (3, " ".join(f"other{i}" for i in range(40))),
    ]
    import pandas as pd

    src = tmp_path / "documents.parquet"
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src)

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(str(tmp_path))
    )
    out = streaming.near_dup_stream(stream)
    got = {
        r["rolling_fp"]
        for r in streaming.run_to_memory(out, output_mode="append").collect()
    }

    from data_lakehouse_hygiene_spark.operators.text import fingerprints

    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {
        r["doc_id"]: r["rolling_fp"] for r in fingerprints(batch).collect()
    }
    assert fps[0] == fps[1]  # exact dup shares the fp by construction
    # the suppression emitted exactly the distinct fingerprint families
    assert got == set(fps.values())
    assert fps[3] in got and len(got) <= 3


def test_streaming_debounce_matches_batch_and_carries_state(spark, tmp_path):
    """Single micro-batch ≡ batch event_debounce; and with the data split
    across TWO micro-batches (in ts order), the carried last-seen state
    must suppress a second-batch event that a stateless restart would have
    re-admitted."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark.operators import temporal

    # batch equivalence on the smoke table
    ev_stream = streaming.load_stream_table(spark, SF_SMOKE, "events")
    got = {
        tuple(r)
        for r in streaming.run_to_memory(
            streaming.debounce_stream(ev_stream, window_s=86400),
            output_mode="append",
        ).collect()
    }
    want = {
        tuple(r)
        for r in temporal.event_debounce(
            load_table(spark, SF_SMOKE, "events"), window_s=86400
        ).collect()
    }
    assert got == want and len(got) > 0

    # two-batch state carry: one parquet file per batch (file stream
    # triggers per file with maxFilesPerTrigger=1)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = dt.timedelta(seconds=1)
    b1 = [(1, 7, "click", t0), (2, 7, "click", t0 + 100 * s)]
    b2 = [(3, 7, "click", t0 + 105 * s), (4, 7, "click", t0 + 300 * s)]
    schema = "event_id long, user_id long, event_type string, ts timestamp_ntz"
    src = str(tmp_path / "ev")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        src + "/f1"
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        src + "/f2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f*")
    )
    out = streaming.run_to_memory(
        streaming.debounce_stream(stream, window_s=60), output_mode="append"
    )
    kept = {r["event_id"]: r["gap_us"] for r in out.collect()}
    # 1 kept (first), 2 kept (100 s), 3 SUPPRESSED only if the 2nd batch
    # saw batch-1 state (gap 5 s), 4 kept (195 s after 3 — measured from
    # the last SEEN event, kept or not)
    assert set(kept) == {1, 2, 4}
    assert kept[1] is None and kept[2] == 100_000_000
    assert kept[4] == 195_000_000


def test_streaming_debounce_state_never_rewinds(spark, tmp_path):
    """A late-arriving micro-batch must not rewind the last-seen state:
    the event after it is still measured against the LATEST event seen."""
    import datetime as dt
    import time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = dt.timedelta(seconds=1)
    schema = "event_id long, user_id long, event_type string, ts timestamp_ntz"
    src = str(tmp_path / "ev")
    batches = [
        [(1, 7, "click", t0 + 1000 * s)],
        [(2, 7, "click", t0 + 500 * s)],   # late: suppressed, no rewind
        [(3, 7, "click", t0 + 1030 * s)],  # 30 s after the LATEST seen
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
        time.sleep(1.1)  # distinct mtimes: file-stream batch order
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f*")
    )
    out = streaming.run_to_memory(
        streaming.debounce_stream(stream, window_s=60), output_mode="append"
    )
    kept = {r["event_id"] for r in out.collect()}
    # 2 is within 60 s measured backward (negative gap) -> suppressed;
    # 3 is 30 s after event 1 (the latest seen) -> suppressed; a rewound
    # state would have measured 3 against 2 (530 s) and emitted it
    assert kept == {1}


# Stateful dedup rows → (table, stream body as the registry row builds
# it). Each row's output is a set of keys or unique events, so it does
# not depend on arrival order.
_RESTART_ROWS = {
    "streaming_dedup": (
        "events",
        lambda s: streaming.dedup_stream(s, ["event_id"]).select(
            "event_id", "user_id", "event_type"
        ),
    ),
    "streaming_near_dup": ("documents", streaming.near_dup_stream),
    "streaming_line_dedup": ("documents", streaming.line_dedup_stream),
}


@pytest.mark.parametrize("name", sorted(_RESTART_ROWS))
def test_dedup_stream_restart_equals_one_run(spark, tmp_path, name):
    """Restart from checkpoint: the first half of the table (in event-time
    order) runs with a checkpoint and stops; then a second file lands —
    the whole table, so it replays the first half — and the query
    restarts from the checkpoint. The restored state must suppress the
    replay: the two runs together emit exactly what one run over both
    files emits. The later half is never behind the watermark, so no row
    is dropped as late."""
    table, body = _RESTART_ROWS[name]
    rows = load_table(spark, SF_ORACLE, table)
    if table == "documents":
        rows = rows.select(
            "doc_id",
            F.regexp_replace("text", entrymod._PSEUDO_LINE_PAT, "$1\n").alias(
                "text"
            ),
        )
    order = "ts" if table == "events" else "doc_id"  # the event time
    src = tmp_path / "src"
    src.mkdir()

    def land(df, name_):
        stage = str(tmp_path / f"stage_{name_}")
        df.coalesce(1).write.parquet(stage)
        [part] = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(f"{stage}/{part}", src / f"{name_}.parquet")

    def run(out: str) -> None:
        stream = spark.readStream.schema(rows.schema).parquet(str(src))
        q = (
            body(stream).writeStream.format("parquet")
            .option("path", str(tmp_path / out))
            .option("checkpointLocation", str(tmp_path / f"{out}_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def result(out: str) -> list:
        return sorted(
            tuple(r) for r in spark.read.parquet(str(tmp_path / out)).collect()
        )

    land(rows.sort(order).limit(rows.count() // 2), "a")
    run("restarted")
    first = result("restarted")
    land(rows, "b")
    run("restarted")
    run("one_run")
    one_run = result("one_run")
    assert len(set(one_run)) == len(one_run)  # the replay was suppressed
    assert 0 < len(first) < len(one_run)
    assert result("restarted") == one_run
