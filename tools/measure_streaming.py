"""Measure the streaming family (round-15 / round-14 verdict item 6):
per declared streaming row, availableNow end-to-end wall (median of
reps) plus state-store totals (rows, memory) from the final
StreamingQueryProgress of every query the row starts.

Usage: python tools/measure_streaming.py [sf_dir] [reps]
Writes one line per row; paste into SCALING.md's STREAMING section.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from ab import interleave, noop  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402

ROWS = [
    "streaming_time_bucket",
    "streaming_sliding_window",
    "streaming_session_window",
    "streaming_dedup",
    "streaming_debounce",
    "streaming_join",
    "streaming_enrich",
    "streaming_near_dup",
    "streaming_line_dedup",
    "streaming_heavy_hitters",
]


class FinalProgress(StreamingQueryListener):
    """The last progress record of every streaming query started since
    the previous ``drain``, read from Spark's listener bus — the rows run
    through the real ``streaming.run_to_memory``."""

    def __init__(self, spark):
        self.spark = spark
        self.last: dict[str, dict] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.last[str(event.progress.runId)] = json.loads(event.progress.json)

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.last = list(self.last.values()), {}
        return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="measure_streaming")
    spark.sparkContext.setLogLevel("ERROR")
    listener = FinalProgress(spark)
    spark.streams.addListener(listener)
    qs = entrymod.queries()
    results = {}
    for name in ROWS:
        if name not in qs:
            continue
        # warmup (also captures state metrics)
        listener.drain()
        n_out = qs[name](spark, sf_dir).count()
        state_rows = 0
        state_mem = 0
        batches = 0
        for p in listener.drain():
            batches += 1
            for so in p.get("stateOperators", []):
                state_rows += so.get("numRowsTotal", 0)
                state_mem += so.get("memoryUsedBytes", 0)
        timed = interleave(
            {name: lambda: noop(qs[name](spark, sf_dir))}, reps
        )[name]
        results[name] = {
            "median_sec": timed["median"],
            "runs": timed["sec"],
            "out_rows": n_out,
            "state_rows_total": state_rows,
            "state_memory_bytes": state_mem,
            "queries_started": batches,
        }
        print(name, json.dumps(results[name]))
    print(json.dumps({"sf_dir": sf_dir, "results": results}))


if __name__ == "__main__":
    main()
