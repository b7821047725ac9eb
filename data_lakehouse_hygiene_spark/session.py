"""SparkSession factory.

The reference pins a timezone by hand (tz-stripping after Delta reads,
``/root/reference/elt/prescriptive/prescriptive_logic.py:43-47`` and faking
WITA local time at ``:57-59``). Our engine pins the *session* timezone once,
here, and treats every stored timestamp as timezone-naive UTC — so results
collected from Spark match a naive-timestamp oracle (DuckDB) bit for bit.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime partition coalescing + skew-join splitting.
- ``spark.sql.shuffle.partitions`` is a *local* default; on a real cluster
  AQE's ``advisoryPartitionSizeInBytes`` governs post-shuffle sizing.
- ANSI mode off: the reference's semantics are coerce-to-NULL
  (``pd.to_numeric(errors="coerce")``); we additionally use try_cast /
  try_to_timestamp everywhere so the operators are correct under either
  ANSI setting.
- ``spark.sql.legacy.sizeOfNull`` off, pinned beside ANSI: with ANSI off
  Spark's legacy rule makes ``size(NULL)`` -1, where the oracle's
  ``len(NULL)`` is NULL. A NULL text's token array is NULL, so every
  token count the text operators derive from it must be NULL too; one
  session rule gives that to all of them, with no per-operator guard.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow transfer granularity for mapInPandas. The default 10k rows/batch
# is fine for scalar columns but fatal for binary payload columns: the
# JVM re-batches between CHAINED Python ops at this size, so 10k-row
# batches of 12 KB media payloads put ~120 MB per task in flight
# JVM-side (x32 tasks OOM'd a 24 GiB heap at the 500k-doc rehearsal) no
# matter how small the kernels' own yields are. 1k rows keeps payload
# batches ~12 MB; the extra per-batch round-trips are noise for scalar
# workloads (grouped applyInPandas is NOT affected — groups ship whole
# regardless of this conf).
ARROW_BATCH_ROWS = 1024

# Whole-stage-codegen class cache (STATIC conf — must be set at session
# build; a driver-owned session keeps its own default). The default 100
# entries thrashes on any many-query workload: the 55-query bench
# generates ~820 codegen units, so EVERY warm pass re-ran ~820 Janino
# compiles (~9 ms each, measured via
# CodegenMetrics.METRIC_COMPILATION_TIME). At 8192 entries warm passes
# compile 2-4 units; an A/B/A across processes measured 34 s
# steady-state passes vs 54-97 s. Cache memory is generated bytecode
# (KBs/class) — tens of MB at this size, the right trade for any
# long-lived multi-query application.
CODEGEN_CACHE_ENTRIES = 8192

# Collector and C2 thresholds of the driver JVM, which in local mode is
# the only executor (TUNING.md, "Local JVM options"). defaultJavaOptions,
# not extraJavaOptions: ``--driver-java-options`` sets the latter and
# would replace these flags instead of adding to them.
DRIVER_DEFAULT_JAVA_OPTIONS = " ".join([
    "-XX:+UseParallelGC",
    # C2 invocation thresholds 3x the JDK's: a short-lived process never
    # earns back C2 compiles of lukewarm planner methods.
    "-XX:Tier4InvocationThreshold=15000",
    "-XX:Tier4MinInvocationThreshold=1800",
    "-XX:Tier4CompileThreshold=45000",
])


def get_spark(
    app_name: str = "data-lakehouse-hygiene-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.sizeOfNull", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Parallel GC, not G1: Tungsten pages (1-64 MiB) are at least half
        # a G1 region at local heap sizes, so each is a humongous object
        # and can start a concurrent-mark cycle; and C2 takes ~20% longer
        # per method when it must compile G1's barriers.
        .config("spark.driver.defaultJavaOptions", DRIVER_DEFAULT_JAVA_OPTIONS)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        # Keep catalog artifacts (bucketed saveAsTable) out of the repo dir.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-graft-warehouse"),
        )
    )
    return builder.getOrCreate()


def pin_session(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on a session we did not create.

    The verification driver owns its own SparkSession; correctness of our
    declared queries must not depend on its defaults. Everything set here is
    runtime-configurable (no SparkContext restart needed).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Streaming aggregations bypass AQE's partition coalescing, so an
    # unpinned 200-partition default burns 200 tiny tasks per micro-batch
    # on a driver-owned session; pin to the local core count.
    spark.conf.set(
        "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    # Payload-column Arrow batches must stay small on ANY session that
    # runs the multimodal queries — see ARROW_BATCH_ROWS.
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
    )
    # Deliberate session-wide pin (not restored): schemas.load_table reads
    # TIMESTAMP(NANOS) parquet columns as raw longs under this flag, and the
    # flag must still be set when the (lazy) scan actually EXECUTES —
    # restoring it right after plan construction would flip behavior mid-
    # query. Effect on the host session: later TIMESTAMP(NANOS) reads yield
    # BIGINT instead of erroring; MILLIS/MICROS columns are unaffected.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
