"""Session factory: JVM options that only a fresh driver JVM can show, and
the SQL confs that ``get_spark`` and ``pin_session`` pin."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import REPO

# Runs in a child process: the suite's shared session already owns a JVM,
# and JVM options apply only when get_spark launches one.
_PROBE = """
import json
from data_lakehouse_hygiene_spark.session import get_spark

spark = get_spark(app_name="test_session", master="local[1]")
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
hotspot = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({
    "collectors": [b.getName() for b in mf.getGarbageCollectorMXBeans()],
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "tier4": {n: hotspot.getVMOption(n).getValue() for n in (
        "Tier4InvocationThreshold", "Tier4MinInvocationThreshold",
        "Tier4CompileThreshold", "Tier4BackEdgeThreshold")},
}))
spark.stop()
"""


def test_driver_jvm_runs_parallel_gc_beside_driver_java_options():
    env = dict(
        os.environ,
        # the path perfbench takes: --driver-java-options sets
        # spark.driver.extraJavaOptions, which must not drop the collector
        PYSPARK_SUBMIT_ARGS="--driver-java-options -Dprobe=1 pyspark-shell",
        SPARK_DRIVER_MEMORY="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    probe = json.loads(out.strip().splitlines()[-1])
    assert sorted(probe["collectors"]) == ["PS MarkSweep", "PS Scavenge"]
    assert "-Dprobe=1" in probe["args"]
    assert "-XX:+UseParallelGC" in probe["args"]
    # effective values: C2 invocation thresholds 3x the JDK's, back-edge
    # threshold at its default
    assert probe["tier4"] == {
        "Tier4InvocationThreshold": "15000",
        "Tier4MinInvocationThreshold": "1800",
        "Tier4CompileThreshold": "45000",
        "Tier4BackEdgeThreshold": "40000",
    }


def test_size_of_null_is_pinned_off(spark):
    """``size(NULL)`` must be NULL, as the oracle's ``len(NULL)``: with ANSI
    off, Spark's legacy rule returns -1. ``get_spark`` builds the session
    with the pin, and ``pin_session`` sets it again on a session that
    turned it back on."""
    from data_lakehouse_hygiene_spark.session import pin_session

    assert spark.sparkContext.getConf().get("spark.sql.legacy.sizeOfNull") == "false"
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    try:
        pin_session(spark)
        assert spark.conf.get("spark.sql.legacy.sizeOfNull") == "false"
        got = spark.sql("SELECT size(split(CAST(NULL AS STRING), ' ')) AS n").first()
        assert got["n"] is None
    finally:
        spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
