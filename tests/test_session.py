"""Session factory: JVM options that only a fresh driver JVM can show."""

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
mf = spark._jvm.java.lang.management.ManagementFactory
print(json.dumps({
    "collectors": [b.getName() for b in mf.getGarbageCollectorMXBeans()],
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
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
