"""session.get_spark: the driver JVM's flags and the local core count."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
C1_ONLY = "-XX:TieredStopAtLevel=1"
# without tiering the JVM's default code cache is 48 MB, not 240 MB
CODE_CACHE = "-XX:ReservedCodeCacheSize=240m"


# Runs in a fresh interpreter: the master and the JVM's flags are fixed
# when the JVM starts, and the session fixture's JVM is already running.
PROBE = """
import json, os, sys
os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:2])
sys.path.insert(0, os.getcwd())
from pyspark import SparkContext
from entity_deduplication_spark.session import get_spark

spark = get_spark(
    app_name="session-probe",
    extra_conf={"spark.driver.extraJavaOptions": "-Ddedup.probe=1"},
)
sc = spark.sparkContext
mx = sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
out = {
    "args": list(mx.getInputArguments()),
    "master": sc.master,
    "parallelism": sc.defaultParallelism,
}
gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
gateway.proc.wait(timeout=60)
print(json.dumps(out))
"""


@pytest.mark.skipif(len(os.sched_getaffinity(0)) < 2, reason="needs 2 CPUs")
def test_default_cores_follow_affinity_and_keep_caller_java_options():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    proc = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert C1_ONLY in out["args"]
    assert CODE_CACHE in out["args"]
    assert "-Ddedup.probe=1" in out["args"]
    assert out["master"] == "local[2]"
    assert out["parallelism"] == 2
