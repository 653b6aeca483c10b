"""Run accounting for bench.py and tools/scale_run.py.

* ``stage_totals``: executor run and CPU time summed over the session's
  completed stages, read from Spark's in-process status store (the UI
  server stays off, as ``session.get_spark`` leaves it);
* ``host_cpu_s``: host-wide busy and steal seconds from /proc/stat;
* ``current_round``: the BENCH_rNN rule that names the tools' outputs.

Process-tree CPU (JVM, pyspark daemon and Python workers) comes from
``perfbench.procs.tree_cpu_s``.
"""

from __future__ import annotations

import os

# Stage totals are deltas of a sum over the stages the store keeps; the
# default (1000) drops the oldest mid-run and the delta undercounts.
RETAIN_STAGES = {"spark.ui.retainedStages": "100000"}


def stage_totals(spark) -> tuple[float, float]:
    """(executorRunTime s, executorCpuTime s) summed over COMPLETE stages."""
    sc = spark.sparkContext
    jvm = sc._jvm
    ctx = sc._jsc.sc()
    ctx.listenerBus().waitUntilEmpty()
    # Py4J fills in no Scala default argument: pass all five
    stages = ctx.statusStore().stageList(
        jvm.java.util.Collections.singletonList(
            jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE
        ),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.Collections.emptyList(),
    )
    run_ms = cpu_ns = 0
    for i in range(stages.size()):
        st = stages.apply(i)
        run_ms += st.executorRunTime()
        cpu_ns += st.executorCpuTime()
    return run_ms / 1e3, cpu_ns / 1e9


def host_cpu_s() -> tuple[float, float]:
    """(busy s, steal s) so far over all cores and tenants; busy is every
    state but idle and iowait, so it includes steal."""
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal
        vals = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (sum(vals) - vals[3] - vals[4]) / hz, vals[7] / hz


def current_round(repo: str) -> int:
    """One past the newest BENCH_r{N}.json in ``repo``; $SPARK_GRAFT_ROUND
    overrides it."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [0]
    for f in os.listdir(repo):
        if f.startswith("BENCH_r") and f.endswith(".json"):
            try:
                rounds.append(int(f[len("BENCH_r") : -len(".json")]))
            except ValueError:
                continue
    return max(rounds) + 1
