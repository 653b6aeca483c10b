"""Layered benchmark of the dedup engine.

    python3 perfbench/run.py --workload full_dedup --seed 1 --seconds 12 --trace 0

One driver process on local[<usable cores>], one operation at a time
(closed loop, one client). Set-up (timed as ``setup_s``): Spark session
start and the seeded inputs built three times (median). Then operations
repeat until ``--seconds`` have passed, at least one, and their medians
are reported. The first operation runs in the fresh session, as every
CLI invocation does: it pays JVM JIT warm-up and Python worker start.
``--trace 1`` then adds one traced operation (a span per layer call,
Spark counters from the status stores), the kernel microbenchmarks and
one untraced reference operation, in the warm session, and reports the
per-layer metrics instead of the end-to-end ones. Every operation's
output goes through the workload's gate after its timing stops; a failed
gate or an exception is a failed operation.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the metric names and units of BENCHMARK.json. Everything the run
writes lives under ``<checkout>/.perfbench/``; spans of a traced run are
kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")
INPUT_BUILDS = 3
# tuning knobs session.get_spark reads from the environment; cleared so
# the benchmark always measures the engine's own defaults (8g driver heap,
# its malloc thresholds and Arrow pool, 64k minimum coalesced partition)
ENGINE_ENV = (
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_MIN_COALESCED_PARTITION",
    "MALLOC_MMAP_THRESHOLD_",
    "MALLOC_TRIM_THRESHOLD_",
    "ARROW_DEFAULT_MEMORY_POOL",
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale",
        choices=("full", "smoke"),
        default="full",
        help="smoke = tiny inputs, for the benchmark's own test",
    )
    return p.parse_args(argv)


def prepare_environment(work_dir: str) -> None:
    """Point this process, the Spark JVM and its Python workers at the
    checkout, and keep every scratch file inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for var in ENGINE_ENV:
        os.environ.pop(var, None)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work_dir: str):
    from entity_deduplication_spark.session import get_spark

    from spans import status_settings

    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        **status_settings(),
    }
    return get_spark(
        app_name="perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf
    )


def stop_session(spark) -> list[int]:
    """Stop Spark, close the JVM gateway, and wait for the JVM and every
    Python worker to end. Returns pids that would not end."""
    from pyspark import SparkContext

    import procs

    pids = procs.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    return procs.wait_gone(pids, timeout_s=30)


class Ledger:
    """Attempted and failed operations, and the gate results."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.results: list[dict] = []

    def record_exception(self) -> None:
        self.failed += self.wl.ops_per_run
        self.errors.append(traceback.format_exc())
        print(self.errors[-1], file=sys.stderr)

    def fail(self, msg: str) -> None:
        """A failed check of the run itself (counted as one operation)."""
        self.failed += 1
        self.errors.append(msg)
        print(msg, file=sys.stderr)

    def attempt(self, fn, *args):
        """Run one workload operation; returns its output, or None when
        it raised (a failed operation)."""
        self.attempted += self.wl.ops_per_run
        try:
            return fn(*args)
        except Exception:
            self.record_exception()
            return None

    def gate(self, out) -> dict | None:
        """Check one operation's output; returns the gate result, or None
        when the check raised."""
        try:
            result = self.wl.check(out)
        except Exception:
            self.record_exception()
            return None
        self.failed += result["failed_ops"]
        self.errors += result["errors"]
        self.results.append(result)
        return result


def determinism_errors(wl, results: list[dict]) -> list[str]:
    """Without a recorded value for this seed, every operation of the run
    must at least agree with the first one."""
    if wl.expected is not None or len(results) < 2:
        return []
    first = wl.record_value(results[0])
    return [
        f"operation {i} output differs from operation 0"
        for i, r in enumerate(results[1:], 1)
        if wl.record_value(r) != first
    ]


def timed_operation(wl, ledger: Ledger, i) -> dict | None:
    """One untraced operation, then its gate; returns its wall, process
    tree CPU seconds and whether it passed, or None when it raised."""
    import procs

    cpu0, t0 = procs.tree_cpu_s(), time.perf_counter()
    out = ledger.attempt(wl.run_once, i)
    wall, cpu = time.perf_counter() - t0, procs.tree_cpu_s() - cpu0
    result = None if out is None else ledger.gate(out)
    wl.spark.catalog.clearCache()
    if out is None:
        return None
    return {"wall": wall, "cpu": cpu, "passed": bool(result) and not result["errors"]}


def measure(wl, ledger: Ledger, seconds: float) -> list[dict]:
    """Untraced operations until ``seconds`` have passed (at least one);
    returns those that did not raise."""
    ops: list[dict] = []
    start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - start < seconds:
        op = timed_operation(wl, ledger, i)
        if op is not None:
            ops.append(op)
        i += 1
    return ops


def median_or_none(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def end_to_end_metrics(wl, ledger: Ledger, ops: list[dict], setup_s: float) -> dict:
    """Medians over the operations that passed their gate; when none did,
    over those that finished (the run then reports ``correct: false``);
    None when no operation finished."""
    ops = [o for o in ops if o["passed"]] or ops
    wall = median_or_none(o["wall"] for o in ops)
    quality = [r for r in ledger.results if "pair_recall" in r]
    return {
        "wall_s": wall,
        "records_per_s": None if wall is None else wl.records / wall,
        "cpu_s": median_or_none(o["cpu"] for o in ops),
        "setup_s": setup_s,
        "pair_recall": median_or_none(r["pair_recall"] for r in quality),
        "pair_precision": median_or_none(r["pair_precision"] for r in quality),
    }


def traced_metrics(wl, ledger: Ledger, names: list[str]) -> dict:
    """One traced operation, then one untraced reference operation, both
    in the warm session; returns every per-layer metric value. The
    reference runs second: the session is still warming up, and a
    reference run first read slower than the traced operation. A metric
    of the other workload reads 0 (its layer did no work); one the
    workload owns but did not produce fails the run and reads None."""
    from spans import Tracer

    tracer = Tracer(wl.spark)
    since = tracer.mark()
    t0 = time.perf_counter()
    with tracer.span("run") as root:
        traced_out = ledger.attempt(wl.run_traced, tracer, "traced")
    traced_wall = time.perf_counter() - t0
    values: dict = {}
    produced = traced_out is not None
    if produced:
        try:
            values = layer_values(wl, ledger, tracer, since, traced_out)
        except Exception:
            ledger.record_exception()
            produced = False
        values["run.uncovered_s"] = tracer.self_time(root)
    # after the span counters are read: its jobs belong to no span
    reference = timed_operation(wl, ledger, "reference")
    if traced_out is not None:
        if reference is not None:
            values["run.tracing_overhead_s"] = traced_wall - reference["wall"]
        os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(STATE_DIR, "traces", f"{wl.name}-seed{wl.seed}.json"),
            {
                "workload": wl.name,
                "seed": wl.seed,
                "traced_wall_s": traced_wall,
                "reference_wall_s": reference and reference["wall"],
            },
        )
    missing = [n for n in names if wl.owns_metric(n) and n not in values]
    stray = [n for n in names if not wl.owns_metric(n) and n in values]
    if produced and missing:
        ledger.fail(f"traced run did not produce {missing}")
    if stray:
        ledger.fail(f"traced run produced metrics of another workload: {stray}")
    return {
        n: float(values[n]) if n in values else (None if wl.owns_metric(n) else 0.0)
        for n in names
    }


def layer_values(wl, ledger: Ledger, tracer, since, traced_out) -> dict:
    """Per-layer values of one finished traced operation; gates its
    output and checks that the span counters add up to the run's."""
    from spans import COUNTERS

    out, traced = traced_out
    totals = tracer.attribute(since)
    sums = {c: sum(s[c] for s in tracer.spans) for c in ("jobs", "tasks")}
    if totals["unattributed_jobs"] or sums != {k: totals[k] for k in sums}:
        ledger.fail(f"span counters do not add up: spans {sums}, run {totals}")
    values = {}
    for span in tracer.spans[1:]:
        values[f"{span['name']}.wall_s"] = tracer.self_time(span)
        for c in COUNTERS:
            values[f"{span['name']}.{c}"] = span[c]
    for name, rows in traced["rows"].items():
        values[f"{name}.rows_out"] = rows
    values.update(wl.layer_ratios(traced))
    values.update(wl.kernels(traced))
    ledger.gate(out)
    wl.spark.catalog.clearCache()
    root = tracer.spans[0]
    cores = len(os.sched_getaffinity(0))
    values.update(
        {
            "run.jobs": totals["jobs"],
            "run.tasks": totals["tasks"],
            "run.occupancy": totals["executor_run_s"]
            / ((root["end"] - root["start"]) * cores),
        }
    )
    return values


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    work_dir = os.path.join(STATE_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    prepare_environment(work_dir)
    import entity_deduplication_spark  # noqa: F401  (fails outside a checkout)

    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work_dir)
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, work_dir)
        builds = []
        for _ in range(INPUT_BUILDS):
            t = time.perf_counter()
            wl.build_inputs()
            builds.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(builds)
        ledger = Ledger(wl)

        ops = measure(wl, ledger, args.seconds)
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            values = traced_metrics(wl, ledger, names)
        else:
            names = [m["name"] for m in spec["end_to_end"]]
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = end_to_end_metrics(wl, ledger, ops, setup_s)
        drift = determinism_errors(wl, ledger.results)
        ledger.errors += drift
        ledger.failed += len(drift)
        sizes = wl.sizes()
    finally:
        stuck = stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    if stuck:
        raise RuntimeError(f"processes did not end: {stuck}")

    info = {
        "workload": wl.name,
        "seed": args.seed,
        "scale": args.scale,
        "cores": len(os.sched_getaffinity(0)),
        "inputs": sizes,
        "recorded_seed": wl.expected is not None,
        "setup": {"session_s": session_s, "input_builds_s": builds},
        "operation_walls_s": [o["wall"] for o in ops],
        "outputs": wl.record_value(ledger.results[0]) if ledger.results else None,
        "errors": ledger.errors,
    }
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
