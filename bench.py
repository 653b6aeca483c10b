"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline = the flagship audio dedup pipeline (clips/sec) + representative
operator queries from __spark_entry__ (dedup, ANN, text analysis, windowed
events, relational aggregates) at the chosen SF.

Noise defense (this host is a shared VM whose wall-clock swings up to 3x
on identical work): every query and the flagship run BENCH_SAMPLES times
(default 3) with ``clearCache`` between samples; the reported number is
the MEDIAN, and each sample carries its own interference context —

* ``occ``  = sum(executorRunTime) / (wall x cores): task-slot occupancy,
  the engine's plan property, preemption-IMMUNE (a preempted task still
  occupies its slot). Low wall + high occ = genuinely fast; high wall +
  high occ = the host withheld cycles, not the plan.
* ``tree_cpu`` = process-tree CPU consumed (JVM + pyspark workers +
  driver, from /proc) — the honest work number (Spark's executorCpuTime
  misses Python-worker cycles).
* ``ext_load`` = host-wide busy cores NOT attributable to this process
  tree during the sample — direct co-tenant pressure.

So BENCH_r{N}.json is self-adjudicating: a slow sample with high
occupancy and high external load is host noise; a slow sample with low
occupancy would be a real plan regression.

Artifact split (round-5 fix): the stdout line must stay small enough for
the driver's tail capture (round 4's inline per-sample detail overflowed
it and the official artifact parsed as null), so stdout now carries only
the compact headline (median per query + flagship clips/s + median
occ/ext_load) and the full per-sample detail is written to
``BENCH/DETAIL_r{N}.json`` (path echoed in the compact JSON).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from entity_deduplication_spark.datagen import ensure_clips_parquet  # noqa: E402
from entity_deduplication_spark.plans.pipeline import DedupPipeline  # noqa: E402
from entity_deduplication_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "dedup_ngram_jaccard_pairs",
    "dedup_minhash_lsh_clusters",
    "dedup_simhash_pairs",
    "ann_cosine_topk",
    "ann_lsh_topk",
    # embedding_near_dup_pairs (cos>=0.35) auto-routes to the chunk-grid
    # exact path (LSH selectivity is structurally poor at low thresholds);
    # the hi (cos>=0.9) variant takes the tuned-RHP LSH path.
    "embedding_near_dup_pairs",
    "embedding_near_dup_pairs_hi",
    "fuzzy_part_name_pairs",
    "clustering_agreement",
    "text_stats",
    "doc_quality",
    "events_hourly",
    "sessionize",
    "q1_pricing_summary",
    "top_orders_per_customer",
    "region_rollup",
]

N_SAMPLES = int(os.environ.get("BENCH_SAMPLES", "3"))

REPO = os.path.dirname(os.path.abspath(__file__))


def _current_round() -> int:
    """Infer the active round: one past the newest BENCH_r{N}.json the
    driver has recorded (overridable via $SPARK_GRAFT_ROUND)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [0]
    for f in os.listdir(REPO):
        if f.startswith("BENCH_r") and f.endswith(".json"):
            try:
                rounds.append(int(f[len("BENCH_r"):-len(".json")]))
            except ValueError:
                continue
    return max(rounds) + 1


# ---------------------------------------------------------------------------
# interference-context collectors (same decomposition as
# tools/scaling_bench.py — see BENCH/BASELINE.md for the derivation)
# ---------------------------------------------------------------------------

def _stage_run_ms(sc) -> float:
    """Cumulative executorRunTime (ms) over completed stages via the UI
    REST API — the only public surface for per-stage task metrics."""
    try:
        url = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            "/stages?status=complete"
        )
        with urllib.request.urlopen(url, timeout=30) as r:
            stages = json.load(r)
        return float(sum(s.get("executorRunTime", 0) for s in stages))
    except Exception:
        return float("nan")


def _tree_cpu_s() -> float:
    """CPU-seconds consumed by THIS process and all its descendants
    (utime+stime+reaped children) — JVM, pyspark daemon/workers, driver."""
    hz = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    ppid_of: dict[int, int] = {}
    cpu_of: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        p = int(pid)
        ppid_of[p] = int(rest[1])
        cpu_of[p] = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    total = 0
    for p in cpu_of:
        q = p
        seen = set()
        while q > 1 and q not in seen:
            if q == me:
                total += cpu_of[p]
                break
            seen.add(q)
            q = ppid_of.get(q, 0)
    return total / hz


def _host_busy_s() -> float:
    """Host-wide busy CPU-seconds so far (all cores, all tenants)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    idle = vals[3] + vals[4]
    return (sum(vals) - idle) / hz


def _sample(spark: SparkSession, action, cores: int) -> dict:
    """Run ``action`` once with cleared cache; return wall + context."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    run0 = _stage_run_ms(sc)
    tree0 = _tree_cpu_s()
    busy0 = _host_busy_s()
    t0 = time.time()
    action()
    wall = time.time() - t0
    busy1 = _host_busy_s()
    tree1 = _tree_cpu_s()
    run1 = _stage_run_ms(sc)
    # the UI's completed-stage store is bounded by spark.ui.retainedStages
    # (raised in the bench session conf, but clamp anyway): a rollover
    # between run0 and run1 would make the delta negative/undercounted
    run_s = max(0.0, (run1 - run0)) / 1e3
    tree = tree1 - tree0
    occ = run_s / (wall * cores) if wall > 0 else 0.0
    ext = max(0.0, (busy1 - busy0) - tree) / wall if wall > 0 else 0.0
    return {
        "wall": round(wall, 3),
        "occ": round(occ, 3),
        "tree_cpu": round(tree, 1),
        "ext_load": round(ext, 1),
    }


def _median_run(spark: SparkSession, action, cores: int) -> tuple[float, list[dict]]:
    samples = [_sample(spark, action, cores) for _ in range(N_SAMPLES)]
    med = statistics.median(s["wall"] for s in samples)
    return med, samples


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    # UI on (random port): needed for the occupancy collector's REST API
    spark = get_spark(
        app_name="dedup-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            # occupancy reads cumulative executorRunTime from the UI's
            # completed-stage store; the default retainedStages=1000 rolls
            # over mid-bench and corrupts the delta (ADVICE r4)
            "spark.ui.retainedStages": "100000",
        },
    )
    # get_spark decides the local core count; occupancy divides by it
    cores = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warm

    timings: dict[str, float] = {}
    detail: dict[str, list[dict]] = {}
    qs = entry_mod.queries()
    for name in BENCH_QUERIES:
        med, samples = _median_run(
            spark, lambda name=name: _noop(qs[name](spark, sf_dir)), cores
        )
        timings[name] = round(med, 3)
        detail[name] = samples

    # flagship: full audio dedup pipeline, median of N_SAMPLES
    n_clips = max(2000, int(80_000 * sf))
    clips_path, _ = ensure_clips_parquet(n_clips)
    clips = spark.read.parquet(clips_path)

    def _flagship() -> None:
        _noop(DedupPipeline(spark).run(clips).clusters)

    med, samples = _median_run(spark, _flagship, cores)
    timings["dedup_pipeline"] = round(med, 3)
    detail["dedup_pipeline"] = samples
    best = min(s["wall"] for s in samples)

    total = round(sum(timings.values()), 3)
    # per-sample interference context (occ = task-slot occupancy,
    # preemption-immune; tree_cpu = this job's CPU-s; ext_load =
    # co-tenant busy cores) goes to a side file — inlining it in round 4
    # overflowed the driver's tail capture and the artifact parsed null
    rnd = _current_round()
    detail_path = os.path.join(REPO, "BENCH", f"DETAIL_r{rnd:02d}.json")
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(
            {"sf": sf, "cpus": cores, "n_samples": N_SAMPLES, "samples": detail},
            f,
            indent=1,
        )
    flagship = detail["dedup_pipeline"]
    print(
        json.dumps(
            {
                "metric": "end_to_end_bench_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": {
                    "n_samples_per_query": N_SAMPLES,
                    "aggregation": "median",
                    "dedup_clips": n_clips,
                    "dedup_clips_per_sec": round(n_clips / med, 1),
                    "dedup_clips_per_sec_best": round(n_clips / best, 1),
                    "cpus": str(cores),
                    # flagship adjudication context only; full per-sample
                    # detail for every query lives in detail_path
                    "flagship_occ": statistics.median(
                        s["occ"] for s in flagship
                    ),
                    "flagship_ext_load": statistics.median(
                        s["ext_load"] for s in flagship
                    ),
                    "detail_path": os.path.relpath(detail_path, REPO),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
