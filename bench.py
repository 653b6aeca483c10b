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
* ``steal`` = host-wide steal seconds during the sample (cycles the
  hypervisor gave to other guests).

Stage totals come from the status store and process-tree CPU from
/proc (``tools/runstats.py``, ``perfbench/procs.py``); the UI stays off.

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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from entity_deduplication_spark.datagen import ensure_clips_parquet  # noqa: E402
from entity_deduplication_spark.plans.pipeline import DedupPipeline  # noqa: E402
from entity_deduplication_spark.session import get_spark  # noqa: E402
from perfbench.procs import tree_cpu_s  # noqa: E402
from tools.runstats import (  # noqa: E402
    RETAIN_STAGES,
    current_round,
    host_cpu_s,
    stage_totals,
)

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


def _sample(spark: SparkSession, action, cores: int) -> dict:
    """Run ``action`` once with cleared cache; return wall + context."""
    spark.catalog.clearCache()
    run0, _ = stage_totals(spark)
    tree0 = tree_cpu_s()
    busy0, steal0 = host_cpu_s()
    t0 = time.time()
    action()
    wall = time.time() - t0
    busy1, steal1 = host_cpu_s()
    tree1 = tree_cpu_s()
    run1, _ = stage_totals(spark)
    tree = tree1 - tree0
    occ = (run1 - run0) / (wall * cores) if wall > 0 else 0.0
    ext = max(0.0, (busy1 - busy0) - tree) / wall if wall > 0 else 0.0
    return {
        "wall": round(wall, 3),
        "occ": round(occ, 3),
        "tree_cpu": round(tree, 1),
        "ext_load": round(ext, 1),
        "steal": round(steal1 - steal0, 1),
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
    spark = get_spark(app_name="dedup-bench", extra_conf=RETAIN_STAGES)
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
    rnd = current_round(REPO)
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
