"""Scale samples of the flagship pipeline, one per core level.

Usage: python tools/scale_run.py <n_clips> [cores ...]

The tool materializes ``n_clips`` as chunk parquet files (``chunk_cache``:
a shared cache from which every run size reads the prefix it needs) and
starts no Spark itself. Each core level then runs once, in turn, in a
fresh interpreter and JVM (``fresh_sample`` of ``run_sample``):
``DedupPipeline`` over the chunk files at local[cores], or at the cores
``session.get_spark`` picks when no level is given. Each sample is
appended to BENCH/SCALE_rNN.json (``runstats.current_round``) and
printed as one RESULT line:

    wall_s, clips_per_sec     the run, read plan to clusters written
    exec_run_s, exec_cpu_s    executor run and CPU time of its stages
                              (``runstats.stage_totals``)
    tree_cpu_s                CPU of the JVM, the pyspark daemon and the
                              Python workers (``perfbench.procs``)
    occupancy = exec_run_s / (wall_s * cores)
                              how full the engine keeps its task slots; a
                              preempted task still holds its slot
    delivery  = tree_cpu_s / exec_run_s
                              CPU the host delivered per occupied
                              slot-second: the host's share, not the plan's
    host_busy_s, host_steal_s host-wide /proc/stat deltas
    n_clusters

So wall_s = tree_cpu_s / (cores * occupancy * delivery), and between the
smallest level N and the largest level kN (work = tree_cpu_s):

    eff_wall   = (clips_per_sec_kN / clips_per_sec_N) / k
               = (occ_kN / occ_N) * (del_kN / del_N) / (work_kN / work_N)
    eff_engine = (occ_kN / occ_N) / (work_kN / work_N)

eff_engine is the part co-tenants do not move. With two or more levels
the tool prints one SUMMARY line: per-level medians over every sample of
``n_clips`` in the round's file, and both efficiencies from those
medians. Re-run the command to add samples. The tool exits non-zero if
those samples disagree on ``n_clusters``: the pipeline is deterministic.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.procs import tree_cpu_s  # noqa: E402
from tools.runstats import (  # noqa: E402
    RETAIN_STAGES,
    current_round,
    host_cpu_s,
    stage_totals,
)

CHUNK = 50_000
# per-level medians of the summary
MEDIANS = ("wall_s", "clips_per_sec", "occupancy", "delivery", "tree_cpu_s")


def _gen_chunk(args: tuple[str, int, int, int]) -> str:
    path, n, seed, id_offset = args
    if os.path.exists(path):
        return path
    from entity_deduplication_spark.datagen import generate_clips

    # id_offset makes clip_ids globally unique across chunks; without it
    # every chunk restarts at clip_00000000 and each id appears once per
    # chunk, multiplying every downstream id-equijoin by the chunk count
    # (the r4/r5a 800k runs died exactly this way: 48.9M candidate pairs
    # -> 12.5B rows after two 16x-duplicated payload joins).
    clips, _ = generate_clips(n, seed=seed, id_offset=id_offset)
    tmp = path + ".tmp"
    # small row groups so byte-range splits stay row-balanced (a split
    # only yields the row groups whose midpoint it contains — see
    # datagen.CLIPS_ROW_GROUP_SIZE); 256 rows ~ 9 MB per group, ~13 per
    # default 128 MB split. Existing chunk files keep their old layout
    # (content-identical; a 2 GB chunk at 75 MB groups still splits ~25
    # ways, so regeneration is not forced here).
    clips.to_parquet(tmp, index=False, row_group_size=256)
    os.rename(tmp, path)
    return path


def chunk_jobs(data_dir: str, n_clips: int) -> list[tuple[str, int, int, int]]:
    """(path, rows, seed, id_offset) of each chunk covering ``n_clips``.

    Chunk i holds clips [i * CHUNK, i * CHUNK + rows). A full chunk is
    ``chunk_{i:03d}.parquet`` for every run size; a partial last chunk
    carries its row count in the name, so no run reuses a file of
    another size."""
    jobs = []
    for i in range(-(-n_clips // CHUNK)):
        rows = min(CHUNK, n_clips - i * CHUNK)
        name = f"chunk_{i:03d}" + ("" if rows == CHUNK else f"_n{rows}")
        path = os.path.join(data_dir, name + ".parquet")
        jobs.append((path, rows, 1000 + i, i * CHUNK))
    return jobs


def ensure_chunks(data_dir: str, n_clips: int) -> list[str]:
    """Materialize the chunk files covering ``n_clips`` and return their
    paths — a shared chunk directory serves every run size (the reader
    takes an explicit file list)."""
    import concurrent.futures as cf

    os.makedirs(data_dir, exist_ok=True)
    jobs = chunk_jobs(data_dir, n_clips)
    todo = [j for j in jobs if not os.path.exists(j[0])]
    if todo:
        t0 = time.time()
        with cf.ProcessPoolExecutor(max_workers=6) as ex:
            for i, _ in enumerate(ex.map(_gen_chunk, todo)):
                print(
                    f"datagen {i + 1}/{len(todo)} chunks "
                    f"({time.time() - t0:.0f}s)",
                    flush=True,
                )
    return [j[0] for j in jobs]


def chunk_cache(n_clips: int) -> list[str]:
    """The shared chunk cache's files covering ``n_clips``, built where
    missing. v2 chunks carry per-chunk id offsets (globally unique
    clip_ids); the v1 chunks (scale_800000/) restarted ids per chunk."""
    from entity_deduplication_spark.datagen import DATA_DIR

    return ensure_chunks(os.path.join(DATA_DIR, "scale_800k_v2"), n_clips)


def run_sample(chunk_paths: list[str], n_clips: int, cores: int | None) -> dict:
    """One timed pipeline run in a new Spark session of this process;
    run it in a fresh interpreter (``fresh_sample``) so every sample pays
    the same cold JVM."""
    from entity_deduplication_spark.plans.pipeline import DedupPipeline
    from entity_deduplication_spark.session import get_spark

    # the session default heap is bench-sized (8g, see session.py); the
    # 100x scale runs genuinely need the big heap
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark(
        app_name=f"scale-run-{n_clips}",
        cores=cores,
        extra_conf={
            **RETAIN_STAGES,
            # shuffle files live until their RDD is GC'd; in a single
            # 20+ min pipeline the default 30 min periodic GC never runs,
            # so every stage's shuffle output accumulates to job end.
            # Each checkpoint orphans its upstream lineage — a 1 min GC
            # lets ContextCleaner reclaim those tens of GB mid-run (the
            # first 800k attempt filled the disk with dead shuffles from
            # already-checkpointed stages)
            "spark.cleaner.periodicGC.interval": "1min",
            # tiered C2 back (the session default is C1 only): a long,
            # CPU-dense run is where C2's faster code pays back. At 150k
            # clips on 4 cores C1 only took 291-293 s, tiered 197-245 s;
            # at 50k the two tied (89-102 s)
            "spark.driver.defaultJavaOptions": "",
            # NOTE: do NOT raise spark.sql.autoBroadcastJoinThreshold
            # here. The r4 attempt set it to 4 GB to keep the verify
            # payload joins broadcast — at 800k clips that broadcast the
            # shingle-array signature projection TWICE (~10 GB of
            # long-lived HashedRelation each) and, with the pair cache,
            # collapsed the 48 GB heap into GC thrash: all 32 tasks ran
            # 45+ min without one finishing. The session default (64 MB)
            # shuffle-joins the payload instead: one zstd-compressed
            # ~2 GB exchange of the 800k-row payload plus two cheap
            # 16 B/row pair-side exchanges — exactly what a real
            # cluster must do, since no executor holds a 10 GB build.
        },
    )
    # get_spark decides the local core count; occupancy divides by it
    cores = spark.sparkContext.defaultParallelism
    # wide shuffles at this scale: more reduce partitions keep each
    # task's sort memory-resident (AQE coalesces the small ones)
    spark.conf.set("spark.sql.shuffle.partitions", str(cores * 8))
    clips = spark.read.parquet(*chunk_paths)

    run0, cpu0 = stage_totals(spark)
    tree0 = tree_cpu_s()
    busy0, steal0 = host_cpu_s()
    t0 = time.time()
    res = DedupPipeline(spark).run(clips)
    res.clusters.write.mode("overwrite").format("noop").save()
    wall = time.time() - t0
    busy1, steal1 = host_cpu_s()
    tree = tree_cpu_s() - tree0
    run1, cpu1 = stage_totals(spark)
    run_s = run1 - run0
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    spark.stop()
    return {
        "n_clips": n_clips,
        "cores": cores,
        "wall_s": round(wall, 1),
        "clips_per_sec": round(n_clips / wall, 1),
        "exec_run_s": round(run_s, 1),
        "exec_cpu_s": round(cpu1 - cpu0, 1),
        "tree_cpu_s": round(tree, 1),
        "occupancy": round(run_s / (wall * cores), 3),
        "delivery": round(tree / run_s, 3),
        "host_busy_s": round(busy1 - busy0, 1),
        "host_steal_s": round(steal1 - steal0, 1),
        "n_clusters": n_clusters,
    }


def fresh_sample(chunk_paths: list[str], n_clips: int, cores: int | None) -> dict:
    """``run_sample`` in a newly spawned interpreter, which starts its
    own JVM and exits with it."""
    import concurrent.futures as cf
    import multiprocessing

    with cf.ProcessPoolExecutor(
        max_workers=1, mp_context=multiprocessing.get_context("spawn")
    ) as ex:
        return ex.submit(run_sample, chunk_paths, n_clips, cores).result()


def summarize(samples: list[dict], levels: list[int]) -> dict:
    """Per-level medians of ``samples`` (one n_clips) and the N-vs-kN
    efficiencies between the smallest and the largest of ``levels``."""
    med = {}
    for c in levels:
        at = [s for s in samples if s["cores"] == c]
        med[c] = {k: round(statistics.median(s[k] for s in at), 3) for k in MEDIANS}
        med[c]["samples"] = len(at)
    n, kn = med[min(levels)], med[max(levels)]
    work = kn["tree_cpu_s"] / n["tree_cpu_s"]
    speedup = kn["clips_per_sec"] / n["clips_per_sec"]
    return {
        "levels": {str(c): med[c] for c in levels},
        "eff_engine": round(kn["occupancy"] / n["occupancy"] / work, 3),
        "eff_wall": round(speedup / (max(levels) / min(levels)), 3),
    }


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python tools/scale_run.py <n_clips> [cores ...]")
    n_clips = int(sys.argv[1])
    levels = [int(c) for c in sys.argv[2:]]
    chunk_paths = chunk_cache(n_clips)
    path = os.path.join(REPO, "BENCH", f"SCALE_r{current_round(REPO):02d}.json")
    hist = []
    if os.path.exists(path):
        with open(path) as f:
            hist = json.load(f)
    for cores in levels or [None]:
        sample = fresh_sample(chunk_paths, n_clips, cores)
        hist.append(sample)
        with open(path, "w") as f:
            json.dump(hist, f, indent=1)
        print("RESULT " + json.dumps(sample), flush=True)
    same = [s for s in hist if s["n_clips"] == n_clips]
    if len(set(levels)) > 1:
        print("SUMMARY " + json.dumps(summarize(same, sorted(set(levels)))))
    clusters = sorted({s["n_clusters"] for s in same})
    if len(clusters) > 1:
        sys.exit(f"n_clusters disagree at n_clips={n_clips}: {clusters}")


if __name__ == "__main__":
    main()
