"""One 10x-scale validation run of the flagship pipeline (~800k clips).

All routine scale claims are plan audits + 96k-clip measurements; this
tool runs the full audio dedup pipeline ONCE at ~10x that size to catch
any constant that grows with n (CC iteration count, band-table size,
checkpoint I/O, driver-side state). It

1. materializes N_CLIPS as independent chunk parquet files (parallel
   worker processes — one 32 GB pandas frame would not fit a driver),
   each chunk with its own planted duplicate structure;
2. runs DedupPipeline over the whole directory at local[CORES], with
   occupancy from the status store's stage totals and process-tree CPU
   (tools/runstats.py, perfbench/procs.py);
3. appends the result to BENCH/SCALE_r{N}.json (``runstats.current_round``)
   and prints one JSON line.

Usage: python tools/scale_run.py [n_clips] [cores]
(defaults 800_000 and the cores ``session.get_spark`` picks:
$SPARK_GRAFT_CPUS, else the CPUs this process may run on).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.procs import tree_cpu_s  # noqa: E402
from tools.runstats import RETAIN_STAGES, current_round, stage_totals  # noqa: E402

CHUNK = 50_000


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


def main() -> None:
    n_clips = int(sys.argv[1]) if len(sys.argv) > 1 else 800_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else None
    # shared chunk cache: any run size reads the prefix of chunk files
    # it needs (a partial last chunk is named by its row count)
    # v2: chunk files carry per-chunk id_offset (globally unique clip_ids);
    # v1 chunks (scale_800000/) restarted ids per chunk and are invalid
    from entity_deduplication_spark.datagen import DATA_DIR

    data_dir = os.path.join(DATA_DIR, "scale_800k_v2")
    chunk_paths = ensure_chunks(data_dir, n_clips)

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

    run0, _ = stage_totals(spark)
    tree0 = tree_cpu_s()
    t0 = time.time()
    res = DedupPipeline(spark).run(clips)
    res.clusters.write.mode("overwrite").format("noop").save()
    wall = time.time() - t0
    tree = tree_cpu_s() - tree0
    run_s = stage_totals(spark)[0] - run0
    n_clusters = res.clusters.select("cluster_id").distinct().count()

    out = {
        "n_clips": n_clips,
        "cores": cores,
        "wall_s": round(wall, 1),
        "clips_per_sec": round(n_clips / wall, 1),
        "occupancy": round(run_s / (wall * cores), 3),
        "tree_cpu_s": round(tree, 1),
        "cpu_per_clip_ms": round(1000.0 * tree / n_clips, 2),
        "n_clusters": n_clusters,
    }
    path = os.path.join(REPO, "BENCH", f"SCALE_r{current_round(REPO):02d}.json")
    hist = []
    if os.path.exists(path):
        with open(path) as f:
            hist = json.load(f)
    hist.append(out)
    with open(path, "w") as f:
        json.dump(hist, f, indent=1)
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
