"""SparkSession factory tuned for the dedup engine.

Local-mode testing stands in for a multi-executor cluster; every setting
here is also correct on a real cluster (AQE, skew-join splitting, Arrow
batching). ``cores`` is the N-vs-4N scaling knob used by bench.py.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode (defaults to $SPARK_GRAFT_CPUS, else
    the number of CPUs this process may run on).
    shuffle_partitions: defaults to max(cores, 32) locally; on a real
    cluster leave AQE to coalesce.
    """
    # glibc allocator: serve large numpy buffers from the reusable brk heap
    # instead of fresh mmap/munmap per allocation. This host (THP
    # `madvise`, slow fault path) services NEW mmap'd pages at ~20-40 MB/s
    # and the page-fault path contends across workers: the audio
    # decode/FFT kernel measured 33 clips/s at 32 default-malloc procs vs
    # 24,000 clips/s with these thresholds (see BENCH/BASELINE.md). Must
    # be in the environment BEFORE the JVM launches so pyspark.daemon
    # workers inherit it; spark.executorEnv carries it on a real cluster.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, str(1 << 29))
    # pyarrow's bundled jemalloc returns pages to the OS aggressively
    # (MADV_FREE decay), so every Arrow batch re-faults its buffers —
    # ruinous on this host's slow, contended fault path (90% system time,
    # ~31k minor faults/s observed in a wide scan; measured 1.8x slower
    # than glibc at local[32]). The "system" pool routes Arrow through
    # glibc malloc, which the thresholds above already tame.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

    if cores is None:
        # the CPUs this process may run on (taskset, cpuset), not the
        # host's: the master and the parallelism below take the same count
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets BYTES (minPartitionSize, default 1m), but
        # several post-shuffle stages here are CPU-dense on tiny rows
        # (pair verify: cosine over array<double>, Levenshtein DP batches
        # — ~16-byte pair rows fanning out to ms of compute each), so the
        # byte heuristic collapses them to 1-4 tasks. 64k keeps such
        # stages wide; on real data (partitions >> 1m) it is a no-op.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # apply AQE when materializing persisted plans too (off by default
        # only to keep cached output partitioning stable): on a cluster
        # without a checkpoint dir ``sources.io.stage`` materializes heavy
        # plans through persist+action, and without this flag those
        # executions lose runtime exchange reuse, broadcast demotion and
        # coalescing
        # (measured: the ngram edge materialization inside clustering
        # agreement ran its gram subtree twice, ~4x the CPU)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary-heavy rows (40 KB audio blobs) make big Arrow batches a
        # memory storm: 4096-row batches are ~160 MB of fresh buffers per
        # worker in flight; 1024 keeps them ~40 MB with no kernel slowdown
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # 8g default, NOT the box maximum: G1 on a huge heap keeps
        # allocating into fresh regions for a long time before reusing
        # collected ones, and this host's page-fault path is so slow and
        # contended (THP madvise — see the malloc notes above) that each
        # heap high-water increase burns a visible CPU storm across all 32
        # task threads (measured: identical bench queries at 48g heap hit
        # periodic 150-600 tree-CPU-s samples; at 8g they are stable at
        # ~35 CPU-s). A bounded heap forces early page reuse. Large-scale
        # runs (tools/scale_run.py at 800k clips) export
        # SPARK_DRIVER_MEM=48g explicitly.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # zstd roughly halves shuffle bytes vs lz4 on the array-heavy
        # verify joins — disk (spill capacity) is the binding resource
        # for wide shuffles both here and on real clusters
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            os.environ["MALLOC_MMAP_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
            os.environ["MALLOC_TRIM_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL",
            os.environ["ARROW_DEFAULT_MEMORY_POOL"],
        )
        # driver JIT: C1 only, no C2 tier. A 1,000-clip CLI run is ~60 short
        # jobs that end before C2-compiled Spark and Janino-generated
        # classes pay back: per-thread /proc CPU of a cold full_dedup op at
        # 4 cores put 40 of its ~89 JVM CPU-s on the C2 compiler threads.
        # C1 only measured full_dedup cpu_s 92 -> 53 s and wall_s 30.9 ->
        # 28.8 s (medians of 10 pairs, BENCH/LAYERS_r22.json). C2 wins
        # long runs: at 150k clips C1 only took 291-293 s, tiered
        # 197-245 s, so tools/scale_run.py and the test session pass
        # {"spark.driver.defaultJavaOptions": ""} to get tiered C2 back.
        # C1 only also shrinks the code cache from 240 MB to 48 MB; a
        # long session fills that and recompiles what it evicts (C1
        # compile time over tier-1: 63 s at 48 MB, 28 s at 240 MB), so
        # the cache keeps the tiered size. Local mode runs the tasks in
        # this JVM too. Spark puts this before a caller's
        # spark.driver.extraJavaOptions, so both apply; it replaces any
        # spark-defaults.conf value of spark.driver.defaultJavaOptions.
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
