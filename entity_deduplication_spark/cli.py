"""spark-submit entry point (north_rule packaging).

Usage (cluster):

    zip -r engine.zip entity_deduplication_spark
    spark-submit --py-files engine.zip -m entity_deduplication_spark.cli \
        --input  <parquet-or-iceberg-table-of-clips> \
        --output <dir-or-table-prefix> \
        --checkpoint-dir <durable-path> \
        [--resume] [--match-threshold 0.75]

Replays the reference CLI surface (reference run.py:24-43: --input,
--output-dir, thresholds) on the Spark engine.
Every stage checkpoint lands under --checkpoint-dir; rerunning with
--resume continues from the last completed stage.

Run without spark-submit, the CLI starts its own session through
``session.get_spark``, whose driver JVM runs the C1 JIT only. A long run
gets tiered C2 back through PySpark's launcher variable, whose ``--conf``s
come after the builder's and win:

    PYSPARK_SUBMIT_ARGS="--conf spark.driver.defaultJavaOptions= pyspark-shell" \
        python -m entity_deduplication_spark.cli --input ... --output ...

``spark.conf.get`` still reports the C1 value; read the JVM's flags from
``ManagementFactory.getRuntimeMXBean().getInputArguments()``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from entity_deduplication_spark.config import DedupConfig


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="entity_deduplication_spark")
    p.add_argument("--input", required=True, help="clips parquet path / Iceberg table")
    p.add_argument("--output", required=True, help="output prefix (parquet dirs)")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--resume", action="store_true",
                   help="reuse existing stage checkpoints")
    p.add_argument("--match-threshold", type=float,
                   default=DedupConfig.match_threshold)
    p.add_argument("--jaccard-threshold", type=float,
                   default=DedupConfig.jaccard_threshold)
    p.add_argument("--min-run-chars", type=int, default=DedupConfig.min_run_chars)
    p.add_argument("--cores", type=int, default=None,
                   help="local-mode parallelism (ignored under a cluster master)")
    p.add_argument("--report", action="store_true",
                   help="write <output>/report.svg (cluster-size histogram + "
                        "run metrics — the reference's comparison charts as a "
                        "dependency-free SVG sink)")
    p.add_argument("--stream-ingest", action="store_true",
                   help="treat --input as a streaming clips directory: drain "
                        "the current backlog (availableNow) into an append-only "
                        "<output>/signatures table, then batch re-cluster the "
                        "ACCUMULATED signatures — re-invoking after new files "
                        "arrive ingests only the delta and re-clusters globally")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    from entity_deduplication_spark.plans.pipeline import DedupPipeline
    from entity_deduplication_spark.session import get_spark

    active = SparkSession.getActiveSession()
    spark = active or get_spark(app_name="entity-dedup", cores=args.cores)

    cfg = DedupConfig(
        match_threshold=args.match_threshold,
        jaccard_threshold=args.jaccard_threshold,
        min_run_chars=args.min_run_chars,
    )
    t0 = time.time()
    pipe = DedupPipeline(spark, cfg, checkpoint_dir=args.checkpoint_dir)
    if args.stream_ingest:
        from entity_deduplication_spark.streaming.ingest import stream_signatures

        sig_dir = f"{args.output}/signatures"
        stream_ckpt = f"{args.checkpoint_dir or args.output}/_stream"
        q = stream_signatures(spark, args.input, sig_dir, stream_ckpt, cfg)
        q.awaitTermination()
        # global re-cluster over ALL accumulated signatures (append-only
        # contract: each drain adds signature rows; clustering is a global
        # batch recompute — see streaming.ingest module docstring)
        sig = spark.read.parquet(sig_dir)
        res = pipe.run_from_signatures(sig, resume=False)
    else:
        clips = spark.read.parquet(args.input)
        res = pipe.run(clips, resume=args.resume)

    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    res.canonical.drop("record_ids").write.mode("overwrite").parquet(
        f"{args.output}/canonical"
    )
    if args.report:
        from entity_deduplication_spark.sources.viz import write_cluster_report

        write_cluster_report(
            res.clusters, res.metrics, f"{args.output}/report.svg"
        )
    metrics = {r: v for r, v in zip(res.metrics.columns, res.metrics.first())}
    metrics["wall_seconds"] = round(time.time() - t0, 2)
    print(json.dumps(metrics, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
