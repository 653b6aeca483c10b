"""Per-blocking-family pair-mass audit at a given corpus size.

Candidate volume at 800k clips measured 14x the 200k volume (n^1.9) —
this tool attributes that growth: for each band family it reports bucket
count, the full-pair mass sum(C(min(bn, cap), 2)) the self-join will
emit, and the chain mass for over-cap buckets. Run at two sizes to see
which family's pair mass grows super-linearly.

Usage: python tools/band_family_audit.py [n_clips] [cores]
(defaults 200_000 and the cores ``session.get_spark`` picks).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILY = {0: "text_minhash", 1: "audio_minhash", 2: "simhash", 3: "fingerprint"}


def main() -> None:
    n_clips = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else None

    from pyspark.sql import functions as F

    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.plans.pipeline import (
        band_oversize_rule,
        build_signatures,
        unified_band_table,
    )
    from entity_deduplication_spark.session import get_spark
    from entity_deduplication_spark.sources.io import stage
    from tools.scale_run import chunk_cache

    chunk_paths = chunk_cache(n_clips)
    spark = get_spark(app_name=f"band-audit-{n_clips}", cores=cores)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism * 8)
    )
    cfg = DedupConfig()
    clips = spark.read.parquet(*chunk_paths)
    sig = stage(build_signatures(clips, cfg))
    unified = unified_band_table(sig, cfg)
    cap = cfg.band_bucket_cap

    sizes = unified.groupBy("src", "band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("bn")
    )
    # candidate_pairs' per-family cap and oversize policy
    limit, policy = band_oversize_rule(cfg)
    full = F.when(
        F.col("bn") <= limit, (F.col("bn") * (F.col("bn") - 1) / 2)
    ).otherwise(F.lit(0.0))
    chain = F.when(
        (F.col("bn") > limit) & (policy == "chain"), F.col("bn") - 1
    ).otherwise(F.lit(0.0))
    agg = (
        sizes.filter(F.col("bn") >= 2)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.sum("bn").alias("members"),
            F.max("bn").alias("max_bn"),
            F.expr("percentile_approx(bn, 0.99)").alias("p99_bn"),
            F.sum(full).cast("long").alias("full_pair_mass"),
            F.sum(chain).cast("long").alias("chain_mass"),
        )
        .orderBy("src")
        .collect()
    )
    out = {
        "n_clips": n_clips,
        "cap": cap,
        "families": {
            FAMILY[r["src"]]: {
                "buckets_ge2": r["buckets"],
                "members": r["members"],
                "max_bn": r["max_bn"],
                "p99_bn": r["p99_bn"],
                "full_pair_mass": r["full_pair_mass"],
                "chain_mass": r["chain_mass"],
            }
            for r in agg
        },
    }
    print("AUDIT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
