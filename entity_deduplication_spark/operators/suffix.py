"""Exact-substring-run candidate stage (suffix-array matching).

Two plans over the same kernels (functions.suffix):

* ``substring_run_pairs`` — winnowed-fingerprint blocking (complete for
  runs >= k + w - 1) + per-pair suffix-array verification. Default in the
  pipeline: only ids cross the fingerprint shuffle, transcripts join in
  for the (small) verified candidate set.
* ``sharded_substring_pairs`` — the range-partitioned shard variant
  (north_rule): fingerprint buckets are range-partitioned, one
  *generalized* suffix array per bucket via ``applyInPandas`` emits every
  in-bucket doc pair sharing a run. Winnowing completeness makes bucket
  locality lossless (any qualifying pair shares >= 1 fingerprint, hence
  >= 1 bucket) — the shard-boundary problem of naive range partitioning
  (SURVEY.md §7 hard part 5) does not arise.

Maps the reference's partial_ratio evidence (ml_based.py:92,102,118) to
exact semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.functions.suffix import (
    common_run_pairs,
    winnow_fingerprints,
)
from entity_deduplication_spark.operators.pairs import (
    attach_pair_features,
    block_self_join_pairs,
)


def _fingerprint_params(cfg: DedupConfig) -> tuple[int, int]:
    # guarantee: every run >= min_run_chars shares a fingerprint
    k = max(4, cfg.min_run_chars - cfg.winnow_window + 1)
    return k, cfg.winnow_window


def fingerprints_udf(cfg: DedupConfig):
    k, w = _fingerprint_params(cfg)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _fps(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: winnow_fingerprints(t, k, w).tolist() if t else []
        )

    return _fps


def _fingerprint_blocks(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    return signatures.select(
        "clip_id",
        F.explode(fingerprints_udf(cfg)(F.col("transcript_norm"))).alias("fp"),
    )


def run_verify_udf(min_len: int):
    """Batch verifier: does the pair share an exact run >= min_len?

    Checked via L-gram rolling-hash intersection (O(n) numpy per string;
    a shared 64-bit L-gram hash == a shared L-char run up to hash
    collisions at ~2^-64). Returns min_len when found else 0 — the
    pipeline thresholds on >= min_len, so the exact maximal run length
    (available via functions.suffix.longest_common_run) is not recomputed
    on the hot path.
    """

    @F.pandas_udf(T.IntegerType())
    def _run_len(t1: pd.Series, t2: pd.Series) -> pd.Series:
        from entity_deduplication_spark.functions.suffix import (
            rolling_kgram_hashes,
        )

        out = np.zeros(len(t1), dtype=np.int32)
        for i, (a, b) in enumerate(zip(t1, t2)):
            if not a or not b:
                continue
            h1 = rolling_kgram_hashes(a, min_len)
            if h1.size == 0:
                continue
            h2 = rolling_kgram_hashes(b, min_len)
            if h2.size and np.intersect1d(h1, h2).size:
                out[i] = min_len
        return pd.Series(out)

    # nondeterministic: Spark must not inline it into a pushed-down filter
    return _run_len.asNondeterministic()


def substring_run_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id1, id2, run_len) pairs with exact common run >= min_run_chars."""
    blocks = _fingerprint_blocks(signatures, cfg)
    cand = block_self_join_pairs(
        blocks,
        key_cols=["fp"],
        block_size_limit=cfg.block_size_limit,
    )
    feat = attach_pair_features(cand, signatures, ["transcript_norm"])
    verified = feat.withColumn(
        "run_len",
        run_verify_udf(cfg.min_run_chars)(
            F.col("transcript_norm_1"), F.col("transcript_norm_2")
        ),
    )
    return verified.filter(F.col("run_len") >= cfg.min_run_chars).select(
        "id1", "id2", "run_len"
    )


def sharded_substring_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Generalized-SA-per-bucket variant over range-partitioned fingerprints."""
    min_len = cfg.min_run_chars
    blocks = _fingerprint_blocks(signatures, cfg).join(
        signatures.select("clip_id", "transcript_norm"), "clip_id"
    )
    n_parts = max(signatures.sparkSession.sparkContext.defaultParallelism, 8)
    blocks = blocks.repartitionByRange(n_parts, "fp")

    def _per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["clip_id"].tolist()
        texts = pdf["transcript_norm"].fillna("").tolist()
        pairs = common_run_pairs(ids, texts, min_len=min_len)
        if not pairs:
            return pd.DataFrame({"id1": [], "id2": [], "run_len": []}).astype(
                {"id1": str, "id2": str, "run_len": "int32"}
            )
        return pd.DataFrame(pairs, columns=["id1", "id2", "run_len"]).astype(
            {"run_len": "int32"}
        )

    out = blocks.groupBy("fp").applyInPandas(
        _per_bucket, schema="id1 string, id2 string, run_len int"
    )
    return (
        out.groupBy("id1", "id2").agg(F.max("run_len").alias("run_len"))
    )
