"""Structured-Streaming ingestion of new clips (stretch goal per
SURVEY.md §2.9 — the reference is strictly batch; resumability comes from
stage checkpoints, and this module adds incremental signature ingestion
on top).

Pattern: ``readStream`` over a clips directory -> the same signature
expressions as the batch pipeline -> Spark's parquet file sink appends to
the signatures table; a periodic batch job re-runs blocking/CC over the
accumulated signatures (re-clustering is a global operation and stays
batch — LSH blocking is not incrementally maintainable without keeping
per-band state stores, which batch recompute beats at 10^12 scale).

Replay safety: the file sink records each committed batch in the output's
``_spark_metadata`` log, so a batch replayed after a crash between its
write and its checkpoint commit is skipped, not appended twice. Readers
of the output directory see only the files that log lists.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.plans.pipeline import build_signatures

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
    ]
)


def stream_signatures(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
) -> StreamingQuery:
    """Incrementally decode + sign arriving clips parquet files.

    Each call drains the backlog the checkpoint has not yet seen
    (``trigger(availableNow=True)``) and stops, so a scheduled re-run
    ingests only the delta. Output is an append-only signatures parquet
    table the batch dedup job reads.
    """
    cfg = cfg or DedupConfig()
    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    return (
        build_signatures(stream, cfg)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
