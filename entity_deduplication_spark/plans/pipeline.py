"""DedupPipeline — the end-to-end near-duplicate detection plan.

Stage graph (the Spark re-expression of the reference's template method
``run_entity_resolution``, base.py:119-147):

    clips ──select/UDF──▶ signatures            [checkpoint]
       signatures ──LSH bands − exact-linked──▶ candidate_pairs [checkpoint]
       candidate_pairs ──Jaccard/Hamming verify──▶ edges
       signatures ──exact-key chains──▶ edges
       edges ──large-star/small-star CC──▶ clusters          [checkpoint]
       clusters ──one-aggregation election──▶ canonical
       every stage ──▶ lineage + metrics appends

``bytes`` is projected away after the signature stage — binary audio is
never shuffled, and the signature table keeps only the columns later
stages read (band keys, not the MinHash arrays they come from).
Exact-duplicate floods are captured by chain edges on the ``EXACT_KEYS``
digests (O(n) not O(n^2)), and candidates leave those pairs to them; LSH
blocks are skew-salted, and all stages are resumable via CheckpointManager.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.functions.hashing import band_keys
from entity_deduplication_spark.functions.text import normalize_text, word_shingles
from entity_deduplication_spark.operators.blocking import (
    BAND_KEY_COLS,
    band_rows,
    key_family,
    simhash_family,
)
from entity_deduplication_spark.operators.canonical import elect_canonical
from entity_deduplication_spark.operators.connected_components import (
    connected_components,
)
from entity_deduplication_spark.operators.pairs import (
    attach_pair_features,
    block_self_join_pairs,
    chain_edges_within_block,
)
from entity_deduplication_spark.operators.stats import dedup_metrics
from entity_deduplication_spark.operators.verify import verified_edges
from entity_deduplication_spark.sources.io import CheckpointManager, spread_partitions

# exact-key digests: an equal non-NULL one links a pair unverified
# (exact_edges chains it, candidate_pairs drops it) — the reference's
# compared_pairs set (deterministic_feature.py:964-969)
EXACT_KEYS = ("bytes_md5", "transcript_md5")


def build_signatures(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """clips -> signature table; the only stage that touches ``bytes``.

    Columns: clip_id, transcript_norm, bytes_md5, transcript_md5, shingles,
    audio_shingles, simhash, bands, audio_bands, n_words, fps.

    It keeps only what later stages read: the MinHash arrays only derive
    ``bands``/``audio_bands``. Both exact-key digests are NULL for an empty
    key — "both clips are empty" is not duplicate evidence (the pandas
    oracle skips empty keys too) — and every consumer reads NULL as none.
    Likewise ``audio_shingles`` is empty, with no ``audio_bands``, for a
    blob that does not decode and for a degenerate set of fewer than
    ``cfg.min_audio_shingles`` shingles, so its audio Jaccard is 0.
    """
    from entity_deduplication_spark.audio.decode import audio_signature_udf
    from entity_deduplication_spark.functions.hashing import text_signature_udf
    from entity_deduplication_spark.operators.suffix import fingerprints_udf

    tsig = text_signature_udf(cfg.minhash_k, cfg.minhash_seed)
    asig = audio_signature_udf(
        cfg.frame_ms,
        cfg.hop_ms,
        cfg.audio_shingle_k,
        cfg.audio_quant_levels,
        cfg.minhash_k,
        cfg.minhash_seed,
    )
    empty = F.array().cast("array<bigint>")
    audio_ok = F.size("_a.audio_shingles") >= cfg.min_audio_shingles
    sig = clips.select(
        "clip_id",
        normalize_text(F.col("transcript")).alias("transcript_norm"),
        F.when(F.length(F.col("bytes")) > 0, F.md5(F.col("bytes"))).alias(
            "bytes_md5"
        ),
        word_shingles(F.col("transcript"), cfg.shingle_k).alias("shingles"),
        asig(F.col("bytes")).alias("_a"),
    )
    sig = sig.withColumn("_t", tsig(F.col("shingles"))).select(
        "clip_id",
        "transcript_norm",
        "bytes_md5",
        F.when(
            F.length("transcript_norm") > 0, F.md5(F.col("transcript_norm"))
        ).alias("transcript_md5"),
        "shingles",
        F.when(audio_ok, F.col("_a.audio_shingles"))
        .otherwise(empty)
        .alias("audio_shingles"),
        F.col("_t.simhash").alias("simhash"),
        F.when(
            F.size("shingles") > 0,
            band_keys(F.col("_t.minhash"), cfg.lsh_bands, cfg.lsh_rows),
        )
        .otherwise(empty)
        .alias("bands"),
        F.when(
            audio_ok,
            band_keys(F.col("_a.audio_minhash"), cfg.lsh_bands, cfg.lsh_rows),
        )
        .otherwise(empty)
        .alias("audio_bands"),
        F.size(F.split(F.col("transcript_norm"), " ")).alias("n_words"),
    )
    # winnowed substring fingerprints (operators.suffix): a 4th band family
    # in the unified blocking stage; complete for runs >= min_run_chars
    return sig.withColumn("fps", fingerprints_udf(cfg)(F.col("transcript_norm")))


def unified_band_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The unified blocking-key table: (clip_id, src, band_idx, band_key).

    src 0 = text MinHash LSH bands, 1 = audio MinHash LSH bands,
    2 = SimHash Hamming-block keys, 3 = winnowed substring fingerprints.
    Exposed separately from :func:`candidate_pairs` so scale tooling can
    audit per-family bucket-size distributions (pair mass per family)
    without running the self-join.

    All four families come from ONE explode (``blocking.band_rows``), not
    a 4-way union of per-family scans: the union re-scanned the signature
    table four times (4x the checkpoint traversal, 4x the map tasks, 4x
    the per-task shuffle-writer setup feeding the window exchange) for
    rows that one pass can produce.
    """
    return band_rows(
        signatures,
        key_family(F.col("bands"), 0, positional=True),
        key_family(F.col("audio_bands"), 1, positional=True),
        simhash_family(F.col("simhash"), cfg),
        key_family(F.col("fps"), 3, positional=False),
    )


def band_oversize_rule(cfg: DedupConfig) -> tuple[Column, Column]:
    """(block_size_limit, on_oversize) of the unified band table as
    Columns, decided per row by the band family ``src``.

    on_oversize="chain": saturated band buckets emit O(n) chain
    candidates instead of all pairs (see DedupConfig.band_bucket_cap) —
    full enumeration would emit C(n, 2) pairs per degenerate bucket
    (super-linear on low-entropy payloads, exactly what a
    1000-executor verify shuffle cannot afford), while skipping
    outright (round 4's policy) silently LOSES any real duplicate
    group > cap whose members share every band key and have no exact
    key (e.g. re-encodes of one clip with empty transcripts). Chains
    keep the pair mass linear AND let connected components recover
    such groups through verified-chain transitivity.

    The substring-fingerprint family (src 3) uses a LOWER cap
    (fp_df_cap) with SKIP — a fingerprint shared by many clips is a
    stopword-like common phrase whose bucket grows ∝ corpus size (see
    DedupConfig.fp_df_cap); the minhash/simhash families keep
    chain-at-cap, which also covers duplicate-flood recovery for the
    rows a fp-skip drops."""
    is_fp = F.col("src") == F.lit(3)
    return (
        F.when(is_fp, F.lit(cfg.fp_df_cap)).otherwise(F.lit(cfg.band_bucket_cap)),
        F.when(is_fp, F.lit("skip")).otherwise(F.lit("chain")),
    )


def candidate_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The pairs verification must decide: candidates from ALL blocking
    strategies via one unified block table -> one skew-aware self-join,
    minus every pair an exact key links.

    The reference unions per-strategy pair dicts
    (deterministic_feature.py:212-217,242-247); here the *block keys* are
    unioned first — (strategy, band_idx, band_key, clip_id) — so the
    window-count, self-join, and cross-strategy pair dedup run once
    instead of three times (one shuffle chain instead of three).
    """
    unified = unified_band_table(signatures, cfg)
    limit, policy = band_oversize_rule(cfg)
    pairs = block_self_join_pairs(
        unified, key_cols=BAND_KEY_COLS, block_size_limit=limit, on_oversize=policy
    )
    # greatest skips NULLs: true iff some digest is equal and non-NULL
    linked = F.greatest(
        *(F.col(f"{k}_1") == F.col(f"{k}_2") for k in EXACT_KEYS), F.lit(False)
    )
    keyed = attach_pair_features(pairs, signatures, list(EXACT_KEYS))
    return keyed.filter(~linked).select("id1", "id2")


def exact_edges(signatures: DataFrame) -> DataFrame:
    """Chain edges over the ``EXACT_KEYS`` digests — verification-free,
    O(n) per block (B1/B6 analogues) — from one window blocked on
    ``(kind, digest)``: ``kind`` keeps a bytes digest from chaining with
    an equal transcript digest. A NULL digest is no evidence (see
    ``build_signatures``); a pair both keys link comes out once."""
    kinds = [
        F.struct(F.lit(k).alias("kind"), F.col(k).alias("digest")) for k in EXACT_KEYS
    ]
    keyed = signatures.select("clip_id", F.inline(F.array(*kinds))).filter(
        F.col("digest").isNotNull()
    )
    return (
        chain_edges_within_block(keyed, key_cols=["kind", "digest"])
        .dropDuplicates(["id1", "id2"])
        .withColumn("score", F.lit(1.0))
    )


@dataclass
class DedupResult:
    signatures: DataFrame
    candidates: DataFrame
    edges: DataFrame
    clusters: DataFrame
    canonical: DataFrame
    metrics: DataFrame


class DedupPipeline:
    """Orchestrator with optional checkpoint/resume per stage."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig | None = None,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.ckpt = CheckpointManager(spark, checkpoint_dir)

    def run(self, clips: DataFrame, resume: bool = True) -> DedupResult:
        cfg = self.cfg
        # spread the decode/signature UDF work across all cores when the
        # source has too few input splits — but NEVER shuffle the bytes
        # column when the scan already yields enough partitions: a
        # repartition of the raw clips is a full-table disk round trip
        # (write+read of every audio blob) that the UDF stage doesn't need
        src = spread_partitions(clips, key="clip_id")
        sig = self.ckpt.get_or_compute(
            "signatures", lambda: build_signatures(src, cfg), resume=resume
        )
        return self.run_from_signatures(sig, resume=resume)

    def run_from_signatures(self, sig: DataFrame, resume: bool) -> DedupResult:
        """Block/verify/cluster an already-built signatures table.

        This is the batch re-cluster half of the streaming contract
        (streaming.ingest appends signatures incrementally; global
        re-clustering stays batch) and the resume path for a pipeline
        whose signature stage is checkpointed elsewhere.
        """
        cfg = self.cfg
        cand = self.ckpt.get_or_compute(
            "candidate_pairs", lambda: candidate_pairs(sig, cfg), resume=resume
        )
        # disjoint sets: candidates hold no pair an exact key links
        verified = verified_edges(cand, sig, cfg)
        edges = self.ckpt.get_or_compute(
            "edges",
            lambda: verified.unionByName(exact_edges(sig)),
            resume=resume,
        )

        clusters = self.ckpt.get_or_compute(
            "clusters",
            lambda: connected_components(edges, nodes=sig.select("clip_id")),
            resume=resume,
        )
        clustered = clusters.join(
            sig.select("clip_id", "transcript_norm", "n_words"), "clip_id"
        )
        canonical = elect_canonical(clustered, order_col="n_words")
        metrics = self.ckpt.write_metrics("final", dedup_metrics(clusters))
        return DedupResult(sig, cand, edges, clusters, canonical, metrics)
