"""Pairwise verification: join candidates back to signatures and score.

A pure scorer of the pairs it is given; the flagship pipeline gives it
only candidates no exact key links (``plans.pipeline.candidate_pairs``).

Plays the role of the reference's ``_calculate_match_score`` evidence
combiner (deterministic_feature.py:1183-1422) and secondary-evidence
validation (deterministic_feature.py:569-651), recast as one projection
over the pair join: three pure-Catalyst evidence columns, then one call
of the run verifier whose inputs are masked to NULL for the pairs that
evidence already decided. The reference's ±0.001 tie-break noise
(deterministic_feature.py:1416-1420) is deliberately dropped: scores are
deterministic and ties break on (id1, id2).

Column-pruning discipline: candidates join against the *signatures* table
(shingle arrays + sketches), never the raw ``bytes`` column —
audio blobs are never shuffled (SURVEY.md §7 hard part 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.functions.similarity import hamming_similarity, jaccard
from entity_deduplication_spark.operators.pairs import attach_pair_features
from entity_deduplication_spark.operators.suffix import run_verify_udf

_SIG_COLS = [
    "transcript_norm",
    "shingles",
    "audio_shingles",
    "simhash",
]

# evidence weights, shaped after the reference's feature-weight table
# (deterministic_feature.py:80-102) re-targeted to audio
TRANSCRIPT_WEIGHT = 0.9
AUDIO_WEIGHT = 0.8
SUBSTRING_RUN_WEIGHT = 0.8


def score_pairs(feat: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Evidence-weighted score per pair -> (id1, id2, <evidence cols>, score).

    ``feat`` is a candidate table with ``_SIG_COLS`` attached as ``c_1`` /
    ``c_2``; every row is scored.

    Tiering mirrors the reference's weight table + primary/supporting
    combination with diminishing returns and cap
    (deterministic_feature.py:80-102, 1329-1383):

    * primary evidence = max of weighted transcript-Jaccard,
      audio-Jaccard, SimHash-Hamming similarity and exact substring run;
    * each additional strong supporting signal adds +0.02, capped at 0.99.
    """
    t_j = jaccard(F.col("shingles_1"), F.col("shingles_2"))
    # a degenerate audio set is already empty (plans.pipeline.build_signatures)
    a_j = jaccard(F.col("audio_shingles_1"), F.col("audio_shingles_2"))
    s_h = hamming_similarity(F.col("simhash_1"), F.col("simhash_2"))

    scored = feat.withColumn("transcript_jaccard", t_j)
    scored = scored.withColumn("audio_jaccard", a_j)
    scored = scored.withColumn("simhash_sim", s_h)

    strong_t = F.col("transcript_jaccard") >= cfg.jaccard_threshold
    strong_a = F.col("audio_jaccard") >= cfg.audio_jaccard_threshold
    # exact substring-run evidence (suffix/winnowing family), only for the
    # pairs the Catalyst evidence left undecided: a Python UDF inside a
    # when() branch still runs on every row, so the gate masks its inputs
    # to NULL, which the verifier scores 0 without work
    undecided = ~F.coalesce(strong_t | strong_a, F.lit(False))
    scored = scored.withColumn(
        "run_len",
        run_verify_udf(cfg.min_run_chars)(
            F.when(undecided, F.col("transcript_norm_1")),
            F.when(undecided, F.col("transcript_norm_2")),
        ),
    )

    # SimHash similarity is only "strong" inside the Hamming radius
    strong_s = F.col("simhash_sim") >= 1.0 - cfg.simhash_hamming_max / 64.0
    strong_r = F.col("run_len") >= cfg.min_run_chars

    # Evidence-family scoring invariant: a family above its own threshold
    # CLEARS match_threshold (the oracle semantics — a pair is a duplicate
    # iff some evidence family fires), scaled into [base, cap] by how far
    # past the family threshold it is; sub-threshold evidence stays
    # strictly below base and only the threshold filter decides.
    base, cap = cfg.match_threshold, 0.95

    def family(sim: F.Column, thr: float, weight: float) -> F.Column:
        cleared = base + (sim - thr) / max(1.0 - thr, 1e-9) * (cap - base) * weight
        return F.when(sim >= thr, cleared).otherwise(sim * weight * base / thr * 0.9)

    primary = F.greatest(
        family(F.col("transcript_jaccard"), cfg.jaccard_threshold,
               TRANSCRIPT_WEIGHT),
        family(F.col("audio_jaccard"), cfg.audio_jaccard_threshold,
               AUDIO_WEIGHT),
        # SimHash approximates text Jaccard — supporting evidence only
        # (never clears base alone; the oracle has no simhash family)
        F.col("simhash_sim") * F.lit(base * 0.9),
        F.when(strong_r, F.lit(base) + F.lit(0.05) * SUBSTRING_RUN_WEIGHT).otherwise(
            F.lit(0.0)
        ),
    )
    n_strong = (
        strong_t.cast("int")
        + strong_a.cast("int")
        + strong_s.cast("int")
        + strong_r.cast("int")
    )
    support = F.when(n_strong >= 2, (n_strong - 1) * F.lit(0.02)).otherwise(0.0)
    return scored.select(
        "id1",
        "id2",
        "transcript_jaccard",
        "audio_jaccard",
        "simhash_sim",
        "run_len",
        F.least(primary + support, F.lit(0.99)).alias("score"),
    )


def verified_edges(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """candidates -> (id1, id2, score) edges above match_threshold.

    Every pair in ``pairs`` is scored: which pairs need a decision is the
    caller's (``plans.pipeline.candidate_pairs``) to choose.
    """
    feat = attach_pair_features(pairs, signatures, _SIG_COLS)
    scored = score_pairs(feat, cfg)
    return scored.filter(F.col("score") >= cfg.match_threshold).select(
        "id1", "id2", "score"
    )
