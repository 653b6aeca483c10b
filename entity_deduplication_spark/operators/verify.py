"""Pairwise verification: join candidates back to signatures and score.

Plays the role of the reference's ``_calculate_match_score`` evidence
combiner (deterministic_feature.py:1183-1422) and secondary-evidence
validation (deterministic_feature.py:569-651), recast as one ``select``
expression tree over the pair join — pure Catalyst, whole-stage codegen.
The reference's ±0.001 tie-break noise (deterministic_feature.py:1416-1420)
is deliberately dropped: scores are deterministic and ties break on
(id1, id2).

Column-pruning discipline: candidates join against the *signatures* table
(digests + shingle arrays + sketches), never the raw ``bytes`` column —
audio blobs are never shuffled (SURVEY.md §7 hard part 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.functions.similarity import hamming_similarity, jaccard
from entity_deduplication_spark.operators.pairs import attach_pair_features
from entity_deduplication_spark.operators.suffix import run_verify_udf
from entity_deduplication_spark.sources.io import stage

_SIG_COLS = [
    "bytes_md5",
    "transcript_norm",
    "shingles",
    "audio_shingles",
    "simhash",
]


def score_pairs(
    feat: DataFrame,
    cfg: DedupConfig,
    signatures: DataFrame | None = None,
    id_col: str = "clip_id",
) -> DataFrame:
    """Evidence-weighted score per pair -> (id1, id2, score, <evidence cols>).

    Tiering mirrors the reference's weight table + primary/supporting
    combination with diminishing returns and cap
    (deterministic_feature.py:80-102, 1329-1383):

    * exact byte duplicate -> 1.0;
    * primary evidence = max of weighted transcript-Jaccard,
      audio-Jaccard, SimHash-Hamming similarity;
    * each additional strong supporting signal adds +0.05, capped at 0.99.
    """
    w = cfg.weights
    t_j = jaccard(F.col("shingles_1"), F.col("shingles_2"))
    # degenerate-signature guard (see DedupConfig.min_audio_shingles)
    a_ok = (F.size("audio_shingles_1") >= cfg.min_audio_shingles) & (
        F.size("audio_shingles_2") >= cfg.min_audio_shingles
    )
    a_j = F.when(
        a_ok, jaccard(F.col("audio_shingles_1"), F.col("audio_shingles_2"))
    ).otherwise(F.lit(0.0))
    s_h = hamming_similarity(F.col("simhash_1"), F.col("simhash_2"))
    # eqNullSafe: a NULL digest/transcript never yields a NULL predicate —
    # the two-phase split below routes on this flag, and under three-valued
    # logic a NULL would silently drop the pair from BOTH branches.
    exact = (
        F.col("bytes_md5_1").eqNullSafe(F.col("bytes_md5_2"))
        & F.col("bytes_md5_1").isNotNull()
        & F.col("transcript_norm_1").eqNullSafe(F.col("transcript_norm_2"))
        & F.col("transcript_norm_1").isNotNull()
    )

    scored = feat.withColumn("transcript_jaccard", t_j)
    scored = scored.withColumn("audio_jaccard", a_j)
    scored = scored.withColumn("simhash_sim", s_h)
    scored = scored.withColumn("is_exact", exact)

    # exact substring-run evidence (suffix/winnowing family): Arrow-batched
    # L-gram-hash intersection. Evaluated ONLY for pairs not already decided
    # by the pure-Catalyst evidence — Python UDFs inside when() branches are
    # extracted into unconditional ArrowEvalPython nodes, so the gating must
    # happen in the plan shape, not the expression (two-phase verify).
    #
    # Slim + materialize BEFORE the easy/hard split: a union's two
    # branches each re-evaluate their common input subtree, so with
    # the array payloads still attached the split would run the
    # whole join + array-jaccard pipeline TWICE per pair (measured
    # as ~2x verify CPU at 300k clips — the plan showed 8 pair-side
    # joins where the single-pass plan has 4). SCALARS ONLY cross
    # this boundary (~50 B/pair): carrying the two normalized
    # transcripts here put ~500 B/pair into the materialized cache
    # — at 800k clips / ~50M candidates that is ~25 GB of
    # long-lived serialized blocks, which (with the array-payload
    # broadcasts, see tools/scale_run.py) drove the 48 GB heap into
    # GC collapse: stage tasks ran 45+ min with every stack in
    # MemoryStore.putIterator / SQLOpenHashSet. The hard minority
    # re-joins transcripts below instead.
    scored = stage(
        scored.select(
            "id1",
            "id2",
            "transcript_jaccard",
            "audio_jaccard",
            "simhash_sim",
            "is_exact",
        )
    )

    # total split: coalesce(..., False) guarantees every candidate row
    # lands in exactly one branch even if an evidence column is NULL
    # (e.g. NULL transcript_norm with equal digests) — otherwise
    # filter(decided) and filter(~decided) would BOTH drop it.
    decided = F.coalesce(
        F.col("is_exact")
        | (F.col("transcript_jaccard") >= cfg.jaccard_threshold)
        | (F.col("audio_jaccard") >= cfg.audio_jaccard_threshold),
        F.lit(False),
    )
    easy = scored.filter(decided).withColumn("run_len", F.lit(0))
    hard = scored.filter(~decided)
    # Transcripts are attached ONLY to the undecided minority (the
    # easy branch never reads them). ``signatures`` is the slim
    # (clip_id, transcript_norm) source; when the caller cannot
    # supply it, fall back to the transcript columns already in
    # ``feat`` — but then they must ride through the checkpoint.
    if signatures is not None:
        hard = attach_pair_features(hard, signatures, ["transcript_norm"], id_col)
    else:  # pragma: no cover - exercised only by direct score_pairs use
        trans = feat.select("id1", "id2", "transcript_norm_1", "transcript_norm_2")
        hard = hard.join(trans, ["id1", "id2"])
    hard = hard.withColumn(
        "run_len",
        run_verify_udf(cfg.min_run_chars)(
            F.col("transcript_norm_1"), F.col("transcript_norm_2")
        ),
    ).drop("transcript_norm_1", "transcript_norm_2")
    scored = easy.unionByName(hard)

    strong_t = F.col("transcript_jaccard") >= cfg.jaccard_threshold
    strong_a = F.col("audio_jaccard") >= cfg.audio_jaccard_threshold
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
               w["transcript_jaccard"]),
        family(F.col("audio_jaccard"), cfg.audio_jaccard_threshold,
               w["audio_jaccard"]),
        # SimHash approximates text Jaccard — supporting evidence only
        # (never clears base alone; the oracle has no simhash family)
        F.col("simhash_sim") * F.lit(base * 0.9),
        F.when(strong_r, F.lit(base) + F.lit(0.05) * w["substring_run"]).otherwise(
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
    score = F.when(F.col("is_exact"), F.lit(1.0)).otherwise(
        F.least(primary + support, F.lit(0.99))
    )
    return scored.withColumn("score", score)


def verified_edges(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """candidates -> (id1, id2, score) edges above match_threshold.

    Early exact-drop: a candidate pair whose bytes digest OR normalized
    transcript match exactly is already connected by the O(n) chain edges
    (plans.pipeline.exact_edges), so it never needs the wide feature join
    — only the 32-byte digests are attached to decide this. On dup-heavy
    corpora this removes a large fraction of pairs BEFORE the join that
    ships shingle/audio arrays, cutting the verify shuffle accordingly.
    The resulting cluster assignments are identical; only redundant edge
    rows disappear.
    """
    keys = signatures.select(
        F.col("clip_id"),
        F.col("bytes_md5"),
        F.md5(F.col("transcript_norm")).alias("tn_md5"),
        (F.length("transcript_norm") > 0).alias("tn_ok"),
    )
    chained = F.coalesce(
        (F.col("bytes_md5_1") == F.col("bytes_md5_2"))
        | (
            F.col("tn_md5_1").eqNullSafe(F.col("tn_md5_2"))
            & F.col("tn_ok_1")
            & F.col("tn_ok_2")
        ),
        F.lit(False),
    )
    pairs = (
        attach_pair_features(pairs, keys, ["bytes_md5", "tn_md5", "tn_ok"])
        .filter(~chained)
        .select("id1", "id2")
    )
    feat = attach_pair_features(pairs, signatures, _SIG_COLS)
    scored = score_pairs(feat, cfg, signatures=signatures)
    return scored.filter(F.col("score") >= cfg.match_threshold).select(
        "id1", "id2", "score"
    )
