"""Pairwise verification (operators.verify): evidence scoring and the
two-phase easy/hard split."""


def test_score_pairs_transcript_rejoin_matches_fallback(spark):
    """The scale fix keeps the pre-split verify materialization to evidence
    scalars (~50 B/pair) and re-joins transcripts from the signature table
    for the undecided hard minority only (at 800k clips the transcript-
    carrying checkpoint plus payload broadcasts collapsed the heap into GC
    thrash — see operators/verify.py). Pin: the re-join path scores every
    pair identically to the fallback path that reads transcripts from the
    feature join, and neither output carries transcript payload columns."""
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.datagen import generate_clips
    from entity_deduplication_spark.operators.pairs import attach_pair_features
    from entity_deduplication_spark.operators.verify import _SIG_COLS, score_pairs
    from entity_deduplication_spark.plans.pipeline import (
        build_signatures,
        candidate_pairs,
    )
    from entity_deduplication_spark.sources.io import stage

    clips_pd, _ = generate_clips(300, seed=77)
    cfg = DedupConfig()
    sig = stage(build_signatures(spark.createDataFrame(clips_pd), cfg))
    cand = candidate_pairs(sig, cfg).select("id1", "id2")
    feat = attach_pair_features(cand, sig, _SIG_COLS)

    rejoin = score_pairs(feat, cfg, signatures=sig)
    fallback = score_pairs(feat, cfg)
    assert "transcript_norm_1" not in rejoin.columns
    assert "transcript_norm_1" not in fallback.columns

    def keyed(df):
        return {
            (r["id1"], r["id2"]): (round(r["score"], 6), r["run_len"])
            for r in df.collect()
        }

    got, want = keyed(rejoin), keyed(fallback)
    assert got == want
    assert len(got) > 0
    # the split is total: every candidate pair scored exactly once
    assert len(got) == cand.count()
