"""Pairwise verification (operators.verify): one-pass evidence scoring
with the run verifier gated by masking its inputs."""

import pytest

from test_stage import _sql_executions


@pytest.fixture(scope="module")
def sig_300(spark):
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.datagen import generate_clips
    from entity_deduplication_spark.plans.pipeline import build_signatures
    from entity_deduplication_spark.sources.io import stage

    clips_pd, _ = generate_clips(300, seed=77)
    return stage(build_signatures(spark.createDataFrame(clips_pd), DedupConfig()))


def _job_count(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsc.sc().statusStore().jobsList(None).size()


def _arrow_eval_nodes(df) -> int:
    """ArrowEvalPython nodes in the executed (final adaptive) plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return sum("ArrowEvalPython" in ln for ln in plan.treeString().splitlines())


def test_score_pairs_runs_verifier_only_on_undecided_pairs(spark, sig_300):
    """Every candidate is scored exactly once; ``run_len`` is the run
    verifier's answer on the two transcripts for pairs the Catalyst
    evidence left undecided and 0 for decided pairs, and no transcript
    payload reaches the output."""
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.operators.pairs import attach_pair_features
    from entity_deduplication_spark.operators.suffix import run_verify_udf
    from entity_deduplication_spark.operators.verify import _SIG_COLS, score_pairs
    from entity_deduplication_spark.plans.pipeline import candidate_pairs

    cfg = DedupConfig()
    keys = sig_300.select("clip_id", "transcript_norm").toPandas()
    keys = keys.set_index("clip_id")
    open_pairs = candidate_pairs(sig_300, cfg).toPandas()

    feat = attach_pair_features(
        spark.createDataFrame(open_pairs), sig_300, _SIG_COLS
    )
    scored = score_pairs(feat, cfg)
    assert not [c for c in scored.columns if c.startswith("transcript_norm")]

    got = scored.toPandas()
    assert len(got) == len(open_pairs)
    assert not got.duplicated(["id1", "id2"]).any()
    assert set(zip(got["id1"], got["id2"])) == set(
        zip(open_pairs["id1"], open_pairs["id2"])
    )

    decided = (got["transcript_jaccard"] >= cfg.jaccard_threshold) | (
        got["audio_jaccard"] >= cfg.audio_jaccard_threshold
    )
    assert decided.any() and (~decided).any()
    t1 = keys["transcript_norm"].reindex(got["id1"]).reset_index(drop=True)
    t2 = keys["transcript_norm"].reindex(got["id2"]).reset_index(drop=True)
    runs = run_verify_udf(cfg.min_run_chars).func(t1, t2)
    want = runs.where(~decided, 0)
    assert (got["run_len"] == want).all()
    assert (want[~decided] > 0).any()


def test_verify_plans_are_one_pass(spark, sig_300):
    """Building ``verified_edges`` runs nothing, collecting it is one SQL
    execution, and the executed plans of ``verified_edges`` and
    ``substring_run_pairs`` each evaluate the run verifier in exactly one
    ArrowEvalPython node (a pushed-down score filter does not copy it)."""
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.operators.suffix import substring_run_pairs
    from entity_deduplication_spark.operators.verify import verified_edges
    from entity_deduplication_spark.plans.pipeline import candidate_pairs
    from entity_deduplication_spark.sources.io import stage

    cfg = DedupConfig()
    cand = stage(candidate_pairs(sig_300, cfg).select("id1", "id2"))

    jobs = _job_count(spark)
    last = max(e.executionId() for e in _sql_executions(spark))
    edges = verified_edges(cand, sig_300, cfg)
    assert _job_count(spark) == jobs
    assert not [e for e in _sql_executions(spark) if e.executionId() > last]

    rows = edges.collect()
    new = [e for e in _sql_executions(spark) if e.executionId() > last]
    assert len(new) == 1
    assert len(rows) > 0
    assert _arrow_eval_nodes(edges) == 1

    runs = substring_run_pairs(sig_300, cfg)
    assert runs.collect()
    assert _arrow_eval_nodes(runs) == 1
