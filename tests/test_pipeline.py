"""End-to-end pipeline: planted-truth recall, determinism, resume (F1/F3)."""

import os
import shutil
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_deduplication_spark.audio.wav import encode_wav
from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.operators.pairs import chain_edges_within_block
from entity_deduplication_spark.plans.pipeline import (
    DedupPipeline,
    build_signatures,
    candidate_pairs,
    exact_edges,
)
from entity_deduplication_spark.sources.io import CheckpointManager


def _pair_set(df, cluster_col):
    a = df.select(F.col("clip_id").alias("id1"), F.col(cluster_col).alias("c"))
    b = df.select(F.col("clip_id").alias("id2"), F.col(cluster_col).alias("c"))
    return a.join(b, "c").filter("id1 < id2").select("id1", "id2")


def _wav(seed):
    pcm = np.random.default_rng(seed).uniform(-0.5, 0.5, 1600)
    return encode_wav(pcm.astype("float32"), 8000)


def _sentence(seed, n=30):
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return " ".join("".join(rng.choice(letters, 6)) for _ in range(n))


def _last_job_id(spark) -> int:
    """Id of the newest job in the status store (ids count up from 0)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


@pytest.fixture(scope="module")
def result_1k(spark, clips_1k):
    clips, _ = clips_1k
    return DedupPipeline(spark).run(clips)


def test_pipeline_planted_truth_recall(spark, clips_1k, result_1k):
    clips, truth = clips_1k
    clusters = result_1k.clusters
    assert clusters.count() == clips.count()

    truth_pairs = _pair_set(truth, "true_cluster_id").cache()
    our_pairs = _pair_set(clusters, "cluster_id").cache()
    nt = truth_pairs.count()
    inter = truth_pairs.join(our_pairs, ["id1", "id2"]).count()
    no = our_pairs.count()
    recall = inter / nt
    precision = inter / no if no else 1.0
    assert recall >= 0.99, f"recall {recall:.4f}"
    assert precision >= 0.95, f"precision {precision:.4f}"


def test_canonical_and_metrics(spark, clips_1k, result_1k):
    clips, _ = clips_1k
    canon = result_1k.canonical.cache()
    n_clusters = result_1k.clusters.select("cluster_id").distinct().count()
    assert canon.count() == n_clusters
    row = canon.filter(F.col("cluster_size") > 1).first()
    assert row["cluster_id"] in row["record_ids"]
    assert row["record_ids"] == sorted(row["record_ids"])
    m = result_1k.metrics.first()
    assert m["total_records"] == clips.count()
    assert m["unique_entities"] == n_clusters
    # verified and exact edges are disjoint, so their union has no repeats
    edges = result_1k.edges
    assert edges.count() == edges.select("id1", "id2").distinct().count()


def test_pipeline_deterministic(spark, clips_1k):
    clips, _ = clips_1k
    clips = clips.limit(400)
    r1 = DedupPipeline(spark).run(clips).clusters
    r2 = DedupPipeline(spark).run(clips).clusters
    assert r1.exceptAll(r2).isEmpty() and r2.exceptAll(r1).isEmpty()


def test_pipeline_resume_from_checkpoint(spark, clips_1k, tmp_ckpt):
    """Kill-after-signatures semantics: a re-run with checkpoints present
    reuses them and yields byte-identical clusters (north_rule)."""
    clips, _ = clips_1k
    clips = clips.limit(400)
    pipe = DedupPipeline(spark, checkpoint_dir=tmp_ckpt)
    first = pipe.run(clips).clusters.toPandas().sort_values("clip_id")

    # simulate failure after candidate_pairs: drop downstream stages only
    for stage in ("edges", "clusters"):
        shutil.rmtree(os.path.join(tmp_ckpt, stage), ignore_errors=True)
    assert os.path.exists(os.path.join(tmp_ckpt, "signatures", "_SUCCESS"))

    resumed = DedupPipeline(spark, checkpoint_dir=tmp_ckpt).run(clips)
    second = resumed.clusters.toPandas().sort_values("clip_id")
    assert first.reset_index(drop=True).equals(second.reset_index(drop=True))

    # lineage rows were written per stage
    lineage = spark.read.parquet(os.path.join(tmp_ckpt, "_lineage"))
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"signatures", "candidate_pairs", "edges", "clusters"} <= stages


def test_config_threshold_sweep_monotone(spark, clips_1k):
    """Stricter thresholds -> no more pairs than looser thresholds."""
    clips, _ = clips_1k
    small = clips.limit(300)
    loose = DedupPipeline(
        spark, DedupConfig(match_threshold=0.6, jaccard_threshold=0.6)
    ).run(small)
    strict = DedupPipeline(
        spark, DedupConfig(match_threshold=0.9, jaccard_threshold=0.95)
    ).run(small)
    assert _pair_set(strict.clusters, "cluster_id").count() <= _pair_set(
        loose.clusters, "cluster_id"
    ).count()


def test_signature_contract_and_empty_digests(spark):
    """The signature stage keeps only what later layers read, and an empty
    key (audio, transcript) yields a NULL digest, never a shared one."""
    rows = [
        ("full", _wav(1), "a clip with words"),
        ("no_audio", b"", "a clip with words"),
        ("empty_text", _wav(2), ""),
        ("punct_text", _wav(3), "!!! ???"),
        ("null_text", _wav(4), None),
    ]
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, transcript string"
    )
    sig = build_signatures(clips, DedupConfig())
    assert set(sig.columns) == {
        "clip_id", "transcript_norm", "bytes_md5", "transcript_md5",
        "shingles", "audio_shingles", "simhash", "bands", "audio_bands",
        "fps", "n_words",
    }
    got = {
        r["clip_id"]: (r["bytes_md5"], r["transcript_md5"])
        for r in sig.select("clip_id", "bytes_md5", "transcript_md5").collect()
    }
    assert got["full"][0] is not None and got["full"][1] is not None
    assert got["no_audio"][0] is None and got["no_audio"][1] == got["full"][1]
    for cid in ("empty_text", "punct_text", "null_text"):
        assert got[cid][0] is not None and got[cid][1] is None, cid


def test_undecodable_audio_gives_no_audio_evidence(spark):
    """Empty, truncated and header-only WAV blobs get empty audio shingles
    and bands, as a NULL blob does, instead of failing the signature
    stage; byte-identical copies still share a digest."""
    truncated = _wav(1)[:30]  # cut inside the fmt chunk
    header_only = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    rows = [
        ("full", _wav(1), "a clip with words"),
        ("empty", b"", "a clip with words"),
        ("truncated", truncated, "another clip"),
        ("truncated_copy", truncated, "a third clip"),
        ("header_only", header_only, "a fourth clip"),
    ]
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, transcript string"
    )
    sig = build_signatures(clips, DedupConfig()).select(
        "clip_id", "bytes_md5", "audio_shingles", "audio_bands"
    )
    got = {r["clip_id"]: r for r in sig.collect()}
    assert len(got["full"]["audio_shingles"]) > 0
    for cid in ("empty", "truncated", "truncated_copy", "header_only"):
        assert got[cid]["audio_shingles"] == [], cid
        assert got[cid]["audio_bands"] == [], cid
    assert got["truncated"]["bytes_md5"] is not None
    assert got["truncated"]["bytes_md5"] == got["truncated_copy"]["bytes_md5"]


def test_degenerate_audio_gives_no_audio_evidence(spark):
    """Silence collapses to one audio shingle, so two unrelated silent
    clips would be audio Jaccard 1.0: the signature stage empties a set
    smaller than ``min_audio_shingles``, and verify rejects the pair."""
    from entity_deduplication_spark.operators.verify import verified_edges

    rows = [
        (f"silent_{n}", encode_wav(np.zeros(n, dtype="float32"), 8000), _sentence(n))
        for n in (1600, 2400)
    ]
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, transcript string"
    )
    cfg = DedupConfig()
    sig = build_signatures(clips, cfg)
    for r in sig.select("audio_shingles", "audio_bands").collect():
        assert r["audio_shingles"] == [] and r["audio_bands"] == []
    pair = spark.createDataFrame(
        [("silent_1600", "silent_2400")], "id1 string, id2 string"
    )
    assert verified_edges(pair, sig, cfg).count() == 0


def test_checkpoint_stage_is_one_write_plus_lineage_row(spark, clips_1k, tmp_ckpt):
    """A fresh checkpointed stage runs its write's jobs plus one lineage
    append, and each stage's lineage row holds its table's row count."""

    def agg():
        return spark.range(0, 20_000).groupBy(
            (F.col("id") % 97).alias("k")
        ).agg(F.count(F.lit(1)).alias("n"))

    start = _last_job_id(spark)
    agg().write.parquet(os.path.join(tmp_ckpt, "plain_write"))
    written = _last_job_id(spark)
    out = CheckpointManager(spark, tmp_ckpt).get_or_compute("agg", agg)
    done = _last_job_id(spark)
    assert done - written == (written - start) + 1
    assert out.count() == 97

    clips, _ = clips_1k
    DedupPipeline(spark, checkpoint_dir=tmp_ckpt).run(clips.limit(200))
    lineage = spark.read.parquet(os.path.join(tmp_ckpt, "_lineage"))
    assert lineage.columns == ["stage", "rows", "run_ts"]
    got = sorted((r["stage"], r["rows"]) for r in lineage.collect())
    stages = ["agg", "candidate_pairs", "clusters", "edges", "signatures"]
    assert got == [
        (name, spark.read.parquet(os.path.join(tmp_ckpt, name)).count())
        for name in stages
    ]


def test_candidate_pairs_hold_no_exact_linked_pair(spark):
    """Candidates are only the pairs verification must decide: byte- and
    transcript-identical copies block together but drop out (exact_edges
    links them), while a near-duplicate pair stays even though both of
    its bytes digests are NULL (empty audio is no evidence)."""
    same_text = _sentence(1)
    near = _sentence(2).split()
    rows = [(f"b{i}", _wav(1), _sentence(10 + i)) for i in range(3)]
    rows += [(f"t{i}", _wav(2 + i), same_text) for i in range(3)]
    rows += [(f"e{i}", b"", "") for i in range(3)]
    rows += [
        ("n0", b"", " ".join(near)),
        ("n1", b"", " ".join(near[:-1] + ["zzzzzz"])),
    ]
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, transcript string"
    )
    cfg = DedupConfig()
    sig = build_signatures(clips, cfg)
    keys = {
        r["clip_id"]: (r["bytes_md5"], r["transcript_md5"])
        for r in sig.select("clip_id", "bytes_md5", "transcript_md5").collect()
    }
    assert keys["b0"][0] == keys["b1"][0] and keys["t0"][1] == keys["t1"][1]
    assert keys["e0"] == (None, None) and keys["n0"][0] is None

    got = {(r["id1"], r["id2"]) for r in candidate_pairs(sig, cfg).collect()}
    for a, b in got:
        for x, y in zip(keys[a], keys[b]):
            assert x is None or x != y, (a, b)
    assert ("n0", "n1") in got

    edges = {(r["id1"], r["id2"]) for r in exact_edges(sig).collect()}
    assert edges == {("b0", "b1"), ("b1", "b2"), ("t0", "t1"), ("t1", "t2")}


def test_exact_edges_chain_both_digests_in_one_window(spark):
    """A pair both digests link comes out once, NULL digests link nothing,
    an equal digest of the other kind links nothing, and the edges are the
    union of the per-digest chains."""
    rows = [
        ("a", "k1", "k2"),
        ("b", "k1", "k2"),
        ("c", "k1", None),
        ("d", None, "k3"),
        ("e", None, "k3"),
        ("f", None, None),
        ("g", None, None),
        ("h", "k4", None),
        ("i", None, "k4"),
    ]
    sig = spark.createDataFrame(
        rows, "clip_id string, bytes_md5 string, transcript_md5 string"
    )
    got = exact_edges(sig).collect()
    pairs = [(r["id1"], r["id2"]) for r in got]
    assert sorted(pairs) == [("a", "b"), ("b", "c"), ("d", "e")]
    assert {r["score"] for r in got} == {1.0}

    per_key = set()
    for key in ("bytes_md5", "transcript_md5"):
        keyed = sig.select("clip_id", key).filter(F.col(key).isNotNull())
        chains = chain_edges_within_block(keyed, key_cols=[key]).collect()
        per_key |= {(r["id1"], r["id2"]) for r in chains}
    assert set(pairs) == per_key


def test_checkpoint_uri_dir_is_reused_on_resume(
    spark, tmp_ckpt, tmp_path, monkeypatch
):
    """A checkpoint dir given as a file:// URI is computed once and read
    back on the second call, and nothing lands in the working directory."""
    monkeypatch.chdir(tmp_path)
    ckpt = CheckpointManager(spark, "file://" + os.path.abspath(tmp_ckpt))
    calls = []

    def compute():
        calls.append(1)
        return spark.range(10)

    first = ckpt.get_or_compute("ids", compute).count()
    second = ckpt.get_or_compute("ids", compute).count()
    assert (first, second, len(calls)) == (10, 10, 1)
    assert os.path.exists(os.path.join(tmp_ckpt, "ids", "_SUCCESS"))
    assert os.listdir(tmp_path) == []


def test_checkpointed_metrics_are_computed_once(spark, result_1k, tmp_ckpt):
    """With a checkpoint dir the run's metrics frame is staged once: a
    read of ``res.metrics`` runs at most one job, and it holds the row
    appended to ``_metrics``."""
    res = DedupPipeline(spark, checkpoint_dir=tmp_ckpt).run_from_signatures(
        result_1k.signatures.limit(100), resume=False
    )
    before = _last_job_id(spark)
    row = res.metrics.first()
    assert _last_job_id(spark) - before <= 1
    (stored,) = spark.read.parquet(os.path.join(tmp_ckpt, "_metrics")).collect()
    assert stored["stage"] == "final"
    assert {c: stored[c] for c in res.metrics.columns} == row.asDict()
    assert row["total_records"] == 100
