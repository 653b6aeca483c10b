"""Dedup family / ANN / quality operators + streaming ingestion."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from entity_deduplication_spark.operators.ann import (
    brute_force_topk,
    lsh_topk,
    rhp_bucket_pairs,
)
from entity_deduplication_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_clusters,
    ngram_jaccard_pairs,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup
        (2, "a quick brown fox jumps over the lazy dog today ok"),   # near dup
        (3, "completely different text about spark engines and joins"),
        (4, "another unrelated document mentioning parquet files only"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    got = {r["doc_id"]: r["cluster_id"] for r in exact_dedup(docs, "doc_id", F.col("text")).collect()}
    assert got[0] == got[1] == 0
    assert got[2] == 2 and got[3] == 3


def test_ngram_jaccard_pairs_and_clusters(spark, docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.3).collect()
    assert {(r["id1"], r["id2"]) for r in pairs} == {(0, 1), (0, 2), (1, 2)}
    exact_pair = [r for r in pairs if (r["id1"], r["id2"]) == (0, 1)][0]
    assert exact_pair["jaccard"] == 1.0
    cl = {r["doc_id"]: r["cluster_id"] for r in
          ngram_jaccard_clusters(docs, "doc_id", "text", 3, 0.3).collect()}
    assert cl[0] == cl[1] == cl[2] == 0
    assert cl[3] == 3 and cl[4] == 4


def test_minhash_lsh_matches_exact_on_obvious_dups(spark, docs):
    cl = {r["doc_id"]: r["cluster_id"] for r in
          minhash_lsh_dedup(docs, "doc_id", "text").collect()}
    assert cl[0] == cl[1]
    assert cl[3] != cl[0] and cl[4] != cl[0]


def test_simhash_pairs_finds_exact_dup(spark, docs):
    got = {(r["id1"], r["id2"]) for r in simhash_pairs(docs, "doc_id", "text").collect()}
    assert (0, 1) in got
    assert not any(3 in p or 4 in p for p in got)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    rows = []
    for i in range(20):
        rows.append((i, [float(x) for x in base[i]]))
    # 20,21: near-duplicates of 0 and 1
    rows.append((20, [float(x) for x in base[0] + rng.normal(0, 0.01, 16)]))
    rows.append((21, [float(x) for x in base[1] + rng.normal(0, 0.01, 16)]))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")


def test_brute_force_topk(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    got = brute_force_topk(vectors, q, k=3).collect()
    assert len(got) == 3
    assert got[0]["query_id"] == 0
    top1 = [r for r in got if r["rank"] == 1][0]
    assert top1["neighbor_id"] == 20 and top1["cos_sim"] > 0.99


def test_embedding_cosine_pairs(spark, vectors):
    got = {(r["id1"], r["id2"]) for r in
           embedding_cosine_pairs(vectors, "vec_id", "embedding", 0.99).collect()}
    assert got == {(0, 20), (1, 21)}


def test_lsh_topk_recovers_near_dups(spark, vectors):
    q = vectors.filter(F.col("vec_id") < 2)
    got = lsh_topk(vectors, q, k=3, n_planes=16, bands=8)
    top = {r["query_id"]: r["neighbor_id"] for r in got.collect() if r["rank"] == 1}
    assert top[0] == 20 and top[1] == 21


def test_rhp_bucket_pairs_contains_near_dups(spark, vectors):
    got = {(r["id1"], r["id2"]) for r in
           rhp_bucket_pairs(vectors, n_planes=16, bands=8).collect()}
    assert (0, 20) in got and (1, 21) in got


def test_quality_functions(spark):
    from entity_deduplication_spark.functions.quality import (
        bpe_ish_token_count,
        lang_id_udf,
        quality_score,
        stopword_ratio,
        token_count,
    )

    df = spark.createDataFrame(
        [("the cat and the dog sat on the mat today ok",),
         ("",), ("!!! ??? ...",)],
        ["text"],
    )
    rows = df.select(
        token_count(F.col("text")).alias("n"),
        F.round(stopword_ratio(F.col("text")), 4).alias("sw"),
        F.round(quality_score(F.col("text")), 2).alias("q"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).collect()
    assert rows[0]["n"] == 11 and rows[1]["n"] == 0
    assert rows[0]["sw"] > 0.3
    assert rows[0]["q"] >= 0.9 and rows[2]["q"] < 0.5
    assert rows[0]["bpe"] >= rows[0]["n"]
    lang = spark.createDataFrame(
        [("the thing and the others are running",), ("que los amigos están cansados",)],
        ["text"],
    ).select(lang_id_udf()(F.col("text")).alias("lang")).collect()
    assert lang[0]["lang"] == "en" and lang[1]["lang"] == "es"


def _stream_dirs(tmp_ckpt):
    """Fresh (in, out, ck) dirs; ``in`` holds 60 clips in two files."""
    from entity_deduplication_spark.datagen import generate_clips

    base = os.path.join(os.path.dirname(tmp_ckpt), "stream")
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    clips, _ = generate_clips(60, seed=31)
    clips.iloc[:30].to_parquet(os.path.join(in_dir, "part1.parquet"), index=False)
    clips.iloc[30:].to_parquet(os.path.join(in_dir, "part2.parquet"), index=False)
    return base, in_dir, out_dir, ck


def test_streaming_signature_ingestion(spark, tmp_ckpt):
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.plans.pipeline import build_signatures
    from entity_deduplication_spark.streaming.ingest import stream_signatures

    base, in_dir, out_dir, ck = _stream_dirs(tmp_ckpt)
    q = stream_signatures(spark, in_dir, out_dir, ck)
    q.awaitTermination(120)
    sigs = spark.read.parquet(out_dir)
    assert sigs.count() == 60
    # the batch signature contract (pinned in tests/test_pipeline.py)
    batch = build_signatures(spark.read.parquet(in_dir), DedupConfig())
    assert sigs.columns == batch.columns
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_replay_after_lost_commit_adds_no_rows(spark, tmp_ckpt):
    """A crash between a batch's write and its commit replays the batch on
    restart; the replay must not append the batch's rows a second time."""
    from entity_deduplication_spark.streaming.ingest import stream_signatures

    base, in_dir, out_dir, ck = _stream_dirs(tmp_ckpt)
    stream_signatures(spark, in_dir, out_dir, ck).awaitTermination(120)
    commits = os.path.join(ck, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        path = os.path.join(commits, name)
        if os.path.exists(path):
            os.remove(path)
    stream_signatures(spark, in_dir, out_dir, ck).awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 60
    shutil.rmtree(base, ignore_errors=True)


def test_sharded_substring_pairs_matches_default(spark):
    """The range-partitioned generalized-SA shard variant finds the same
    qualifying pairs as the per-pair verify path."""
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.operators.suffix import (
        sharded_substring_pairs,
        substring_run_pairs,
    )

    rows = [
        ("a", "prefix alpha shared twenty char run here suffix one"),
        ("b", "other alpha shared twenty char run here trailing xx"),
        ("c", "nothing in common with anyone at all in this text!"),
        ("d", "prefix alpha shared twenty char run here suffix two"),
    ]
    sig = spark.createDataFrame(rows, ["clip_id", "transcript_norm"])
    cfg = DedupConfig()
    p1 = {(r["id1"], r["id2"]) for r in substring_run_pairs(sig, cfg).collect()}
    p2 = {(r["id1"], r["id2"]) for r in sharded_substring_pairs(sig, cfg).collect()}
    expected = {("a", "b"), ("a", "d"), ("b", "d")}
    assert p1 == expected
    assert p2 == expected
