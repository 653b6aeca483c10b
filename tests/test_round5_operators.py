"""Round-5 pins: ADVICE fixes (oversized-bucket chain candidates, the
deploy-gated checkpoint, embedding method validation) + the duplicate-
flood recovery property that round 4's skip policy silently violated."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# block_self_join_pairs on_oversize="chain"
# ---------------------------------------------------------------------------


def test_block_self_join_chain_mode(spark):
    from entity_deduplication_spark.operators.pairs import block_self_join_pairs

    keyed = spark.createDataFrame(
        [(f"c{i}", "hot") for i in range(6)] + [("x", "ok"), ("y", "ok")],
        "clip_id string, block_key string",
    )
    out = block_self_join_pairs(
        keyed, ["block_key"], block_size_limit=4, on_oversize="chain"
    ).collect()
    pairs = {(r["id1"], r["id2"]) for r in out}
    # cold block: full pairs; oversized block: consecutive-by-id chain
    # (5 edges for 6 members), NOT all C(6,2)=15 pairs and NOT nothing
    assert pairs == {("x", "y")} | {
        (f"c{i}", f"c{i + 1}") for i in range(5)
    }


def test_embedding_cosine_pairs_unknown_method_rejected(spark):
    from entity_deduplication_spark.operators.dedup import embedding_cosine_pairs

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="unknown method"):
        embedding_cosine_pairs(
            df, "vec_id", "embedding", threshold=0.9, method="bogus"
        )


# ---------------------------------------------------------------------------
# duplicate-flood recovery: a real near-dup group LARGER than
# band_bucket_cap, whose members share every band key and have NO exact
# key (bytes differ via noise re-encodes, transcripts empty), must still
# come out as ONE cluster — round 4's on_oversize="skip" lost it.
# ---------------------------------------------------------------------------


def test_flood_group_larger_than_bucket_cap_survives(spark):
    from entity_deduplication_spark.audio.wav import CODEC_S16, encode_wav
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.datagen import _perturb_noise, _synth_pcm
    from entity_deduplication_spark.plans.pipeline import DedupPipeline

    rng = np.random.default_rng(5)
    sr, dur = 16000, 600
    base = _synth_pcm(rng, sr, dur)
    n_flood = 20
    rows = []
    for i in range(n_flood):
        pcm = _perturb_noise(rng, base, snr_db=42.0)  # distinct bytes
        rows.append(
            (f"flood_{i:03d}", encode_wav(pcm, sr, CODEC_S16), sr, dur,
             CODEC_S16, "")
        )
    # a few unrelated singletons so the pipeline has non-flood mass
    for i in range(5):
        pcm = _synth_pcm(rng, sr, dur)
        rows.append(
            (f"solo_{i:03d}", encode_wav(pcm, sr, CODEC_S16), sr, dur,
             CODEC_S16, f"unrelated words {i} here")
        )
    clips = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    cfg = DedupConfig(band_bucket_cap=8)  # flood (20) >> cap (8)
    res = DedupPipeline(spark, cfg).run(clips, resume=False)
    assign = {
        r["clip_id"]: r["cluster_id"] for r in res.clusters.collect()
    }
    flood_clusters = {assign[f"flood_{i:03d}"] for i in range(n_flood)}
    assert len(flood_clusters) == 1, (
        f"flood group split into {len(flood_clusters)} clusters — "
        "oversized-bucket chain candidates failed to connect it"
    )
    solo_clusters = {assign[f"solo_{i:03d}"] for i in range(5)}
    assert len(solo_clusters) == 5
    assert flood_clusters.isdisjoint(solo_clusters)


# ---------------------------------------------------------------------------
# streaming delta contract: two successive availableNow drains through the
# SAME checkpoint ingest only the delta, and re-clustering the accumulated
# signatures equals a from-scratch batch run on the union (round-4 verdict
# ask #5 — test_run_from_signatures_matches_run covered the batch half)
# ---------------------------------------------------------------------------


def test_streaming_two_drain_delta_and_recluster(spark, tmp_ckpt):
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.datagen import generate_clips
    from entity_deduplication_spark.plans.pipeline import DedupPipeline
    from entity_deduplication_spark.streaming.ingest import stream_signatures

    base = os.path.join(os.path.dirname(tmp_ckpt), "stream2")
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    clips_pd, _ = generate_clips(60, seed=33)
    clips_pd.iloc[:30].to_parquet(os.path.join(in_dir, "batch1.parquet"),
                                  index=False)

    cfg = DedupConfig()
    q1 = stream_signatures(spark, in_dir, out_dir, ck, cfg=cfg)
    q1.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 30

    # second drop: a NEW drain over the same checkpoint must ingest ONLY
    # the delta file (total 60, not 90 — re-ingest would duplicate rows)
    clips_pd.iloc[30:].to_parquet(os.path.join(in_dir, "batch2.parquet"),
                                  index=False)
    q2 = stream_signatures(spark, in_dir, out_dir, ck, cfg=cfg)
    q2.awaitTermination(120)
    sigs = spark.read.parquet(out_dir)
    assert sigs.count() == 60
    assert sigs.select("clip_id").distinct().count() == 60

    # re-clustering the accumulated signatures == from-scratch batch run
    # on the union of both drops
    streamed = DedupPipeline(spark, cfg).run_from_signatures(
        sigs, resume=False
    )
    scratch = DedupPipeline(spark, cfg).run(
        spark.createDataFrame(clips_pd), resume=False
    )
    a = {(r["clip_id"], r["cluster_id"]) for r in streamed.clusters.collect()}
    b = {(r["clip_id"], r["cluster_id"]) for r in scratch.clusters.collect()}
    assert a == b and len(a) == 60
    shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# config-pinned EXACT driver-side oracles for the two remaining rows-only
# approximate operators (same recipe as round 4's MinHash-LSH oracle): at
# fixed seeds/bands the candidate sets are deterministic, so a pure-Python
# replication can assert exact pair / top-k equality, not just recall.
# ---------------------------------------------------------------------------

_M64 = 1 << 64


def test_simhash_pairs_match_driver_side_oracle(spark):
    """Exact oracle for simhash_pairs: pure-Python bit-majority SimHash,
    block-combination Hamming-LSH candidates (Manku-style — every
    (n_blocks - radius)-subset of contiguous blocks is a band), exact
    popcount verify at radius 3 — (id1, id2, hamming_sim) must match
    EXACTLY."""
    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.functions.text import word_shingles
    from entity_deduplication_spark.operators.dedup import simhash_pairs

    cfg = DedupConfig()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["id1"], r["id2"]): r["hamming_sim"]
        for r in simhash_pairs(docs, "doc_id", "text").collect()
    }

    # shingles are the operator's INPUT (same pure-Catalyst expression);
    # the oracle covers everything after
    sh = {
        r["doc_id"]: [x & (_M64 - 1) for x in r["s"]]
        for r in docs.select(
            "doc_id", word_shingles(F.col("text"), cfg.shingle_k).alias("s")
        ).collect()
    }

    def simhash(shingles: list[int]) -> int:
        if not shingles:
            return 0
        n = len(shingles)
        h = 0
        for bit in range(64):
            ones = sum((x >> bit) & 1 for x in shingles)
            if 2 * ones > n:
                h |= 1 << bit
        return h

    sim = {i: simhash(s) for i, s in sh.items()}
    from entity_deduplication_spark.functions.hashing import (
        simhash_hamming_blocks,
    )

    widths, offsets, combos = simhash_hamming_blocks(
        cfg.simhash_n_blocks, cfg.simhash_hamming_max
    )
    buckets: dict = {}
    for i, h in sim.items():
        for band_idx, combo in enumerate(combos):
            key = 0
            for b in combo:
                key = (key << widths[b]) | ((h >> offsets[b]) & ((1 << widths[b]) - 1))
            buckets.setdefault((band_idx, key), []).append(i)
    cand = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cand.add(
                    (min(members[x], members[y]), max(members[x], members[y]))
                )
    want = {}
    for i1, i2 in cand:
        dist = bin(sim[i1] ^ sim[i2]).count("1")
        if dist <= cfg.simhash_hamming_max:
            want[(i1, i2)] = round(1.0 - dist / 64.0, 4)
    assert got == want
    assert len(want) > 0  # the fixture must actually exercise the radius


def test_ann_lsh_topk_matches_driver_side_oracle(spark):
    """Exact oracle for lsh_topk: pure-numpy replication of the seeded
    hyperplane signatures, band-key candidate join, sequential-fold
    cosine re-rank, and (rounded sim, neighbor_id) ranking — the full
    (query_id, neighbor_id, cos_sim, rank) set must match EXACTLY."""
    from entity_deduplication_spark.operators.ann import lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    got = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in lsh_topk(emb, queries, "vec_id", "embedding", k=10).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}
    dim, n_planes, bands, seed, k = 64, 32, 4, 42, 10
    r_bits = n_planes // bands
    planes = np.random.default_rng(seed).standard_normal((dim, n_planes))
    sigs = {}
    for vid, v in vecs.items():
        bits = (v @ planes) > 0
        sigs[vid] = int(
            (bits.astype(np.uint64) @ (1 << np.arange(n_planes,
                                                      dtype=np.uint64)))
        )

    def band_key(sig: int, i: int) -> int:
        return (sig >> (i * r_bits)) & ((1 << r_bits) - 1)

    def fold_cos(a: np.ndarray, b: np.ndarray) -> float:
        # replicate the JVM aggregate's sequential left-fold in doubles
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        denom = np.sqrt(na) * np.sqrt(nb)
        return dot / denom if denom > 0 else 0.0

    cand: dict[int, set[int]] = {q: set() for q in vecs if q < 8}
    corpus_buckets: dict = {}
    for vid, s in sigs.items():
        for i in range(bands):
            corpus_buckets.setdefault((i, band_key(s, i)), []).append(vid)
    for q in cand:
        for i in range(bands):
            for vid in corpus_buckets.get((i, band_key(sigs[q], i)), []):
                if vid != q:
                    cand[q].add(vid)
    want = set()
    for q, neighbors in cand.items():
        scored = sorted(
            ((round(fold_cos(vecs[q], vecs[n]), 4), n) for n in neighbors),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cs, n) in enumerate(scored[:k], start=1):
            want.add((q, n, cs, rank))
    assert got == want
    assert len(want) > 0


# ---------------------------------------------------------------------------
# chunked scale datagen
# ---------------------------------------------------------------------------


def test_generate_clips_id_offset_makes_chunks_disjoint():
    """Chunked scale datagen must produce globally unique clip_ids.

    The r4/r5a 800k-clip scale runs were invalid because every 50k chunk
    restarted clip_id at 0: each id appeared once per chunk, so every
    downstream id-equijoin (verify payload joins, cluster assignment)
    multiplied by the chunk count — 48.9M candidate pairs became 12.5B
    joined rows. ``id_offset`` is the fix; this pins it.
    """
    from entity_deduplication_spark.datagen import generate_clips

    chunk = 40
    frames = []
    for k in range(3):
        clips, truth = generate_clips(chunk, seed=1000 + k, id_offset=k * chunk)
        assert len(clips) == chunk
        # truth stays internally consistent: cluster id = a member clip_id
        assert set(truth["true_cluster_id"]).issubset(set(truth["clip_id"]))
        frames.append(clips)

    ids = [cid for f in frames for cid in f["clip_id"]]
    assert len(ids) == len(set(ids)) == 3 * chunk
    # offsets tile the global numbering exactly
    assert set(ids) == {f"clip_{n:08d}" for n in range(3 * chunk)}
    # offset shifts ids only — payloads are seed-determined, not offset-
    # determined (same seed + different offset => same bytes/transcript)
    a, _ = generate_clips(10, seed=5, id_offset=0)
    b, _ = generate_clips(10, seed=5, id_offset=1000)
    assert list(a["transcript"]) == list(b["transcript"])
    assert [bytes(x) for x in a["bytes"]] == [bytes(x) for x in b["bytes"]]


def test_simhash_hamming_banding_complete_for_radius():
    """Pigeonhole completeness of block-combination Hamming-LSH: any two
    64-bit values within Hamming distance <= radius share at least one
    (band_idx, band_key). Property-checked over seeded random flips —
    this is the guarantee the old rotated-prefix banding lacked (3 dirty
    bits could land in every rotated 16-bit prefix)."""
    import random

    from entity_deduplication_spark.functions.hashing import (
        simhash_hamming_blocks,
    )

    n_blocks, radius = 6, 3
    widths, offsets, combos = simhash_hamming_blocks(n_blocks, radius)
    assert sum(widths) == 64 and len(combos) == 20

    def keys(h: int) -> set:
        out = set()
        for band_idx, combo in enumerate(combos):
            key = 0
            for b in combo:
                key = (key << widths[b]) | (
                    (h >> offsets[b]) & ((1 << widths[b]) - 1)
                )
            out.add((band_idx, key))
        return out

    rng = random.Random(42)
    for _ in range(500):
        h = rng.getrandbits(64)
        flips = rng.sample(range(64), rng.randint(0, radius))
        h2 = h
        for bit in flips:
            h2 ^= 1 << bit
        assert keys(h) & keys(h2), f"missed pair at flips={flips}"
    # and a radius+1 adversarial case CAN miss (sanity that keys do
    # discriminate): one flip inside every one of 4+ distinct blocks
    h = rng.getrandbits(64)
    h2 = h
    for b in range(radius + 1):
        h2 ^= 1 << offsets[b]
    assert not (keys(h) & keys(h2))


def test_candidate_pairs_fp_df_cap_skips_common_phrase_buckets(spark):
    """A substring fingerprint shared by more than fp_df_cap clips is a
    stopword-like phrase: its bucket must emit NO pairs (skip, not
    chain), while rarer fingerprints still pair up. Distinct transcripts
    are used so the minhash/exact families cannot rescue the bucket."""
    import pandas as pd

    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.datagen import encode_wav
    from entity_deduplication_spark.plans.pipeline import (
        build_signatures,
        candidate_pairs,
    )
    import numpy as np

    cfg = DedupConfig()
    common = "the quick brown fox jumps over the lazy dog again"
    rows = []
    # 2*fp_df_cap clips sharing one >=20-char run inside OTHERWISE
    # DISTINCT long transcripts (low pairwise Jaccard, distinct audio)
    rng = np.random.default_rng(7)
    vocab = [f"w{i:03d}" for i in range(400)]
    for i in range(2 * cfg.fp_df_cap):
        filler1 = " ".join(rng.choice(vocab, 12))
        filler2 = " ".join(rng.choice(vocab, 12))
        pcm = rng.standard_normal(1600).astype("float32") * 0.1
        rows.append(
            dict(
                clip_id=f"clip_{i:08d}",
                bytes=encode_wav(pcm, 16000, "pcm_s16le"),
                sr_hz=16000,
                dur_ms=100,
                codec="pcm_s16le",
                transcript=f"{filler1} {common} {filler2}",
            )
        )
    # plus one planted rare pair sharing its own unique run
    rare = "zebra quartz vortex jackal umbra nexus"
    for j, i in enumerate(range(len(rows), len(rows) + 2)):
        filler = " ".join(rng.choice(vocab, 12))
        pcm = rng.standard_normal(1600).astype("float32") * 0.1
        rows.append(
            dict(
                clip_id=f"clip_{i:08d}",
                bytes=encode_wav(pcm, 16000, "pcm_s16le"),
                sr_hz=16000,
                dur_ms=100,
                codec="pcm_s16le",
                transcript=f"{filler} {rare}",
            )
        )
    clips = spark.createDataFrame(pd.DataFrame(rows))
    sig = build_signatures(clips, cfg).localCheckpoint(eager=True)
    pairs = {
        (r["id1"], r["id2"])
        for r in candidate_pairs(sig, cfg).collect()
    }
    rare_pair = (rows[-2]["clip_id"], rows[-1]["clip_id"])
    assert rare_pair in pairs
    # the common-run crowd must NOT be all-pairs connected: its df>cap
    # fingerprint buckets are skipped, so any surviving pairs among those
    # clips come from other (linear-mass) families
    crowd = [r["clip_id"] for r in rows[: 2 * cfg.fp_df_cap]]
    crowd_pairs = {p for p in pairs if p[0] in crowd and p[1] in crowd}
    n = len(crowd)
    assert len(crowd_pairs) < n * (n - 1) / 4, (
        f"common-phrase bucket emitted near-quadratic pairs: "
        f"{len(crowd_pairs)} of {n*(n-1)//2}"
    )
