"""Round-3 operators: token_set empty-set fix, loud oversize blocks,
bounded ML training collect, MLP scorer, training-pair generator,
social-handle extraction, embedding auto-routing, Louvain guards."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

# ---------------------------------------------------------------------------
# token_set_ratio: the empty-set subset shortcut (ADVICE round-2 medium)
# ---------------------------------------------------------------------------


def test_token_set_ratio_empty_vs_nonempty_is_not_100():
    from entity_deduplication_spark.functions.fuzzy import batch_token_set_ratio

    out = batch_token_set_ratio(["", "hello world", ""], ["hello world", "", ""])
    # empty-vs-nonempty: intersection is empty -> NOT the containment
    # shortcut; the best section ratio is ratio("", "hello world") = 0
    assert out[0] == 0.0
    assert out[1] == 0.0
    # empty-vs-empty: ratio of two empties is 100 by convention
    assert out[2] == 100.0


def test_token_set_ratio_containment_still_shortcuts():
    from entity_deduplication_spark.functions.fuzzy import batch_token_set_ratio

    out = batch_token_set_ratio(
        ["acme corp", "alpha beta gamma"], ["acme corp international", "delta"]
    )
    assert out[0] == 100.0  # {acme, corp} subset with nonempty intersection
    assert out[1] < 100.0


# ---------------------------------------------------------------------------
# block_self_join_pairs on_oversize="truncate"
# ---------------------------------------------------------------------------


def test_block_oversize_truncate_is_silent_and_bounded(spark):
    from entity_deduplication_spark.operators.pairs import block_self_join_pairs

    keyed = spark.range(50).select(
        F.lit("hot").alias("k"), F.col("id").alias("clip_id")
    )
    pairs = block_self_join_pairs(
        keyed, key_cols=["k"], block_size_limit=10, on_oversize="truncate"
    )
    assert pairs.count() == 45  # C(10,2) from the kept prefix


# ---------------------------------------------------------------------------
# bounded, deterministic ML training collect
# ---------------------------------------------------------------------------


def _toy_labeled(spark, n=500):
    rows = [
        (float(i % 2), [float(i % 7) / 7.0, float(i % 3) / 3.0])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "label double, features array<double>")


def test_training_collect_is_capped_and_deterministic(spark):
    from entity_deduplication_spark.operators.ml import _collect_training_sample

    labeled = _toy_labeled(spark)
    s1 = _collect_training_sample(labeled, "label", 100)
    s2 = _collect_training_sample(labeled, "label", 100)
    assert len(s1) == 100
    pd.testing.assert_frame_equal(
        s1.reset_index(drop=True), s2.reset_index(drop=True)
    )


def test_train_pair_scorer_unchanged_when_under_cap(spark):
    from entity_deduplication_spark.operators.ml import (
        _collect_training_sample,
        fit_logistic,
        train_pair_scorer,
    )

    labeled = _toy_labeled(spark, n=60)
    w, b = train_pair_scorer(labeled, max_rows=10_000)
    pdf = _collect_training_sample(labeled, "label", 10_000)
    assert len(pdf) == 60  # sample is the full frame when under the cap
    X = np.stack(pdf["features"].to_numpy())
    y = pdf["label"].to_numpy().astype(np.float64)
    order = np.lexsort(X.T[::-1])
    w2, b2 = fit_logistic(X[order], y[order])
    assert np.allclose(w, w2) and b == b2


# ---------------------------------------------------------------------------
# MLP scorer (V8)
# ---------------------------------------------------------------------------


def test_mlp_fit_deterministic_and_learns():
    from entity_deduplication_spark.operators.ml import fit_mlp, mlp_forward

    rng = np.random.default_rng(3)
    X = rng.standard_normal((400, 5))
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(np.float64)
    p1 = fit_mlp(X, y)
    p2 = fit_mlp(X, y)
    for k in p1:
        assert np.array_equal(np.asarray(p1[k]), np.asarray(p2[k]))
    preds = mlp_forward(X, p1) > 0.5
    assert (preds == y.astype(bool)).mean() > 0.95


def test_score_with_mlp_matches_driver_oracle(spark):
    from entity_deduplication_spark.operators.ml import (
        fit_mlp,
        mlp_forward,
        score_with_mlp,
    )

    rng = np.random.default_rng(4)
    X = rng.standard_normal((50, 5))
    y = (X.sum(axis=1) > 0).astype(np.float64)
    params = fit_mlp(X, y)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "pair_id long, features array<double>",
    )
    got = {
        r["pair_id"]: r["mlp_score"]
        for r in score_with_mlp(df, params).collect()
    }
    want = np.round(mlp_forward(X, params), 4)
    for i in range(50):
        assert got[i] == pytest.approx(want[i], abs=1e-9)


# ---------------------------------------------------------------------------
# training-pair generation (R4)
# ---------------------------------------------------------------------------


def test_generate_training_pairs_tiers_and_labels(spark):
    from entity_deduplication_spark.operators.ml import generate_training_pairs

    rows = []
    # 3 exact-duplicate groups of 4 (strong-key positives)
    for g in range(3):
        for m in range(4):
            rows.append((g * 10 + m, f"exact duplicate text group {g}"))
    # near-identical prefix group (challenging / pos_sim band)
    rows.append((100, "alpha beta gamma delta epsilon"))
    rows.append((101, "alpha beta gamma delta zeta"))
    # unrelated fillers for negatives
    for i in range(40):
        rows.append((200 + i, f"totally unrelated filler number {i} xyz{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = generate_training_pairs(
        df,
        "doc_id",
        "text",
        strong_key=F.md5(F.col("text")),
        group_key=F.substring(F.col("text"), 1, 10),
    ).toPandas()

    tiers = set(out["tier"])
    assert "pos_key" in tiers and "neg" in tiers
    assert (out[out["tier"] == "pos_key"]["label"] == 1).all()
    assert (out[out["tier"] == "neg"]["label"] == 0).all()
    # pair uniqueness across tiers
    assert not out.duplicated(["id1", "id2"]).any()
    # strong-key positives pair only within the planted duplicate groups
    pk = out[out["tier"] == "pos_key"]
    assert len(pk) > 0
    for _, r in pk.iterrows():
        assert r["id1"] // 10 == r["id2"] // 10

    # deterministic under re-run
    out2 = generate_training_pairs(
        df,
        "doc_id",
        "text",
        strong_key=F.md5(F.col("text")),
        group_key=F.substring(F.col("text"), 1, 10),
    ).toPandas()
    a = out.sort_values(["id1", "id2"]).reset_index(drop=True)
    b = out2.sort_values(["id1", "id2"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


# ---------------------------------------------------------------------------
# social-handle extraction (P7)
# ---------------------------------------------------------------------------


def test_social_handle_extraction(spark):
    from entity_deduplication_spark.functions.text import social_handle

    cases = [
        ("https://x.example/Alice", "alice"),
        ("https://x.example/team/Bob?ref=feed", "bob"),
        ("https://x.example/Carol/", "carol"),
        ("https://x.example/Dave//?a=1&b=2", "dave"),
        ("no-slashes-here", ""),
        (None, ""),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select("i", social_handle(F.col("url")).alias("h")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


# ---------------------------------------------------------------------------
# embedding pair auto-routing + n-aware band tuning
# ---------------------------------------------------------------------------


def test_tune_rhp_bands_n_aware_picks_smaller_buckets():
    from entity_deduplication_spark.operators.ann import tune_rhp_bands

    r_sel, _ = tune_rhp_bands(0.9)
    r_10k, b_10k = tune_rhp_bands(0.9, n_rows=10_000)
    r_1m, _ = tune_rhp_bands(0.9, n_rows=1_000_000)
    assert r_10k > r_sel  # cost model picks far more selective bands
    assert r_1m > r_10k  # and grows with corpus size
    # miss budget still honored
    import math

    p = 1.0 - math.acos(0.9) / math.pi
    assert (1.0 - p**r_10k) ** b_10k <= 1e-9


def test_embedding_auto_routes_low_threshold_to_exact(spark):
    from entity_deduplication_spark.operators.dedup import embedding_cosine_pairs

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((80, 8))
    df = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    auto = embedding_cosine_pairs(
        df, "vec_id", "embedding", threshold=0.3, method="auto"
    )
    # low threshold -> the grid path (one applyInPandas over chunk cells,
    # no band-bucket self-join window)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # the grid kernel
    assert "Window" not in plan  # no block-size window = no bucket join
    exact = embedding_cosine_pairs(
        df, "vec_id", "embedding", threshold=0.3, method="exact"
    )
    a = sorted(map(tuple, auto.collect()))
    e = sorted(map(tuple, exact.collect()))
    assert a == e and len(a) > 0


# ---------------------------------------------------------------------------
# Louvain: giant-component guard + two-level community pin
# ---------------------------------------------------------------------------


def test_louvain_two_cliques_two_levels():
    from entity_deduplication_spark.operators.louvain import louvain_communities

    edges = []
    for base in (0, 10):
        for i in range(4):
            for j in range(i + 1, 4):
                edges.append((base + i, base + j, 1.0))
    edges.append((0, 10, 0.1))  # weak bridge
    assign = louvain_communities(edges)
    assert {assign[i] for i in range(4)} == {0}
    assert {assign[10 + i] for i in range(4)} == {10}


def test_louvain_split_giant_component_falls_back(spark):
    from entity_deduplication_spark.operators.louvain import louvain_split_oversized

    # one oversized cluster (12 nodes, chain+clique edges)
    nodes = list(range(12))
    clusters = spark.createDataFrame(
        [(n, 0) for n in nodes], "clip_id long, cluster_id long"
    )
    edges = []
    for i in range(6):
        for j in range(i + 1, 6):
            edges.append((i, j, 1.0))
    for i in range(6, 12):
        for j in range(i + 1, 12):
            edges.append((i, j, 1.0))
    edges.append((5, 6, 0.8))
    e = spark.createDataFrame(edges, "id1 long, id2 long, score double")

    out = louvain_split_oversized(
        clusters, e, max_size=8, max_edges_per_component=5
    ).toPandas()
    # every node still assigned exactly once, and the giant cluster split
    assert sorted(out["clip_id"]) == nodes
    sizes = out.groupby("cluster_id").size()
    assert sizes.max() <= 8


# ---------------------------------------------------------------------------
# semantic blend (V9)
# ---------------------------------------------------------------------------


def test_semantic_blend_matches_hand_computed(spark):
    from entity_deduplication_spark.operators.fuzzy import semantic_blend_pairs

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[len(b)]

    rows = [
        (0, "alpha beta gamma", [1.0, 0.0, 0.0, 0.1], "g1"),
        (1, "beta alpha gamma", [0.9, 0.1, 0.0, 0.1], "g1"),
        (2, "totally different words", [0.0, 1.0, 0.0, 0.0], "g1"),
        (3, "alpha beta gamma", [1.0, 0.0, 0.05, 0.1], "g2"),
    ]
    df = spark.createDataFrame(
        rows, "id long, txt string, vec array<double>, grp string"
    )
    got = {
        (r["id1"], r["id2"]): (r["cos_sim"], r["lev_sim"], r["blended_sim"])
        for r in semantic_blend_pairs(
            df, "id", "txt", "vec", F.col("grp"), threshold=0.0
        ).collect()
    }
    # oracle: all in-group pairs with blend > 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if rows[i][3] != rows[j][3]:
                continue
            a, b = np.array(rows[i][2]), np.array(rows[j][2])
            cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            ts_i = " ".join(sorted(rows[i][1].split()))
            ts_j = " ".join(sorted(rows[j][1].split()))
            ls = 1.0 - lev(ts_i, ts_j) / max(len(ts_i), len(ts_j), 1)
            blend = 0.7 * cos + 0.3 * ls
            if blend <= 0.0:
                assert (rows[i][0], rows[j][0]) not in got
                continue
            g = got[(rows[i][0], rows[j][0])]
            assert g[0] == pytest.approx(round(cos, 4), abs=1e-9)
            assert g[1] == pytest.approx(round(ls, 4), abs=1e-9)
            assert g[2] == pytest.approx(round(blend, 4), abs=1e-9)
    # token-sorted: ids 0 and 1 are anagram-token texts -> lev_sim 1.0
    assert got[(0, 1)][1] == 1.0
