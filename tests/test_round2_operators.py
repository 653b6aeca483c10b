"""Round-2 operators: embedding LSH/grid parity, Rand agreement,
canonical backfill, n-gram skew cap, global sorted neighborhood, ML
scorer."""

import numpy as np
import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# embedding pairs: LSH default == exact grid == numpy brute force
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_sf001(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_embedding_lsh_equals_exact_grid(spark, emb_sf001):
    from entity_deduplication_spark.operators.dedup import embedding_cosine_pairs

    lsh = embedding_cosine_pairs(emb_sf001, "vec_id", "embedding", 0.35)
    grid = embedding_cosine_pairs(
        emb_sf001, "vec_id", "embedding", 0.35, method="exact"
    )
    lp = {(r["id1"], r["id2"]): r["cos_sim"] for r in lsh.collect()}
    gp = {(r["id1"], r["id2"]): r["cos_sim"] for r in grid.collect()}
    assert set(lp) == set(gp)
    for k in lp:
        assert abs(lp[k] - gp[k]) < 1e-3  # numpy vs Catalyst float paths


def test_embedding_grid_matches_numpy(spark):
    from entity_deduplication_spark.operators.dedup import embedding_cosine_pairs

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((60, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(60)],
        "vec_id: long, embedding: array<double>",
    )
    got = {
        (r["id1"], r["id2"])
        for r in embedding_cosine_pairs(
            df, "vec_id", "embedding", 0.5, method="exact", grid_chunks=4
        ).collect()
    }
    nm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = nm @ nm.T
    exp = {
        (i, j)
        for i in range(60)
        for j in range(i + 1, 60)
        if sims[i, j] >= 0.5
    }
    assert got == exp


def test_embedding_lsh_plan_has_no_cross_join(spark, emb_sf001):
    from entity_deduplication_spark.operators.dedup import embedding_cosine_pairs

    plan = (
        embedding_cosine_pairs(emb_sf001, "vec_id", "embedding", 0.35)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tune_rhp_bands():
    from entity_deduplication_spark.operators.ann import tune_rhp_bands

    r_low, b_low = tune_rhp_bands(0.35)
    r_high, b_high = tune_rhp_bands(0.9)
    assert r_high > r_low  # tighter threshold -> more bits per band
    assert b_low >= 1 and b_high >= 1
    # miss bound holds by construction
    import math

    for thr, (r, b) in ((0.35, (r_low, b_low)), (0.9, (r_high, b_high))):
        p = 1 - math.acos(thr) / math.pi
        assert (1 - p**r) ** b <= 1e-9


# ---------------------------------------------------------------------------
# Rand / ARI agreement
# ---------------------------------------------------------------------------


def _pair_counts_ref(a: dict, b: dict):
    ids = sorted(a)
    ss = sd = ds = dd = 0
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            x, y = ids[i], ids[j]
            sa_, sb_ = a[x] == a[y], b[x] == b[y]
            ss += sa_ and sb_
            sd += sa_ and not sb_
            ds += (not sa_) and sb_
            dd += (not sa_) and (not sb_)
    return ss, sd, ds, dd


def test_rand_index_matches_bruteforce(spark):
    from entity_deduplication_spark.operators.stats import rand_index

    a = {i: i % 3 for i in range(30)}
    b = {i: i % 5 for i in range(30)}
    da = spark.createDataFrame(list(a.items()), ["clip_id", "cluster_id"])
    db = spark.createDataFrame(list(b.items()), ["clip_id", "cluster_id"])
    row = rand_index(da, db).collect()[0]
    ss, sd, ds, dd = _pair_counts_ref(a, b)
    total = ss + sd + ds + dd
    assert row["n"] == 30
    assert row["total_pairs"] == total == 435
    assert row["agree_pairs"] == ss + dd
    assert row["rand_index"] == round((ss + dd) / total, 4)
    num = 2.0 * (ss * dd - sd * ds)
    den = (ss + sd) * (sd + dd) + (ss + ds) * (ds + dd)
    assert row["adjusted_rand"] == round(num / den, 4)


def test_rand_index_identical_partitions(spark):
    from entity_deduplication_spark.operators.stats import rand_index

    a = [(i, i // 4) for i in range(20)]
    da = spark.createDataFrame(a, ["clip_id", "cluster_id"])
    row = rand_index(da, da).collect()[0]
    assert row["rand_index"] == 1.0 and row["adjusted_rand"] == 1.0


# ---------------------------------------------------------------------------
# canonical backfill
# ---------------------------------------------------------------------------


def test_backfill_canonical(spark):
    from entity_deduplication_spark.operators.canonical import (
        backfill_canonical,
        elect_canonical,
    )

    rows = [
        # cluster 1: winner (most complete) has empty name -> mode backfill
        ("a", 1, "", "x st, apt 2, nyc", 9),
        ("b", 1, "acme", "x st", 1),
        ("c", 1, "acme", None, 1),
        ("d", 1, "acme inc", "x st, nyc", 1),
        # cluster 2: winner keeps its own non-empty name
        ("e", 2, "keepme", "y st", 5),
        ("f", 2, "other", "y st, floor 9, sf", 1),
    ]
    df = spark.createDataFrame(
        rows, ["clip_id", "cluster_id", "name", "address", "score"]
    )
    canon = elect_canonical(df, order_col="score")
    filled = backfill_canonical(
        canon, df, mode_cols=["name"], detail_cols=["address"]
    )
    got = {r["cluster_id"]: r for r in filled.collect()}
    assert got[1]["clip_id"] == "a"
    assert got[1]["name"] == "acme"  # mode (2 of 3 non-empty), tie-broken asc
    assert got[1]["address"] == "x st, apt 2, nyc"  # own value kept
    assert got[2]["name"] == "keepme"
    # winner e's address non-empty -> kept even though f's is more detailed
    assert got[2]["address"] == "y st"


def test_field_modes_ignores_null_and_empty(spark):
    from entity_deduplication_spark.operators.canonical import field_modes

    rows = [
        (1, None), (1, ""), (1, "z"), (1, "z"), (1, "y"),
        (2, ""), (2, None),
    ]
    df = spark.createDataFrame(rows, ["cluster_id", "dom"])
    got = {r["cluster_id"]: r["mode_dom"] for r in field_modes(df, ["dom"]).collect()}
    assert got == {1: "z"}  # cluster 2 has no non-empty value -> no row


# ---------------------------------------------------------------------------
# n-gram skew cap
# ---------------------------------------------------------------------------


def test_ngram_cap_bounds_hot_gram(spark):
    from entity_deduplication_spark.operators.dedup import ngram_jaccard_pairs

    # 30 docs all share one hot trigram; only 0/1 are real near-dups
    hot = "common shared trigram"
    rows = [(0, f"{hot} alpha beta gamma delta"), (1, f"{hot} alpha beta gamma echo")]
    rows += [(i, f"{hot} unique{i} tail{i} word{i} x{i}") for i in range(2, 30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.3)
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", 3, 0.3, max_gram_doc_freq=10
    )
    up = {(r["id1"], r["id2"]) for r in uncapped.collect()}
    cp = {(r["id1"], r["id2"]) for r in capped.collect()}
    # the hot gram alone never clears the threshold, so dropping it from
    # the join side must not change the result here
    assert (0, 1) in up and cp == up
    # exactness below the cap: high limit == no limit
    loose = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", 3, 0.3, max_gram_doc_freq=1000
        ).collect()
    }
    assert loose == up


# ---------------------------------------------------------------------------
# global sorted neighborhood
# ---------------------------------------------------------------------------


def test_sorted_neighborhood_global_matches_naive(spark):
    from entity_deduplication_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    rng = np.random.default_rng(13)
    rows = [(int(i), f"k{int(rng.integers(0, 50)):02d}") for i in range(200)]
    df = spark.createDataFrame(rows, ["clip_id", "sort_key"]).repartition(8)
    window = 4
    got = {
        (r["id1"], r["id2"])
        for r in sorted_neighborhood_pairs(
            df, sort_col="sort_key", window=window
        ).collect()
    }
    order = [i for i, _ in sorted(rows, key=lambda r: (r[1], r[0]))]
    exp = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + 1 + window, len(order))):
            x, y = order[i], order[j]
            exp.add((min(x, y), max(x, y)))
    assert got == exp


# ---------------------------------------------------------------------------
# ML scorer
# ---------------------------------------------------------------------------


def test_logistic_scorer_roundtrip(spark):
    from entity_deduplication_spark.operators.ml import (
        fit_logistic,
        pair_features,
        score_with_model,
    )

    rows = [
        (1, "alpha beta gamma", "alpha beta gamma"),
        (2, "alpha beta gamma", "beta alpha gamma"),
        (3, "alpha beta gamma", "totally unrelated text"),
        (4, "spark engine join", "spark engine joins"),
    ]
    df = spark.createDataFrame(rows, ["pid", "_t1", "_t2"])
    feat = pair_features(df)
    pdf = feat.orderBy("pid").toPandas()
    X = np.stack(pdf["features"].to_numpy())
    y = np.array([1.0, 1.0, 0.0, 1.0])
    w, b = fit_logistic(X, y)
    scored = {r["pid"]: r["ml_score"] for r in score_with_model(feat, w, b).collect()}
    # model separates the obvious non-match
    assert scored[3] < 0.5 < scored[1]
    # distributed scores == driver-side numpy sigmoid
    z = X @ w + b
    exp = 1.0 / (1.0 + np.exp(-z))
    for pid, e in zip(pdf["pid"], exp):
        assert abs(scored[pid] - round(float(e), 4)) <= 1e-4
    # determinism
    w2, b2 = fit_logistic(X, y)
    assert np.array_equal(w, w2) and b == b2
