"""ML-based pair scorer (reference V6/V7 family, from scratch).

The reference's ml_based resolver builds a per-pair feature vector
(ml_based.py:76-164) and scores it with a trained classifier
(RandomForest at ml_based.py:166-240; a Keras NN at deep_learning.py:
115-187). Neither sklearn nor any DL framework is assumed here: the
scorer is a from-scratch numpy logistic regression —

* features are computed DISTRIBUTED (one batch-vectorized Arrow UDF per
  pair batch — functions.fuzzy kernels + set overlap, no per-row Python);
* training collects only the small labeled sample to the driver (the
  reference trains driver-side too), fits full-batch gradient descent
  with fixed seed/iterations — bit-deterministic;
* scoring broadcasts the weight vector into a pandas_udf: sigmoid(Xw+b)
  per Arrow batch, executor-side.

This is the supervised alternative to the rule-based evidence combiner in
operators.verify; the feature set is the text-pair subset of the
reference's 19 features (name ratios, token overlap, length difference).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from entity_deduplication_spark.functions.fuzzy import (
    batch_ratio,
    batch_token_set_ratio,
    batch_token_sort_ratio,
)

FEATURE_NAMES = [
    "ratio",
    "token_sort_ratio",
    "token_set_ratio",
    "token_jaccard",
    "len_ratio",
]


def _batch_token_jaccard(t1: list[str], t2: list[str]) -> np.ndarray:
    """Whitespace-token Jaccard per pair, batch-vectorized: factorize the
    whole batch's tokens to int codes once (C-level), then per-row
    distinct counts via np.unique + bincount over (row, code) keys —
    |A ∩ B| = |A| + |B| - |A ∪ B|. Two empty sets score 1.0."""
    n = len(t1)
    split_a = [s.split() for s in t1]  # row fill only; set ops are batched
    split_b = [s.split() for s in t2]
    ca_lens = np.fromiter((len(x) for x in split_a), dtype=np.int64, count=n)
    cb_lens = np.fromiter((len(x) for x in split_b), dtype=np.int64, count=n)
    flat = [t for toks in split_a for t in toks]
    flat += [t for toks in split_b for t in toks]
    codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
    m = max(len(uniq), 1)
    ra = np.repeat(np.arange(n, dtype=np.int64), ca_lens)
    rb = np.repeat(np.arange(n, dtype=np.int64), cb_lens)
    ka = np.unique(ra * m + codes[: len(ra)])
    kb = np.unique(rb * m + codes[len(ra) :])
    na = np.bincount(ka // m, minlength=n)
    nb = np.bincount(kb // m, minlength=n)
    nu = np.bincount(np.unique(np.concatenate([ka, kb])) // m, minlength=n)
    inter = na + nb - nu
    return np.where(nu > 0, inter / np.maximum(nu, 1), 1.0)


def _feature_matrix(t1: list[str], t2: list[str]) -> np.ndarray:
    """(batch x 5) float64 feature matrix, fully batch-vectorized."""
    n = len(t1)
    f = np.empty((n, 5), dtype=np.float64)
    f[:, 0] = batch_ratio(t1, t2) / 100.0
    f[:, 1] = batch_token_sort_ratio(t1, t2) / 100.0
    f[:, 2] = batch_token_set_ratio(t1, t2) / 100.0
    f[:, 3] = _batch_token_jaccard(t1, t2)
    la = np.fromiter((len(s) for s in t1), dtype=np.float64, count=n)
    lb = np.fromiter((len(s) for s in t2), dtype=np.float64, count=n)
    f[:, 4] = np.minimum(la, lb) / np.maximum(np.maximum(la, lb), 1.0)
    return f


def pair_features(
    pairs: DataFrame, text1: str = "_t1", text2: str = "_t2"
) -> DataFrame:
    """Append ``features array<double>`` (FEATURE_NAMES order) per pair."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _feat(s1: pd.Series, s2: pd.Series) -> pd.Series:
        a = ["" if v is None else str(v) for v in s1]
        b = ["" if v is None else str(v) for v in s2]
        return pd.Series(list(_feature_matrix(a, b)))

    return pairs.withColumn("features", _feat(F.col(text1), F.col(text2)))


def fit_logistic(X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, float]:
    """Deterministic full-batch GD logistic regression -> (weights, bias):
    300 iterations at learning rate 1."""
    w = np.zeros(X.shape[1])
    b = 0.0
    n = len(y)
    for _ in range(300):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        g = p - y
        w -= (X.T @ g) / n
        b -= float(g.mean())
    return w, b


def _collect_training_sample(
    labeled: DataFrame, label_col: str, max_rows: int
) -> pd.DataFrame:
    """Deterministic, BOUNDED driver collection of the training sample.

    The reference trains on ~10^4 pairs driver-side (ml_based.py:200-240)
    but nothing used to enforce that here — a caller passing the full
    candidate set was a driver OOM at 100x scale. A seeded hash order +
    limit keeps the collect at ``max_rows`` regardless of input size;
    orderBy+limit plans as TakeOrdered (per-partition top-N, merged), so
    only ``max_rows`` rows ever reach the driver. The fit itself is
    order-independent (lexsort before GD).
    """
    sample = (
        labeled.select("features", label_col)
        .orderBy(F.xxhash64(F.to_json(F.struct("features", label_col))))
        .limit(max_rows)
    )
    return sample.toPandas()


def _fit_on_sample(labeled: DataFrame, fit, max_rows: int):
    """``fit(X, y)`` on the bounded training sample of a (features,
    label) DataFrame, its rows sorted by features so the fit does not
    depend on the collection order."""
    pdf = _collect_training_sample(labeled, "label", max_rows)
    X = np.stack(pdf["features"].to_numpy())
    y = pdf["label"].to_numpy().astype(np.float64)
    order = np.lexsort(X.T[::-1])
    return fit(X[order], y[order])


def train_pair_scorer(
    labeled: DataFrame, max_rows: int = 10_000
) -> tuple[np.ndarray, float]:
    """Fit on a (features, label) DataFrame. At most ``max_rows`` rows are
    collected (deterministic hash-ordered sample — see
    _collect_training_sample); sort by features for order-independence."""
    return _fit_on_sample(labeled, fit_logistic, max_rows)


def score_with_model(
    pairs_with_features: DataFrame, w: np.ndarray, b: float
) -> DataFrame:
    """Append ``ml_score`` = sigmoid(features . w + b); weights broadcast
    in the UDF closure (tiny), evaluated per Arrow batch."""
    wv = np.asarray(w, dtype=np.float64)
    bv = float(b)

    @F.pandas_udf(T.DoubleType())
    def _score(feats: pd.Series) -> pd.Series:
        X = np.stack(feats.to_numpy())
        z = X @ wv + bv
        return pd.Series(1.0 / (1.0 + np.exp(-np.clip(z, -30, 30))))

    return pairs_with_features.withColumn(
        "ml_score", F.round(_score(F.col("features")), 4)
    )


# --------------------------------------------------------------------------
# V8: from-scratch 1-hidden-layer MLP scorer (deep_learning.py:158-187's
# feedforward classifier, re-done without any DL framework)
# --------------------------------------------------------------------------

def fit_mlp(X: np.ndarray, y: np.ndarray) -> dict:
    """Deterministic full-batch GD for Dense(16, relu) ->
    Dense(1, sigmoid) with BCE loss: seeded init, 500 iterations at
    learning rate 0.5 — identical inputs give bit-identical weights (the
    reference's Keras feedforward net, deep_learning.py:158-187, minus
    BatchNorm/Dropout/Adam, which are stochastic-training conveniences
    orthogonal to the scoring semantics — documented deviation)."""
    hidden, lr = 16, 0.5
    rng = np.random.default_rng(42)
    d = X.shape[1]
    W1 = rng.standard_normal((d, hidden)) * np.sqrt(2.0 / d)
    b1 = np.zeros(hidden)
    w2 = rng.standard_normal(hidden) * np.sqrt(1.0 / hidden)
    b2 = 0.0
    n = len(y)
    for _ in range(500):
        h = np.maximum(X @ W1 + b1, 0.0)  # (n, hidden) relu
        z = h @ w2 + b2
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        g = (p - y) / n  # dBCE/dz
        gw2 = h.T @ g
        gb2 = float(g.sum())
        gh = np.outer(g, w2) * (h > 0)
        gW1 = X.T @ gh
        gb1 = gh.sum(axis=0)
        W1 -= lr * gW1
        b1 -= lr * gb1
        w2 -= lr * gw2
        b2 -= lr * gb2
    return {"W1": W1, "b1": b1, "w2": w2, "b2": b2}


def mlp_forward(X: np.ndarray, params: dict) -> np.ndarray:
    h = np.maximum(X @ params["W1"] + params["b1"], 0.0)
    z = h @ params["w2"] + params["b2"]
    return 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))


def train_mlp_scorer(labeled: DataFrame) -> dict:
    """Fit the MLP on a bounded, deterministic driver sample (same
    collection contract as train_pair_scorer, at 10,000 rows)."""
    return _fit_on_sample(labeled, fit_mlp, 10_000)


def score_with_mlp(pairs_with_features: DataFrame, params: dict) -> DataFrame:
    """Append ``mlp_score`` = MLP(features); the (tiny) weight dict rides
    the UDF closure, evaluated per Arrow batch executor-side."""
    frozen = {k: np.asarray(v, dtype=np.float64) for k, v in params.items()}

    @F.pandas_udf(T.DoubleType())
    def _score(feats: pd.Series) -> pd.Series:
        X = np.stack(feats.to_numpy())
        return pd.Series(mlp_forward(X, frozen))

    return pairs_with_features.withColumn(
        "mlp_score", F.round(_score(F.col("features")), 4)
    )


# --------------------------------------------------------------------------
# R4: heuristic training-pair generation (ml_based.py:242-349), made
# deterministic and distributed
# --------------------------------------------------------------------------

def generate_training_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    strong_key,
    group_key,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id1, id2, label, tier) labeled training pairs, three tiers
    mirroring the reference's pos/neg/challenging strategies
    (ml_based.py:242-349):

    * ``pos_key`` — pairs inside a shared non-empty ``strong_key`` block
      (the reference's domain/phone exact-agreement positives): members
      hash-ordered per block, consecutive pairs taken, capped at
      5 per block. label = 1.
    * ``pos_sim`` / ``challenging`` — pairs inside ``group_key`` blocks
      of size <= 100 (the reference skips very large prefix groups),
      scored with token_sort_ratio: > 90 is a positive; inside [60, 80]
      is a challenging pair whose label is the pair-hash parity (the
      reference flips a coin — np.random.choice([0,1]); hash parity keeps
      the 50/50 odds but is reproducible under any partitioning). Scoring
      uses the batch DP kernel, zero per-row Python.
    * ``neg`` — cross-block pairs with DIFFERENT strong keys and
      different 3-char text prefixes (the reference's negative
      heuristic), built by aligning hash-bucketed row numbers (bucket b
      row i pairs with bucket b+1 row i) — a distributed, seeded
      stand-in for its random index draws, capped at ~2000.

    Everything is deterministic (hashes salted with 42 and 43, no RNG)
    and every stage is a bounded window/join — no driver-side loops or
    collects.

    ``hash_mode`` picks the shuffle hash for the block ordering and the
    negative-tier bucketing: ``"xxhash64"`` (default, the scale path) or
    ``"arith"`` — a Knuth multiplicative hash ``(id*2654435761 +
    salt*97) mod (2^31-1)`` over numeric-castable ids that ANSI SQL can
    reproduce exactly, making the pos_key and neg tiers DuckDB-oracle-
    checkable (the challenging tier's label parity stays xxhash64 and
    stays rows-only).
    """
    from entity_deduplication_spark.functions.fuzzy import (
        token_sort_ratio_udf,
    )

    def _shash(col, salt: int):
        if hash_mode == "arith":
            return F.pmod(
                col.cast("bigint") * F.lit(2654435761) + F.lit(salt * 97),
                F.lit(2147483647),
            )
        return F.xxhash64(col, F.lit(salt))

    base = df.select(
        F.col(id_col).alias("_id"),
        F.coalesce(F.col(text_col).cast("string"), F.lit("")).alias("_txt"),
        strong_key.cast("string").alias("_sk"),
        group_key.cast("string").alias("_gk"),
    )

    # --- tier 1: strong-key positives (chain pairs, capped per block)
    wk = Window.partitionBy("_sk").orderBy(
        _shash(F.col("_id"), 42), F.col("_id")
    )
    keyed = base.filter(
        F.col("_sk").isNotNull() & (F.length("_sk") > 0)
    ).withColumn("_rn", F.row_number().over(wk))
    nxt = F.lead("_id").over(wk)
    pos_key = (
        keyed.withColumn("_next", nxt)
        .filter(F.col("_next").isNotNull() & (F.col("_rn") <= 5))
        .select(
            F.least("_id", "_next").alias("id1"),
            F.greatest("_id", "_next").alias("id2"),
            F.lit(1).alias("label"),
            F.lit("pos_key").alias("tier"),
        )
    )

    # --- tier 2: group-key blocks scored with token_sort_ratio
    gw = Window.partitionBy("_gk")
    grouped = (
        base.filter(F.col("_gk").isNotNull() & (F.length("_gk") > 0))
        .withColumn("_bn", F.count(F.lit(1)).over(gw))
        .filter((F.col("_bn") >= 2) & (F.col("_bn") <= 100))
    )
    ga = grouped.select(
        "_gk", F.col("_id").alias("id1"), F.col("_txt").alias("_t1")
    )
    gb = grouped.select(
        "_gk", F.col("_id").alias("id2"), F.col("_txt").alias("_t2")
    )
    scored = (
        ga.join(gb, "_gk")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn(
            "_sim", token_sort_ratio_udf()(F.col("_t1"), F.col("_t2"))
        )
    )
    # one pass over the scored pairs: tagging both tiers in a single
    # select keeps exactly ONE ArrowEvalPython (DP kernel) in the plan —
    # two separate filter branches would each re-evaluate the UDF over
    # every grouped pair
    tier_tag = (
        F.when(F.col("_sim") > 90.0, F.lit("pos_sim"))
        .when(
            (F.col("_sim") >= 60.0) & (F.col("_sim") <= 80.0),
            F.lit("challenging"),
        )
    )
    sim_pairs = (
        scored.withColumn("tier", tier_tag)
        .filter(F.col("tier").isNotNull())
        .select(
            "id1",
            "id2",
            F.when(F.col("tier") == "pos_sim", F.lit(1))
            .otherwise(
                F.pmod(
                    F.xxhash64(F.col("id1"), F.col("id2"), F.lit(42)),
                    F.lit(2),
                ).cast("int")
            )
            .alias("label"),
            "tier",
        )
    )

    # --- tier 3: negatives from aligned hash buckets
    nb = 64
    per_bucket = -(-2000 // nb)  # ceil
    bw = Window.partitionBy("_bkt").orderBy(
        _shash(F.col("_id"), 43), F.col("_id")
    )
    bucketed = (
        base.withColumn(
            "_bkt", F.pmod(_shash(F.col("_id"), 42), F.lit(nb))
        )
        .withColumn("_rn", F.row_number().over(bw))
        .filter(F.col("_rn") <= per_bucket)
    )
    left = bucketed.select(
        "_bkt",
        "_rn",
        F.col("_id").alias("_ida"),
        F.col("_sk").alias("_ska"),
        F.substring("_txt", 1, 3).alias("_pfa"),
    )
    right = bucketed.select(
        (F.pmod(F.col("_bkt") - 1 + nb, F.lit(nb))).alias("_bkt"),
        "_rn",
        F.col("_id").alias("_idb"),
        F.col("_sk").alias("_skb"),
        F.substring("_txt", 1, 3).alias("_pfb"),
    )
    neg = (
        left.join(right, ["_bkt", "_rn"])
        .filter(
            (F.col("_ida") != F.col("_idb"))
            & ~F.col("_ska").eqNullSafe(F.col("_skb"))
            & (F.col("_pfa") != F.col("_pfb"))
        )
        .select(
            F.least("_ida", "_idb").alias("id1"),
            F.greatest("_ida", "_idb").alias("id2"),
            F.lit(0).alias("label"),
            F.lit("neg").alias("tier"),
        )
    )

    out = pos_key.unionByName(sim_pairs).unionByName(neg)
    # cross-tier dedup: keep the highest-priority tier per pair
    # (pos_key > pos_sim > challenging > neg — a pair that is a known
    # positive must not reappear as a coin-flip or negative)
    prio = (
        F.when(F.col("tier") == "pos_key", 0)
        .when(F.col("tier") == "pos_sim", 1)
        .when(F.col("tier") == "challenging", 2)
        .otherwise(3)
    )
    wp = Window.partitionBy("id1", "id2").orderBy(prio.asc(), F.col("label").desc())
    return (
        out.withColumn("_p", F.row_number().over(wp))
        .filter(F.col("_p") == 1)
        .select("id1", "id2", "label", "tier")
    )
