"""Approximate-nearest-neighbor search over embedding columns.

* ``brute_force_topk`` — exact cosine top-k per query (broadcast the small
  query side; JVM-side dot products via zip_with/aggregate). The baseline
  and the oracle for the approximate path.
* ``rhp_band_keys`` / ``rhp_bucket_pairs`` / ``lsh_topk`` — random-
  hyperplane LSH (Charikar'02): sign bits from seeded hyperplanes (one
  numpy matmul per Arrow batch), packed into one key per band, exact
  cosine re-rank within buckets. The 100-TB scale path: candidates
  come from bucket equi-joins instead of a cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from entity_deduplication_spark.functions.similarity import cosine
from entity_deduplication_spark.operators.pairs import block_self_join_pairs


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact cosine top-k over ``embedding`` by ``vec_id``: (query_id,
    neighbor_id, cos_sim, rank).

    Ranking uses the similarity rounded to 4 dp with neighbor-id tie-break
    so the result is reproducible across engines and float summation orders.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("qv"), F.col("cv")), 4))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def tune_rhp_bands(
    threshold: float,
    target_miss: float = 1e-9,
    n_rows: int | None = None,
) -> tuple[int, int]:
    """(rows_per_band r, n_bands B) for recall >= 1 - target_miss at
    cos >= threshold.

    Charikar'02: P(sign bits agree) = 1 - acos(cos)/pi =: p. A pair at
    exactly ``threshold`` collides on one r-bit band w.p. p^r; missing all
    B bands has probability (1 - p^r)^B <= target_miss. Both parameters
    are deterministic functions of the inputs, so the same config always
    yields the same plan.

    Without ``n_rows``, r is chosen so a band retains ~35% of at-threshold
    pairs (larger r = exponentially more, smaller buckets — the skew
    lever). With ``n_rows``, r instead minimizes the total-cost model for
    uniformly-bucketed data,

        cost(r) ~ B(r)*n  [banding/shuffle]  +  B(r)*n^2/2^r  [random
        collisions verified],  B(r) = ln(1/miss)/p^r

    whose minimum is at 2^r = n * (ln 2 + ln p) / (-ln p). For large n
    this picks far more, far smaller buckets than the selectivity rule —
    e.g. threshold 0.9 over 10k rows goes from r=6 (64-key bands, ~33M
    random-collision candidates) to r~15 (~0.5M) — which is exactly the
    lever that keeps candidate volume linear-ish as n grows. B then
    follows from the miss budget in both modes.
    """
    import math

    p = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    if n_rows is not None and n_rows >= 2 and p > 0.5:
        opt = n_rows * (math.log(2) + math.log(p)) / (-math.log(p))
        r = max(1, min(48, round(math.log2(max(opt, 2.0)))))
    else:
        r = max(1, int(math.log(0.35) / math.log(p)))
    pr = p**r
    b = max(1, math.ceil(math.log(target_miss) / math.log(1.0 - pr)))
    return r, b


def rhp_band_keys(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    rows_per_band: int,
    n_bands: int,
) -> DataFrame:
    """(id, vec, band_keys array<bigint>) — one r-bit key per band.

    The kernel is one numpy matmul per Arrow batch against r*B seeded
    hyperplanes (any r*B, the dimension is read from the data) and packs
    band i's sign bits (planes i*r .. i*r+r-1, plane j at bit j - i*r)
    into its own bigint. Keys are not salted: callers block on
    (band index, key), so equal keys of different bands never meet.
    """
    r, b = rows_per_band, n_bands
    # the plane matrix is a deterministic function of (dim, r, b):
    # build it ONCE per worker per dim (the dim is only known from the
    # first batch) instead of redrawing an r*b x dim Gaussian every
    # Arrow batch — same keys, ~free after the first batch
    planes_by_dim: dict[int, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _keys(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        dim = mat.shape[1]
        planes = planes_by_dim.get(dim)
        if planes is None:
            rng = np.random.default_rng(42)
            planes = rng.standard_normal((dim, r * b))
            planes_by_dim[dim] = planes
        bits = (mat @ planes) > 0  # batch x (r*b)
        w = 1 << np.arange(r, dtype=np.int64)
        keys = bits.reshape(len(mat), b, r).astype(np.int64) @ w  # batch x b
        return pd.Series(list(keys))

    return df.select(
        F.col(id_col), F.col(vec_col), _keys(F.col(vec_col)).alias("band_keys")
    )


def _banded(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int, bands: int
) -> DataFrame:
    """(id, vec, band_idx, band_key): one row per band of each vector."""
    assert n_planes % bands == 0
    keyed = rhp_band_keys(df, id_col, vec_col, n_planes // bands, bands)
    return keyed.select(
        id_col, vec_col, F.posexplode("band_keys").alias("band_idx", "band_key")
    )


def rhp_bucket_pairs(df: DataFrame, n_planes: int, bands: int) -> DataFrame:
    """Candidate pairs of ``vec_id``s whose ``embedding`` sign signatures
    agree on >= one band of bits."""
    banded = _banded(df, "vec_id", "embedding", n_planes, bands).select(
        F.col("vec_id").alias("clip_id"), "band_idx", "band_key"
    )
    return block_self_join_pairs(
        banded, key_cols=["band_idx", "band_key"], block_size_limit=10_000
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int,
    n_planes: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Approximate top-k: bucket-join candidates, exact cosine re-rank."""

    def _side(df: DataFrame, role: str) -> DataFrame:
        return _banded(df, id_col, vec_col, n_planes, bands).select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"{role}_vec"),
            "band_idx",
            "band_key",
        )

    qb = _side(queries, "query")
    cb = _side(corpus, "neighbor")
    cand = (
        qb.join(cb, ["band_idx", "band_key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "cos_sim", F.round(cosine(F.col("query_vec"), F.col("neighbor_vec")), 4)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cos_sim")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
