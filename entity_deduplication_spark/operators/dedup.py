"""High-level dedup operator family over generic document tables.

Each operator returns either a ``(id, cluster_id)`` cluster assignment or
an ``(id1, id2, ...)`` pair table, built from the same engine primitives
as the audio pipeline (shingles -> signatures -> blocking -> verify -> CC).
These generalize the reference's per-strategy resolvers
(resolvers/rule_based.py, resolvers/deterministic_feature.py) to any
table with an id + text (or embedding) column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.functions.hashing import (
    band_keys,
    minhash_udf,
    simhash_udf,
)
from entity_deduplication_spark.functions.similarity import (
    cosine,
    hamming_similarity,
    jaccard,
)
from entity_deduplication_spark.functions.text import word_shingles
from entity_deduplication_spark.operators.connected_components import (
    connected_components,
)
from entity_deduplication_spark.operators.blocking import (
    lsh_band_pairs,
    simhash_block_pairs,
)
from entity_deduplication_spark.operators.pairs import (
    attach_pair_features,
    block_self_join_pairs,
)
from entity_deduplication_spark.sources.io import spread_partitions, stage


def exact_dedup(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """(id, cluster_id) where cluster_id = min id among rows with equal key.

    Hash-groupBy exact dedup (reference B1/B6 exact blocks) as one window —
    single shuffle, no join, no CC needed for an equality relation.

    NULL keys are singletons: Spark windows group all NULL partition keys
    together, which would merge every null-keyed row into one cluster —
    wrong dedup semantics ("unknown == unknown" is not evidence).

    Scale note: the exchange ships the full key column (it is the window
    partition expression). For wide keys (whole documents) pre-digest so
    the shuffle carries 32 bytes, not the text:
    ``exact_dedup(df.withColumn("_k", F.md5(key)), id, F.col("_k"))`` —
    the flagship pipeline keys its exact evidence the same way: its
    signature stage keeps the ``plans.pipeline.EXACT_KEYS`` digests,
    which ``plans.pipeline.exact_edges`` chains.
    """
    w = Window.partitionBy(key)
    return df.select(
        F.col(id_col),
        F.when(key.isNull(), F.col(id_col))
        .otherwise(F.min(F.col(id_col)).over(w))
        .alias("cluster_id"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_gram_doc_freq: int = 10_000,
) -> DataFrame:
    """(id1, id2, jaccard) for word-n-gram Jaccard >= threshold.

    Pure relational set-similarity join (explode -> equi-join -> count),
    no sketching — the exact counterpart the MinHash path approximates,
    and the DuckDB-oracle-friendly formulation of reference B8/B9.

    Skew guard: a gram shared by f documents contributes f^2 join rows, so
    one ubiquitous gram is a quadratic hot key at scale. Grams whose
    document frequency exceeds ``max_gram_doc_freq`` are dropped from the
    JOIN side only (document sizes still count every gram), bounding every
    join key at f <= limit. Exact whenever no gram exceeds the limit (the
    oracle case); beyond it, dropping near-universal grams only removes
    intersection mass that such low-information grams contribute — for a
    tighter exact guarantee at scale use minhash_lsh_dedup. MinHash-LSH is
    the intended 100-TB path; this operator is the exact oracle-able form.
    """
    words = F.split(F.col(text_col), " ")
    gram_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, F.lit(n))),
        )
    )
    # spread a single-split scan so the gram expression parallelizes
    base = (
        spread_partitions(df.select(F.col(id_col), F.col(text_col)), key=id_col)
        .filter(F.length(F.col(text_col)) > 0)
        .filter(F.size(words) >= n)  # also avoids sequence() negative-step
        .select(F.col(id_col).alias("id"), gram_arr.alias("_garr"))
    )
    # per-doc set size rides WITH each gram row (+8 bytes/row through the
    # gram shuffle): the old plan re-joined two separate size branches,
    # each of which re-evaluated the whole gram-array expression (the
    # optimizer pushes the size() projection below the spread repartition,
    # so each branch ran it single-task on the one scan split) and paid a
    # broadcast join; n_grams is constant per id, so carrying it into the
    # pair groupBy keys is free and removes both joins outright
    # explode_outer, NOT explode: a bare explode lets the optimizer infer
    # `size(_garr) > 0 AND isnotnull(_garr)` (InferFiltersFromGenerate)
    # and push it below the spread repartition, where it re-evaluates the
    # whole gram-array expression TWICE on the ONE scan task (measured:
    # a 1.4-1.7 s single-task stage at sf0.1 — the exact serialization
    # the spread exists to avoid). outer-explode infers no such filter;
    # the explicit null-gram filter restores identical rows (gram
    # elements are concat_ws products, never NULL, and `base` already
    # guarantees >= 1 gram per row, so it only drops rows that cannot
    # exist) and cannot be pushed below the exchange because `gram` does
    # not exist there.
    grams = base.select(
        "id", F.size("_garr").alias("_n"), F.explode_outer("_garr").alias("gram")
    ).filter(F.col("gram").isNotNull())
    gram_df = Window.partitionBy("gram")
    join_grams = (
        grams.withColumn("_df", F.count(F.lit(1)).over(gram_df))
        .filter(F.col("_df") <= max_gram_doc_freq)
        .drop("_df")
    )
    # merge hint: with a broadcast join the two (identical) gram subtrees
    # execute independently — explode + window TWICE; as a sort-merge join
    # both sides want hashpartitioning(gram), AQE reuses ONE shuffle for
    # them, and the sort is free (the window already sorted by gram)
    inter = (
        join_grams.alias("a")
        .join(join_grams.alias("b").hint("merge"), "gram")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a._n").alias("n1"),
            F.col("b._n").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = inter.withColumn(
        "jaccard",
        F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


def ngram_jaccard_clusters(
    df: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> DataFrame:
    """Connected components over the exact n-gram Jaccard pair graph."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold)
    return connected_components(
        pairs, nodes=df.select(F.col(id_col).alias("clip_id"))
    ).withColumnRenamed("clip_id", id_col)


def minhash_lsh_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, cluster_id) via shingle -> MinHash -> LSH bands -> Jaccard
    verify -> connected components, at the default ``DedupConfig``. The
    scale path for text dedup."""
    cfg = DedupConfig()
    # a small documents table is one parquet split -> the MinHash kernel
    # would run on ONE core; spread first (no-op on well-split inputs)
    sig = spread_partitions(df.select(F.col(id_col), F.col(text_col)), key=id_col).select(
        F.col(id_col).alias("clip_id"),
        word_shingles(F.col(text_col), cfg.shingle_k).alias("shingles"),
    )
    # a Python UDF cannot sit inside band_keys' lambda, so the MinHash
    # array is a column one projection down; it is not staged
    mh = minhash_udf(cfg.minhash_k, cfg.minhash_seed)(F.col("shingles"))
    sig = sig.withColumn("_mh", mh).select(
        "clip_id",
        "shingles",
        band_keys(F.col("_mh"), cfg.lsh_bands, cfg.lsh_rows).alias("bands"),
    )
    # sig feeds the banding branch, two feature joins, and the CC node table
    sig = stage(sig)
    feat = attach_pair_features(lsh_band_pairs(sig, cfg), sig, ["shingles"])
    edges = feat.withColumn(
        "j", jaccard(F.col("shingles_1"), F.col("shingles_2"))
    ).filter(F.col("j") >= cfg.jaccard_threshold)
    return connected_components(
        edges.select("id1", "id2"), nodes=sig.select("clip_id")
    ).withColumnRenamed("clip_id", id_col)


def simhash_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id1, id2, hamming_sim) pairs within the SimHash Hamming radius, at
    the default ``DedupConfig``."""
    cfg = DedupConfig()
    # spread the (possibly single-split) scan so the SimHash kernel
    # parallelizes — see minhash_lsh_dedup
    sig = spread_partitions(df.select(F.col(id_col), F.col(text_col)), key=id_col).select(
        F.col(id_col).alias("clip_id"),
        simhash_udf(word_shingles(F.col(text_col), cfg.shingle_k)).alias("simhash"),
    )
    sig = stage(sig)
    feat = attach_pair_features(simhash_block_pairs(sig, cfg), sig, ["simhash"])
    out = feat.withColumn(
        "hamming_sim", hamming_similarity(F.col("simhash_1"), F.col("simhash_2"))
    ).filter(F.col("hamming_sim") >= 1.0 - cfg.simhash_hamming_max / 64.0)
    return out.select("id1", "id2", F.round("hamming_sim", 4).alias("hamming_sim"))


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    method: str = "auto",
    grid_chunks: int = 8,
    n_rows: int | None = None,
) -> DataFrame:
    """(id1, id2, cos_sim) embedding near-duplicate pairs above threshold.

    ``method="auto"`` (default): route on the SAME n-aware tuned band
    width r that the LSH path would execute with (one cheap count if
    ``n_rows`` not given). RHP-LSH is only sub-quadratic when r is
    meaningful — at low thresholds (cos ~< 0.6) r collapses to 1-3
    bits, buckets approach n/2^r, and the "approximate" path degenerates
    into a worse-constant all-pairs. Below 4 bits the exact grid path is
    chosen instead; above it, LSH.

    ``method="lsh"`` (the 100-TB path for real near-dup thresholds):
    random-hyperplane band keys auto-tuned from the threshold
    (operators.ann.tune_rhp_bands) so a true pair misses every bucket
    w.p. <= 1e-9 — candidates come from salted bucket equi-joins, then an
    exact JVM-side cosine verify. No cross join anywhere in the plan. A
    band bucket larger than 100,000 rows raises at execution time
    (on_oversize="error") rather than silently truncating — silent
    truncation would void the stated recall guarantee.

    ``method="exact"``: provably-complete blocked grid join — both sides
    are hashed into ``grid_chunks`` chunks, every chunk-pair cell is an
    independent task whose local all-pairs runs as one numpy/BLAS matmul
    inside applyInPandas. Still O(n^2) work (it must be — it's exact), but
    bounded memory per task, fully parallel, and ~100x faster per pair
    than a row-at-a-time cross join. Use for oracle/recall checks,
    moderate n, and as auto's low-threshold route.
    """
    from entity_deduplication_spark.operators.ann import (
        rhp_band_keys,
        tune_rhp_bands,
    )

    if method not in ("auto", "lsh", "exact"):
        raise ValueError(
            f"unknown method {method!r}: expected 'auto', 'lsh' or 'exact'"
        )
    r = b = None
    if method in ("auto", "lsh"):
        # route AND execute on the same n-aware tuning — deciding the
        # route with the old selectivity rule but executing with the
        # n-aware r would let the two models disagree near the 4-bit floor
        if n_rows is None:
            n_rows = df.count()  # parquet metadata count
        r, b = tune_rhp_bands(threshold, n_rows=n_rows)
        if method == "auto":
            # LSH wins only when (a) bands are wide enough to be selective
            # AND (b) its expected random-collision verify work
            # b * n^2 / 2^r is below the exact path's n^2 / 2 all-pairs —
            # i.e. b < 2^(r-1). Both terms come from the SAME tuning that
            # the LSH path executes with, so route and plan cannot
            # disagree (low thresholds blow up b faster than 2^r and
            # route exact; real near-dup thresholds route LSH).
            method = (
                "lsh" if (r >= 4 and b < 2 ** (r - 1)) else "exact"
            )
    if method == "exact":
        return _embedding_pairs_grid(
            df, id_col, vec_col, threshold, grid_chunks
        )
    # spread first: a small embeddings table is 1-2 scan splits, which
    # would serialize the RHP matmul kernel onto one core
    keyed = stage(
        rhp_band_keys(spread_partitions(df, key=id_col), id_col, vec_col, r, b)
    )
    banded = keyed.select(
        F.col(id_col).alias("clip_id"),
        F.posexplode("band_keys").alias("band_idx", "band_key"),
    )
    cand = block_self_join_pairs(
        banded,
        key_cols=["band_idx", "band_key"],
        block_size_limit=100_000,
        on_oversize="error",
    )
    feat = attach_pair_features(cand, keyed, [vec_col], id_col)
    cos = cosine(F.col(f"{vec_col}_1"), F.col(f"{vec_col}_2"))
    return (
        feat.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", F.round("cos_sim", 4).alias("cos_sim"))
    )


def _embedding_pairs_grid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    chunks: int,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via a chunk-grid of local
    matmuls. Row with chunk i is replicated to every cell (min(i,j),
    max(i,j)) with a side marker; each cell computes its block of the
    similarity matrix vectorized. Diagonal cells (i==i) self-pair with an
    id1 < id2 filter; off-diagonal cells pair across sides only.
    """
    import pandas as pd  # noqa: F401 (applyInPandas contract)

    k = chunks
    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    chunked = src.withColumn("_c", F.pmod(F.xxhash64("_id"), F.lit(k)))
    cells = chunked.select(
        "_id",
        "_vec",
        F.col("_c"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_o"),
    ).select(
        "_id",
        "_vec",
        F.least("_c", "_o").alias("_ci"),
        F.greatest("_c", "_o").alias("_cj"),
        (F.col("_c") <= F.col("_o")).alias("_left"),
    ).dropDuplicates(["_id", "_ci", "_cj"])

    thr = float(threshold)

    def _cell(pdf):
        import numpy as np
        import pandas as pd

        diag = pdf["_ci"].iloc[0] == pdf["_cj"].iloc[0]
        left = pdf[pdf["_left"]] if not diag else pdf
        right = pdf[~pdf["_left"]] if not diag else pdf
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id1": [], "id2": [], "cos_sim": []})
        a = np.stack(left["_vec"].to_numpy())
        bm = np.stack(right["_vec"].to_numpy())
        an = a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-12)
        bn = bm / np.maximum(np.linalg.norm(bm, axis=1, keepdims=True), 1e-12)
        sims = an @ bn.T
        ii, jj = np.where(sims >= thr)
        la, rb = left["_id"].to_numpy(), right["_id"].to_numpy()
        x, y, s = la[ii], rb[jj], sims[ii, jj]
        if diag:
            # both orders of every unordered pair appear — keep one
            keep = x < y
            x, y, s = x[keep], y[keep], s[keep]
        else:
            # each unordered pair appears exactly once — canonicalize, do
            # NOT filter (the left-chunk id may be the larger one)
            x, y = np.minimum(x, y), np.maximum(x, y)
        return pd.DataFrame({"id1": x, "id2": y, "cos_sim": s})

    id_type = dict(df.dtypes)[id_col]
    out = cells.groupBy("_ci", "_cj").applyInPandas(
        _cell, schema=f"id1 {id_type}, id2 {id_type}, cos_sim double"
    )
    return out.select("id1", "id2", F.round("cos_sim", 4).alias("cos_sim"))
