"""Fuzzy string-similarity pair operators (reference V1/V2/V3 family).

The reference verifies candidate pairs with rapidfuzz token ratios
(rule_based.py:81,116,131,150; deterministic_feature.py:569-651). Here the
same shape — block, then fuzzy-score the candidates, then threshold — is
one DataFrame plan: the skew-aware block self-join produces candidates,
token sorting/normalization runs JVM-side (split + array_sort +
array_join).

Two scorers:
* ``levenshtein_sim_pairs`` — 1 - lev/max(len): classic edit-distance
  similarity on Spark's built-in ``levenshtein`` (JVM-side, counts code
  points), exactly reproducible in SQL (DuckDB ``levenshtein``, which
  counts bytes — the two agree on ASCII), so the operator is
  oracle-checkable end to end. A pair with a NULL text has no distance
  and is dropped.
* ``token_ratio_pairs`` — rapidfuzz-style token_sort_ratio +
  token_set_ratio (InDel-based), the reference's actual scorers; not
  SQL-expressible, so the InDel DP kernel crosses into Python as a
  batch-vectorized Arrow UDF (functions.fuzzy); gated by unit tests
  against hand-computed values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_deduplication_spark.functions.fuzzy import (
    token_set_ratio_udf,
    token_sort_ratio_udf,
)
from entity_deduplication_spark.functions.similarity import cosine
from entity_deduplication_spark.operators.pairs import (
    attach_pair_features,
    block_self_join_pairs,
)

# semantic_blend_pairs' blend weights, as two explicit literals (not x and
# 1 - x) so the DuckDB oracle can use the identical double constants
SEMANTIC_WEIGHT = 0.7
STRING_WEIGHT = 0.3


def token_sorted(col: Column) -> Column:
    """Whitespace tokens sorted + re-joined — JVM-side (no UDF)."""
    return F.array_join(F.array_sort(F.split(col, " ")), " ")


def _candidates_with_text(
    df: DataFrame, id_col: str, text_col: str, block_key: Column
) -> DataFrame:
    keyed = df.select(
        F.col(id_col).alias("clip_id"), block_key.alias("block_key")
    )
    cand = block_self_join_pairs(
        keyed, key_cols=["block_key"], block_size_limit=10_000
    )
    texts = df.select(F.col(id_col), F.col(text_col).alias("text"))
    return attach_pair_features(cand, texts, ["text"], id_col)


def _lev_sim(t1: Column, t2: Column) -> Column:
    """1 - lev/max(len); NULL when either text is NULL."""
    return F.lit(1.0) - F.levenshtein(t1, t2) / F.greatest(
        F.length(t1), F.length(t2), F.lit(1)
    ).cast("double")


def levenshtein_sim_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_key: Column,
    threshold: float,
) -> DataFrame:
    """(id1, id2, lev_sim) for blocked pairs with token-sorted Levenshtein
    similarity >= threshold; lev_sim = 1 - lev/max(len) rounded to 4 dp."""
    feat = _candidates_with_text(df, id_col, text_col, block_key)
    feat = feat.withColumn("text_1", token_sorted(F.col("text_1"))).withColumn(
        "text_2", token_sorted(F.col("text_2"))
    )
    sim = _lev_sim(F.col("text_1"), F.col("text_2"))
    return (
        feat.withColumn("lev_sim", F.round(sim, 4))
        .filter(F.col("lev_sim") >= threshold)
        .select("id1", "id2", "lev_sim")
    )


def semantic_blend_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vec_col: str,
    block_key: Column,
    threshold: float,
    block_size_limit: int = 200,
) -> DataFrame:
    """(id1, id2, cos_sim, lev_sim, blended_sim) — the reference's V9
    semantic+string blend (semantic_matching.py:219-240): blocks larger
    than ``block_size_limit`` (200) are SKIPPED entirely, matching the
    reference's cap at semantic_matching.py:214-216; within surviving
    blocks score ``blended = 0.7 * embedding-cosine + 0.3 *
    string-similarity`` and keep pairs strictly above ``threshold``.

    String similarity here is token-sorted Levenshtein similarity
    (1 - lev/max_len) rather than the reference's token_sort_ratio —
    the InDel ratio is not SQL-expressible, this is, so the whole blend
    is DuckDB-oracle-checkable end to end (documented deviation; the
    two agree closely on token-sorted short strings). Cosine and
    Levenshtein both run JVM-side.
    """
    keyed = df.select(
        F.col(id_col).alias("clip_id"), block_key.alias("block_key")
    )
    cand = block_self_join_pairs(
        keyed,
        key_cols=["block_key"],
        block_size_limit=block_size_limit,
        on_oversize="skip",
    )
    side = df.select(
        F.col(id_col),
        token_sorted(F.col(text_col)).alias("text"),
        F.col(vec_col).alias("vec"),
    )
    feat = attach_pair_features(cand, side, ["text", "vec"], id_col)
    scored = feat.withColumn(
        "cos_sim", cosine(F.col("vec_1"), F.col("vec_2"))
    ).withColumn("lev_sim", _lev_sim(F.col("text_1"), F.col("text_2")))
    blended = (
        F.lit(SEMANTIC_WEIGHT) * F.col("cos_sim")
        + F.lit(STRING_WEIGHT) * F.col("lev_sim")
    )
    return (
        scored.withColumn("blended_sim", blended)
        .filter(F.col("blended_sim") > threshold)
        .select(
            "id1",
            "id2",
            F.round("cos_sim", 4).alias("cos_sim"),
            F.round("lev_sim", 4).alias("lev_sim"),
            F.round("blended_sim", 4).alias("blended_sim"),
        )
    )


def token_ratio_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_key: Column,
) -> DataFrame:
    """(id1, id2, token_sort_ratio, token_set_ratio) for blocked pairs with
    token_sort_ratio >= 85 (0-100 scale, rapidfuzz semantics — reference
    rule_based.py:81)."""
    feat = _candidates_with_text(df, id_col, text_col, block_key)
    out = feat.withColumn(
        "token_sort_ratio",
        F.round(token_sort_ratio_udf()(F.col("text_1"), F.col("text_2")), 2),
    ).withColumn(
        "token_set_ratio",
        F.round(token_set_ratio_udf()(F.col("text_1"), F.col("text_2")), 2),
    )
    return out.filter(F.col("token_sort_ratio") >= 85.0).select(
        "id1", "id2", "token_sort_ratio", "token_set_ratio"
    )
