"""Candidate-pair plumbing: canonicalization, dedup, skew-aware self-join.

Pair semantics follow the reference: ordered-pair canonicalization
``(min, max)`` (deterministic_feature.py:964) and cross-strategy dedup of
the compared_pairs set (deterministic_feature.py:966-969) — expressed as
``id1 < id2`` filters plus ``dropDuplicates``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from entity_deduplication_spark.sources.io import stage


def canonicalize_pairs(df: DataFrame) -> DataFrame:
    """Enforce id1 < id2 and drop duplicates/self-pairs."""
    out = (
        df.withColumn("_a", F.least(F.col("id1"), F.col("id2")))
        .withColumn("_b", F.greatest(F.col("id1"), F.col("id2")))
        .drop("id1", "id2")
        .withColumnRenamed("_a", "id1")
        .withColumnRenamed("_b", "id2")
        .filter(F.col("id1") != F.col("id2"))
    )
    return out.dropDuplicates(["id1", "id2"])


def attach_pair_features(
    pairs: DataFrame, side: DataFrame, cols: list[str], id_col: str = "clip_id"
) -> DataFrame:
    """Join (id1, id2) pairs to a per-record side table on both ids.

    Two inner joins (``id1`` first, then ``id2``); side column ``c``
    arrives as ``c_1`` / ``c_2``. Pairs whose ids are missing from
    ``side`` drop out.
    """
    a = side.select(
        F.col(id_col).alias("id1"), *[F.col(c).alias(f"{c}_1") for c in cols]
    )
    b = side.select(
        F.col(id_col).alias("id2"), *[F.col(c).alias(f"{c}_2") for c in cols]
    )
    return pairs.join(a, "id1").join(b, "id2")


def block_self_join_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    block_size_limit: int | Column,
    hot_threshold: int = 256,
    salt_buckets: int = 16,
    on_oversize: str | Column = "truncate",
) -> DataFrame:
    """All unordered pairs within each block key, skew-aware.

    ``keyed``: DataFrame with ``key_cols`` + ``clip_id``.

    Strategy (replaces the reference's block-size drop/sample,
    deterministic_feature.py:852-918, losslessly up to ``block_size_limit``):

    * one window pass (one shuffle) sizes each block and ranks its
      members by id; the sized table is materialized once;
    * one per-row rule then routes each row (below);
    * the rows that pair meet in ONE self-equi-join on ``key_cols`` plus
      a salt sized by their block: ``s = salt_buckets`` for a hot block
      (> hot_threshold), else 1. The left side keeps its own salt
      ``pmod(xxhash64(id), s)``, the right side is exploded to all ``s``
      salts — every unordered pair is produced exactly once after the
      ``id1 < id2`` filter, but a hot block's single task is split into
      ``s`` tasks, and a cold block joins as if unsalted.

    ``block_size_limit`` and ``on_oversize`` are scalars or Columns (a
    Column may derive a per-family cap/policy from ``key_cols``, so one
    unified block table can mix families); both forms run the same rule.
    Rows of blocks within the limit always pair. ``on_oversize`` decides
    the rows of a block larger than ``block_size_limit``:

    * ``"truncate"`` (default): keep the first ``limit`` members by id —
      lossy but bounded, right for heuristic blocking families;
    * ``"skip"``: drop oversized blocks entirely — the reference's own
      behavior for its capped comparison loops (semantic_matching.py:
      214-216 skips blocks over the cap rather than sampling them). Use
      when the operator's contract says "blocks above N are not scored";
    * ``"chain"``: oversized blocks emit O(n) *chain* candidates
      (consecutive members by id) instead of all pairs or nothing. If the
      bucket is a genuine duplicate flood (one clip re-encoded 100x with
      empty transcripts, so exact keys cannot connect it), every chain
      pair passes verification and connected components recovers the
      whole group through transitivity; if the bucket is stopword-like
      noise, the wasted verify work is linear, not quadratic. This is the
      recall-safe bound for blocking families whose keys can be
      *deterministically* shared by real duplicate groups larger than the
      cap (LSH band tables — a group of identical clips shares EVERY band
      key, so no other bucket rescues it);
    * ``"error"``: raise (``raise_error``) instead of silently dropping
      members. Callers that advertise a recall guarantee (e.g. the
      tuned-RHP embedding path) MUST use this so the guarantee is never
      quietly voided by a hot bucket at scale.

    Any other policy raises on an oversized block. Errors surface in the
    action that consumes the result, not in this call.

    Returns (id1, id2) distinct pairs.
    """
    limit = (
        block_size_limit
        if isinstance(block_size_limit, Column)
        else F.lit(block_size_limit)
    )
    policy = on_oversize if isinstance(on_oversize, Column) else F.lit(on_oversize)
    # size, rank and successor share one partition/order spec, so Spark
    # computes all three in one Window operator (one exchange, one sort)
    w = Window.partitionBy(*key_cols).orderBy("clip_id")
    # Materialize the sized block table ONCE: it feeds three plan
    # subtrees (chain branch, both sides of the join), and Spark would
    # re-evaluate the whole upstream banding chain (explode + shuffle +
    # sort + window) per subtree. The table is linear in the band rows
    # the window pass already shuffles.
    sized = stage(
        keyed.withColumn(
            "_bn",
            F.count(F.lit(1)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_next", F.lead(F.col("clip_id")).over(w))
    )
    bn = F.col("_bn")
    # The rule is evaluated lazily after the stage, so a raise surfaces in
    # the consumer's action; NULL drops the row. (``isin`` rather than
    # ``==``: a scalar policy compared to its own literal logs a warning.)
    route = (
        F.when(
            (bn <= limit) | (policy.isin("truncate") & (F.col("_rn") <= limit)),
            F.lit("pair"),
        )
        .when(policy.isin("chain"), F.lit("chain"))
        .when(policy.isin("skip", "truncate"), F.lit(None))
        .when(
            policy.isin("error"),
            F.raise_error(
                F.concat(
                    F.lit("block_self_join_pairs: a block exceeds block_size_limit="),
                    limit.cast("string"),
                    F.lit(" (size = "),
                    bn.cast("string"),
                    F.lit(
                        "); raise the limit, pre-split the key, or use a "
                        "truncating caller"
                    ),
                )
            ),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("block_self_join_pairs: unsupported on_oversize policy "),
                    F.coalesce(policy, F.lit("NULL")),
                    F.lit(" (expected 'truncate', 'skip', 'chain' or 'error')"),
                )
            )
        )
    )
    routed = sized.withColumn("_route", route)
    paired = routed.filter((F.col("_route") == "pair") & (bn >= 2))

    s = F.when(bn > hot_threshold, F.lit(salt_buckets)).otherwise(F.lit(1))
    left = paired.select(
        *key_cols,
        F.pmod(F.xxhash64(F.col("clip_id")), s).alias("_salt"),
        F.col("clip_id").alias("id1"),
    )
    right = paired.select(
        *key_cols,
        F.explode(F.sequence(F.lit(0), s - 1)).alias("_salt"),
        F.col("clip_id").alias("id2"),
    )
    block_pairs = (
        left.join(right, on=[*key_cols, "_salt"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )

    chain_pairs = routed.filter(
        (F.col("_route") == "chain") & (F.col("_next") > F.col("clip_id"))
    ).select(F.col("clip_id").alias("id1"), F.col("_next").alias("id2"))

    return block_pairs.unionByName(chain_pairs).dropDuplicates(["id1", "id2"])


def chain_edges_within_block(keyed: DataFrame, key_cols: list[str]) -> DataFrame:
    """Linear chain edges (consecutive members by ``clip_id``) within each
    block.

    For *exact-equality* blocks no pairwise verification is needed, so a
    chain yields the identical connected components as the full clique
    with O(n) instead of O(n^2) edges — the scale-safe replacement for the
    reference's enumerate-all-pairs-in-block loops
    (deterministic_feature.py:920-987).

    A pair shared by two blocks comes out twice; callers dedup the union
    of their chain families once.
    """
    w = Window.partitionBy(*key_cols).orderBy("clip_id")
    nxt = F.lead(F.col("clip_id")).over(w)
    return (
        keyed.withColumn("_next", nxt)
        .filter(F.col("_next").isNotNull())
        .select(F.col("clip_id").alias("id1"), F.col("_next").alias("id2"))
    )
