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


def canonicalize_pairs(df: DataFrame, id1: str = "id1", id2: str = "id2") -> DataFrame:
    """Enforce id1 < id2 and drop duplicates/self-pairs."""
    out = (
        df.withColumn("_a", F.least(F.col(id1), F.col(id2)))
        .withColumn("_b", F.greatest(F.col(id1), F.col(id2)))
        .drop(id1, id2)
        .withColumnRenamed("_a", id1)
        .withColumnRenamed("_b", id2)
        .filter(F.col(id1) != F.col(id2))
    )
    return out.dropDuplicates([id1, id2])


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
    id_col: str = "clip_id",
    block_size_limit: int | Column = 1000,
    hot_threshold: int = 256,
    salt_buckets: int = 16,
    on_oversize: str | Column = "truncate",
) -> DataFrame:
    """All unordered pairs within each block key, skew-aware.

    ``keyed``: DataFrame with ``key_cols`` + ``id_col``.

    Strategy (replaces the reference's block-size drop/sample,
    deterministic_feature.py:852-918, losslessly up to ``block_size_limit``):

    * block size computed with a single window (one shuffle);
    * blocks larger than ``block_size_limit`` are truncated to the first
      ``limit`` members by id (the reference *drops* them outright — we
      keep a capped prefix; exact-duplicate floods are caught separately
      by chain edges in dedup.exact_* so nothing real is lost);
    * cold blocks (≤ hot_threshold) use a plain self-equi-join;
    * hot blocks use a two-sided salted join: the left side keeps its own
      salt ``pmod(xxhash64(id), s)``, the right side is exploded to all
      ``s`` salts — every unordered pair is produced exactly once after
      the ``id1 < id2`` filter, but the single hot task is split into
      ``s`` tasks.

    ``on_oversize`` controls what happens to a block larger than
    ``block_size_limit``:

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
    * ``"error"``: raise at execution time (``assert_true``) instead of
      silently dropping members. Callers that advertise a recall
      guarantee (e.g. the tuned-RHP embedding path) MUST use this so the
      guarantee is never quietly voided by a hot bucket at scale.

    Returns (id1, id2) distinct pairs.
    """
    w = Window.partitionBy(*key_cols)
    sized = keyed.withColumn("_bn", F.count(F.lit(1)).over(w))
    plain_truncate = not (
        isinstance(block_size_limit, Column) or isinstance(on_oversize, Column)
    ) and on_oversize not in ("error", "skip", "chain")
    if plain_truncate:
        # fold the truncate cap into the same pre-materialization window
        # pass (same partition keys -> same exchange; the rn<=limit filter
        # compiles to a WindowGroupLimit that prunes sort-side)
        sized = sized.withColumn(
            "_rn", F.row_number().over(w.orderBy(id_col))
        )
        sized = sized.filter(F.col("_rn") <= block_size_limit).drop("_rn")
    # Materialize the sized block table ONCE: downstream it feeds up to
    # five plan subtrees (chain branch, cold self-join a/b, hot salted
    # join a/b), and Spark re-evaluates the whole upstream banding chain
    # (posexplode + shuffle + sort + window[s]) per subtree — the "before"
    # plans show 4 copies of the Generate/Window chain per pair query.
    # The table is linear in the band rows the window pass already
    # shuffles — no new scale cost.
    sized = stage(sized)
    chain_pairs: DataFrame | None = None
    if isinstance(block_size_limit, Column) or isinstance(on_oversize, Column):
        # per-row cap/policy (both may be Columns derived from key_cols):
        # lets one unified block table mix families with different
        # oversize semantics in a single window pass. Column mode
        # supports only {"chain", "skip"} policies — any other value on an
        # oversized row raises at execution time instead of silently
        # dropping candidates (a typo'd policy literal must be loud).
        limit_col = (
            block_size_limit
            if isinstance(block_size_limit, Column)
            else F.lit(block_size_limit)
        )
        pol_col = (
            on_oversize if isinstance(on_oversize, Column) else F.lit(on_oversize)
        )
        # validated routing value: evaluating it on any oversized row with
        # an unsupported policy throws, so the guard cannot be optimized
        # away from the branch that uses it
        pol_norm = F.when(pol_col.isin("chain", "skip"), pol_col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "block_self_join_pairs: unsupported Column "
                        "on_oversize policy "
                    ),
                    F.coalesce(pol_col, F.lit("NULL")),
                    F.lit(" (expected 'chain' or 'skip')"),
                )
            )
        )
        over = F.col("_bn") > limit_col
        chain_pairs = chain_edges_within_block(
            sized.filter(over & (pol_norm == F.lit("chain"))).drop("_bn"),
            key_cols=key_cols,
            id_col=id_col,
        )
        sized = sized.filter(~over)
    elif on_oversize == "error":
        sized = sized.filter(
            F.assert_true(
                F.col("_bn") <= F.lit(block_size_limit),
                F.concat_ws(
                    " ",
                    F.lit(
                        "block_self_join_pairs: a block exceeds "
                        f"block_size_limit={block_size_limit} (size ="
                    ),
                    F.col("_bn").cast("string"),
                    F.lit(
                        "); raise the limit, pre-split the key, or use a "
                        "truncating caller"
                    ),
                ),
            ).isNull()
        )
    elif on_oversize == "skip":
        sized = sized.filter(F.col("_bn") <= block_size_limit)
    elif on_oversize == "chain":
        chain_pairs = chain_edges_within_block(
            sized.filter(F.col("_bn") > block_size_limit).drop("_bn"),
            key_cols=key_cols,
            id_col=id_col,
        )
        sized = sized.filter(F.col("_bn") <= block_size_limit)
    # (plain truncate was applied before the checkpoint)
    sized = sized.filter(F.col("_bn") >= 2)

    def _pairs(part: DataFrame) -> DataFrame:
        a = part.select(*key_cols, F.col(id_col).alias("id1"))
        b = part.select(*key_cols, F.col(id_col).alias("id2"))
        return (
            a.join(b, on=key_cols)
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
        )

    cold = sized.filter(F.col("_bn") <= hot_threshold).drop("_bn")
    hot = sized.filter(F.col("_bn") > hot_threshold).drop("_bn")

    cold_pairs = _pairs(cold)

    s = salt_buckets
    left = hot.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)))
    right = hot.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1))))
    hot_pairs = (
        left.select(*key_cols, "_salt", F.col(id_col).alias("id1"))
        .join(
            right.select(*key_cols, "_salt", F.col(id_col).alias("id2")),
            on=[*key_cols, "_salt"],
        )
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )

    out = cold_pairs.unionByName(hot_pairs)
    if chain_pairs is not None:
        out = out.unionByName(chain_pairs)
    return out.dropDuplicates(["id1", "id2"])


def chain_edges_within_block(
    keyed: DataFrame, key_cols: list[str], id_col: str = "clip_id"
) -> DataFrame:
    """Linear chain edges (consecutive members by id) within each block.

    For *exact-equality* blocks no pairwise verification is needed, so a
    chain yields the identical connected components as the full clique
    with O(n) instead of O(n^2) edges — the scale-safe replacement for the
    reference's enumerate-all-pairs-in-block loops
    (deterministic_feature.py:920-987).
    """
    w = Window.partitionBy(*key_cols).orderBy(id_col)
    nxt = F.lead(F.col(id_col)).over(w)
    return (
        keyed.withColumn("_next", nxt)
        .filter(F.col("_next").isNotNull())
        .select(F.col(id_col).alias("id1"), F.col("_next").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
