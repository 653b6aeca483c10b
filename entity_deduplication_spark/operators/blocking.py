"""Candidate generation (blocking) operators.

The reference's blocking is a family of dict-of-lists builders
(deterministic_feature.py:341-433); here each strategy is a DataFrame
plan ending in a skew-aware self-equi-join (operators.pairs). Strategies:

* exact-key blocks (B1/B6 analogues: bytes digest, normalized transcript),
* MinHash-LSH band blocks (B14 — generalizes B8 token / B9 trigram blocks),
* SimHash block-combination keys (Hamming-LSH),
* sorted-neighborhood windows (B16).

Band families are built here only: ``key_family``/``simhash_family`` make
each family's ``(src, band_idx, band_key)`` structs and ``band_rows``
explodes any mix of them, for one family (``lsh_band_pairs``,
``simhash_block_pairs``) or all four (``plans.pipeline``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from entity_deduplication_spark.config import DedupConfig
from entity_deduplication_spark.functions.hashing import simhash_hamming_band_structs
from entity_deduplication_spark.operators.pairs import block_self_join_pairs
from entity_deduplication_spark.sources.io import stage

# the block key of a band row; ``src`` keeps equal keys of two families
# apart
BAND_KEY_COLS = ["src", "band_idx", "band_key"]


def key_family(keys: Column, src: int, positional: bool) -> Column:
    """A band family of ``array<struct(src, band_idx, band_key)>`` from an
    ``array<bigint>`` of keys: ``band_idx`` is each key's position when
    ``positional`` (LSH bands), else 0 (fingerprints, one shared index).
    A NULL array gives no rows, like ``posexplode``."""
    arr = F.coalesce(keys, F.array().cast("array<bigint>"))
    if positional:
        return F.transform(arr, lambda x, i: _band(src, i, x))
    return F.transform(arr, lambda x: _band(src, F.lit(0), x))


def simhash_family(simhash: Column, cfg: DedupConfig) -> Column:
    """The SimHash band family (``src`` 2): one Hamming-LSH key per
    ``(n_blocks - hamming_max)``-subset of the signature's blocks (Manku
    et al., WWW'07). Two signatures within the Hamming radius share at
    least one band (pigeonhole on clean blocks); see
    ``simhash_hamming_band_structs``. Every row emits all its bands."""
    structs = simhash_hamming_band_structs(
        simhash, cfg.simhash_n_blocks, cfg.simhash_hamming_max
    )
    return F.transform(
        F.array(*structs), lambda s: _band(2, s["band_idx"], s["band_key"])
    )


def _band(src: int, band_idx: Column, band_key: Column) -> Column:
    return F.struct(
        F.lit(src).alias("src"),
        band_idx.cast("int").alias("band_idx"),
        band_key.cast("bigint").alias("band_key"),
    )


def band_rows(signatures: DataFrame, *families: Column) -> DataFrame:
    """(clip_id, src, band_idx, band_key) block rows of ``families`` from
    ONE explode over their per-row concat — one scan of ``signatures``,
    not a union of one scan per family."""
    return signatures.select(
        "clip_id", F.explode(F.concat(*families)).alias("rb")
    ).select("clip_id", "rb.src", "rb.band_idx", "rb.band_key")


def lsh_band_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate pairs from MinHash-LSH band collisions.

    ``signatures`` must carry ``clip_id`` and ``bands`` = array<bigint> of
    b band hashes (functions.hashing.band_keys). Two rows collide if ANY
    band matches; the self-join keeps each unordered pair once.
    """
    return block_self_join_pairs(
        band_rows(signatures, key_family(F.col("bands"), 0, positional=True)),
        key_cols=BAND_KEY_COLS,
        block_size_limit=cfg.block_size_limit,
    )


def simhash_block_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate pairs of ``clip_id``s whose ``simhash`` signatures share a
    block-subset key (``simhash_family``). Verification (exact bit_count)
    happens in the caller."""
    return block_self_join_pairs(
        band_rows(signatures, simhash_family(F.col("simhash"), cfg)),
        key_cols=BAND_KEY_COLS,
        block_size_limit=cfg.block_size_limit,
    )


def block_stats(
    df: DataFrame,
    key_cols: list,
    stoplist: dict,
) -> DataFrame:
    """Per-block (key..., n_ids, n_pairs) without stop-listed keys.

    The reference's email-domain block drops generic-provider domains
    before blocking (B4, deterministic_feature.py:365-377 stoplist
    pattern); ``stoplist`` maps column name -> excluded values. n_pairs is
    the comparison budget C(n,2) the block would generate — the planning
    metric the reference logs per block (A6).
    """
    out = df
    for col, values in stoplist.items():
        out = out.filter(~F.col(col).isin(list(values)))
    return out.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_ids"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("long")
        .alias("n_pairs"),
    )


def key_equality_pairs(
    df: DataFrame,
    id_col: str,
    block_key,
    key_name: str,
) -> DataFrame:
    """(id1, id2, <key_name>) pairs sharing an equality block key — the
    thin composite-recipe wrapper (reference B2/B3/B10-B13/B15 are all
    instances: phone suffix, anagram token key, industry+region, ...).
    Skew-aware via block_self_join_pairs; the key is re-attached from the
    id1 side for inspectability."""
    keyed = df.select(F.col(id_col).alias("clip_id"), block_key.alias(key_name))
    pairs = block_self_join_pairs(
        keyed, key_cols=[key_name], block_size_limit=10_000
    )
    side = df.select(F.col(id_col).alias("id1"), block_key.alias(key_name))
    return pairs.join(side, "id1").select("id1", "id2", key_name)


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_col: str,
    window: int,
    id_col: str = "clip_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (reference B16,
    deterministic_feature.py:1149-1171): sort by (``sort_col``, id), pair
    each row with the next ``window`` rows.

    Expressed as a rank self-join on row_number *buckets* — the
    reference's only sort-merge-shaped operator. The global sort is built
    scale-safely: ``repartitionByRange`` + within-partition ranks +
    broadcast partition offsets (global_rank = offset + local rank), so
    there is never a single-partition window or a cross join. Pairing
    joins on rank buckets of width ``window`` (each row lands in its
    bucket and its successor bucket) — shuffle volume O(n), not O(n^2).
    """
    ranked = _global_rank(df, sort_col, id_col)

    bucket = F.floor((F.col("_rn") - 1) / window)
    a = ranked.select(
        F.col(id_col).alias("id1"),
        F.col("_rn").alias("_rn1"),
        bucket.alias("_bk"),
    )
    # each right row is probed from its own bucket and the previous one:
    # for 0 < rn2-rn1 <= window the buckets differ by at most 1
    b = ranked.select(
        F.col(id_col).alias("id2"),
        F.col("_rn").alias("_rn2"),
        F.explode(F.array(bucket, bucket - 1)).alias("_bk"),
    )
    cond = (F.col("_rn2") > F.col("_rn1")) & (
        F.col("_rn2") <= F.col("_rn1") + window
    )
    return (
        a.join(b, on=["_bk"])
        .filter(cond)
        .select(
            F.least("id1", "id2").alias("id1"),
            F.greatest("id1", "id2").alias("id2"),
        )
        .filter(F.col("id1") != F.col("id2"))
        .dropDuplicates(["id1", "id2"])
    )


def _global_rank(df: DataFrame, sort_col: str, id_col: str) -> DataFrame:
    """Scale-safe global row_number by (sort_col, id_col): range-partition,
    rank within each range partition, add broadcast cumulative offsets.
    The only driver-side data is one row-count per partition."""
    src = df.select(F.col(id_col), F.col(sort_col))
    by_range = src.repartitionByRange(F.col(sort_col), F.col(id_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # read twice: the per-partition counts below and the offset projection
    by_range = stage(by_range)
    counts = dict(
        by_range.groupBy("_pid").count().collect()
    )  # tiny: one row per partition; partition count is bounded by
    # spark.sql.shuffle.partitions, so this collect is O(hundreds) rows
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.coalesce(
        *[
            F.when(F.col("_pid") == pid, F.lit(off))
            for pid, off in sorted(offsets.items())
        ],
        F.lit(0),
    ) if offsets else F.lit(0)
    w = Window.partitionBy("_pid").orderBy(sort_col, id_col)
    return by_range.withColumn(
        "_rn", F.row_number().over(w) + off_expr
    ).drop("_pid")
