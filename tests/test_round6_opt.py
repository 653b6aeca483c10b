"""Round-6 optimization guards.

Pins the equivalence of the plans round 6's performance work
restructured (pair confusion, unified band table) with their previous
outputs, and the clips parquet layout.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_pair_confusion_restructured_counts(spark):
    """The two-consumer contingency rewrite must reproduce the exact
    pair-confusion counts (hand-checkable 6-node example)."""
    from entity_deduplication_spark.operators.stats import pair_confusion

    a = spark.createDataFrame(
        [(i, i // 3) for i in range(6)], "clip_id long, cluster_id long"
    )  # {0,1,2}, {3,4,5}
    b = spark.createDataFrame(
        [(i, i // 2) for i in range(6)], "clip_id long, cluster_id long"
    )  # {0,1}, {2,3}, {4,5}
    row = pair_confusion(a, b).collect()[0]
    # ss: pairs same in both = (0,1) and (4,5) = 2
    # sa (same in a) = 2*C(3,2) = 6 -> sd = 4; sb = 3*C(2,2)... = 3 -> ds = 1
    # total = C(6,2) = 15 -> dd = 15 - 2 - 4 - 1 = 8
    assert (row["n"], row["ss"], row["sd"], row["ds"], row["dd"]) == (6, 2, 4, 1, 8)


def test_clips_parquet_row_groups_small_and_stale_cache_heals(tmp_path):
    """Row groups are Spark's scan-parallelism quantum: oversized groups
    leave most byte-range splits empty (the 8000-clip bench file had 4
    ~75 MB groups -> 4 working tasks out of 32). ensure_clips_parquet
    must (a) write small row groups and (b) regenerate a cached file
    written with the old oversized layout, byte-identically."""
    import pandas as pd
    import pyarrow.parquet as pq

    from entity_deduplication_spark.datagen import (
        CLIPS_ROW_GROUP_SIZE,
        ensure_clips_parquet,
        generate_clips,
    )

    d = str(tmp_path)
    p, _ = ensure_clips_parquet(300, seed=7, data_dir=d)
    meta = pq.ParquetFile(p).metadata
    assert meta.num_rows == 300
    assert meta.num_rows / meta.num_row_groups <= CLIPS_ROW_GROUP_SIZE
    fresh = pd.read_parquet(p)

    # simulate a stale cache from the old layout (one giant row group)
    clips, _ = generate_clips(300, seed=7)
    clips.to_parquet(p, index=False, row_group_size=2048)
    assert pq.ParquetFile(p).metadata.num_row_groups == 1
    p2, _ = ensure_clips_parquet(300, seed=7, data_dir=d)
    assert p2 == p
    meta2 = pq.ParquetFile(p).metadata
    assert meta2.num_rows / meta2.num_row_groups <= CLIPS_ROW_GROUP_SIZE
    assert pd.read_parquet(p).equals(fresh)

    # a skewed layout: one oversized group among many tiny ones keeps the
    # AVERAGE under the cap, but the big group still starves the scan
    import pyarrow as pa

    table = pa.Table.from_pandas(clips, preserve_index=False)
    with pq.ParquetWriter(p, table.schema) as w:
        w.write_table(table.slice(0, 200), row_group_size=200)
        w.write_table(table.slice(200), row_group_size=1)
    skewed = pq.ParquetFile(p).metadata
    assert skewed.num_rows / skewed.num_row_groups <= CLIPS_ROW_GROUP_SIZE
    assert skewed.row_group(0).num_rows == 200
    ensure_clips_parquet(300, seed=7, data_dir=d)
    meta3 = pq.ParquetFile(p).metadata
    assert max(
        meta3.row_group(i).num_rows for i in range(meta3.num_row_groups)
    ) <= CLIPS_ROW_GROUP_SIZE
    assert pd.read_parquet(p).equals(fresh)
    # the write-then-rename leaves no partial file behind
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]


def test_unified_band_table_one_pass_equals_union_construction(spark):
    """The one-pass (concat+explode) band table must emit exactly the
    rows of the old 4-way-union construction — including NULL/empty
    family arrays (posexplode drops them; a NULL family must not null
    the whole concat) and the SimHash family's emit-even-when-key-NULL
    behavior."""
    from pyspark.sql import functions as F

    from entity_deduplication_spark.config import DedupConfig
    from entity_deduplication_spark.datagen import generate_clips
    from entity_deduplication_spark.functions.hashing import (
        simhash_hamming_band_structs,
    )
    from entity_deduplication_spark.plans.pipeline import (
        build_signatures,
        unified_band_table,
    )

    cfg = DedupConfig()
    clips_pd, _ = generate_clips(80, seed=11)
    sig = build_signatures(spark.createDataFrame(clips_pd), cfg)
    # edge rows: NULL fps / empty bands / NULL simhash
    edge = spark.createDataFrame(
        [
            ("edge_null_fps", [1, 2], [3], 7, None),
            ("edge_empty", [], [], None, []),
            ("edge_only_fps", None, None, 5, [9, 9, 10]),
        ],
        "clip_id string, bands array<bigint>, audio_bands array<bigint>, "
        "simhash bigint, fps array<bigint>",
    )
    sig_cols = sig.select("clip_id", "bands", "audio_bands", "simhash", "fps")
    for table in (sig_cols, edge):
        def _banded(bands_col, src):
            return table.select(
                "clip_id",
                F.posexplode(F.col(bands_col)).alias("band_idx", "band_key"),
            ).select("clip_id", F.lit(src).alias("src"), "band_idx", "band_key")

        sim_structs = simhash_hamming_band_structs(
            F.col("simhash"), cfg.simhash_n_blocks, cfg.simhash_hamming_max
        )
        sim_banded = table.select(
            "clip_id", F.explode(F.array(*sim_structs)).alias("rb")
        ).select(
            "clip_id",
            F.lit(2).alias("src"),
            F.col("rb.band_idx").alias("band_idx"),
            F.col("rb.band_key").alias("band_key"),
        )
        fp_banded = table.select(
            "clip_id", F.explode("fps").alias("band_key")
        ).select(
            "clip_id", F.lit(3).alias("src"), F.lit(0).alias("band_idx"), "band_key"
        )
        old = (
            _banded("bands", 0)
            .unionByName(_banded("audio_bands", 1))
            .unionByName(sim_banded)
            .unionByName(fp_banded)
        )
        new = unified_band_table(table, cfg)
        assert new.columns == old.columns
        assert new.schema == old.schema
        key = lambda r: (r["clip_id"], r["src"], r["band_idx"], r["band_key"])
        assert sorted(new.collect(), key=key) == sorted(old.collect(), key=key)
