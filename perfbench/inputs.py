"""Seeded benchmark inputs, written under the benchmark's own data dir.

* clips: ``datagen.generate_clips`` (planted duplicate groups + truth),
  written with the engine's own row-group layout.
* documents / part: the two tables the similarity queries read, in the
  shape of the repository's TPC-H-style test tables (30-word text pool,
  5% planted ``<copy> dup`` near-duplicates; two-word part names within
  brand|type blocks), generated here so the benchmark needs no data
  outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PART_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
PART_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]


def write_clips(
    data_dir: str, n_clips: int, seed: int, dup_fraction: float
) -> tuple[str, pd.DataFrame]:
    """Generate clips, write them as parquet; return (path, truth)."""
    from entity_deduplication_spark.datagen import (
        CLIPS_ROW_GROUP_SIZE,
        generate_clips,
    )

    clips, truth = generate_clips(n_clips, seed=seed, dup_fraction=dup_fraction)
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, "clips.parquet")
    clips.to_parquet(path, index=False, row_group_size=CLIPS_ROW_GROUP_SIZE)
    return path, truth


def documents(n_docs: int, seed: int) -> tuple[pd.DataFrame, np.ndarray]:
    """Return (documents, truth): truth[i] is the doc a planted copy was
    made from, else i itself."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(DOC_WORDS, int(n))) for n in lengths]
    is_copy = rng.random(n_docs) < 0.05
    originals = np.flatnonzero(~is_copy)
    truth = np.arange(n_docs)
    for i in np.flatnonzero(is_copy):
        truth[i] = int(rng.choice(originals))
        texts[i] = texts[truth[i]] + " dup"
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(DOC_LANGS, n_docs, p=DOC_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return docs, truth


def part(n_parts: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    names = [
        f"{a} {n}"
        for a, n in zip(
            rng.choice(PART_ADJ, n_parts), rng.choice(PART_NOUN, n_parts)
        )
    ]
    return pd.DataFrame(
        {
            "p_partkey": np.arange(n_parts, dtype=np.int64),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
            "p_type": rng.choice(PART_TYPES, n_parts),
            "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_parts) % 1000) / 10.0,
        }
    )


def write_query_tables(
    data_dir: str, n_docs: int, n_parts: int, seed: int
) -> np.ndarray:
    """Write documents.parquet and part.parquet; return the doc truth."""
    os.makedirs(data_dir, exist_ok=True)
    docs, truth = documents(n_docs, seed)
    docs.to_parquet(os.path.join(data_dir, "documents.parquet"), index=False)
    part(n_parts, seed).to_parquet(
        os.path.join(data_dir, "part.parquet"), index=False
    )
    return truth
