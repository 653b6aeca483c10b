"""Pairwise similarity expressions — pure Catalyst where possible.

These play the role of the reference's rapidfuzz ratios
(rule_based.py:81,116; deterministic_feature.py:590-637) recast as
set/bit similarities that Spark evaluates JVM-side with whole-stage
codegen: Jaccard over shingle arrays, Hamming over SimHash, cosine over
embedding arrays.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two array<bigint> shingle sets (arrays pre-distinct).

    |a ∪ b| is derived as |a| + |b| − |a ∩ b| instead of a second
    ``array_union`` set build: every producer stores shingle arrays
    pre-deduplicated (``array_distinct`` in functions.text,
    ``np.unique`` in audio.decode / functions.suffix), and the hash-set
    construction inside each set op dominates verify CPU at scale —
    this halves it. NULL inputs propagate through ``size`` to the
    ``otherwise`` branch exactly as the two-set-op form did.
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


def hamming_similarity(a: Column, b: Column) -> Column:
    """1 - hamming/64 for two 64-bit SimHash signatures."""
    dist = F.bit_count(a.bitwiseXOR(b))
    return F.lit(1.0) - dist.cast("double") / F.lit(64.0)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns (JVM-side fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))
