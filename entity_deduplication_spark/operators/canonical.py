"""Canonical-record election + cluster metadata.

Reference: utils.py:119-189 — most-complete row wins per cluster, plus
``cluster_size`` and member ``record_ids`` metadata (utils.py:152-153).
Here the caller names the numeric rank column; every per-cluster pick
(the canonical row, a field's mode, the most detailed value) is one
``min_by`` aggregation over a deterministic order key, and the election
computes the metadata in the same ``groupBy`` — one shuffle, no window,
no join-back, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _first(value: Column, desc: Column, asc: Column) -> Column:
    """``value`` of the group's row with the largest numeric ``desc``
    (NULLs last), ties broken by the smallest ``asc``."""
    return F.min_by(value, F.struct(desc.isNull(), -desc, asc))


def elect_canonical(
    clustered: DataFrame,
    id_col: str = "clip_id",
    *,
    order_col: str,
) -> DataFrame:
    """One representative row per ``cluster_id`` + cluster_size + record_ids.

    Ordering: the numeric ``order_col`` desc (NULLs last), then id asc —
    deterministic under any parallelism. The reference ranks by a
    completeness score (utils.py:143-148); a caller that wants one passes
    it as ``order_col``. Output: ``cluster_id``, the winner's other columns
    plus ``_completeness`` (the rank value), then ``cluster_size`` and
    ``record_ids``.

    Ids must be unique: a cluster that lists an id twice fails the job
    that runs the election, naming the cluster and the repeat count,
    instead of over-counting ``cluster_size``.
    """
    ranked = clustered.withColumn("_completeness", F.col(order_col))
    rest = [c for c in ranked.columns if c != "cluster_id"]
    size = F.col("cluster_size")
    repeats = size - F.size(F.array_distinct("record_ids"))
    unique_size = F.when(repeats == 0, size).otherwise(
        F.raise_error(
            F.format_string(
                f"elect_canonical: cluster %s lists %d repeated {id_col} value(s)",
                F.col("cluster_id"),
                repeats,
            )
        )
    )
    return ranked.groupBy("cluster_id").agg(
        _first(F.struct(*rest), F.col("_completeness"), F.col(id_col)).alias("_w"),
        F.count(F.lit(1)).alias("cluster_size"),
        F.sort_array(F.collect_list(F.col(id_col))).alias("record_ids"),
    ).select("cluster_id", "_w.*", unique_size.alias("cluster_size"), "record_ids")


def field_modes(clustered: DataFrame, cols: list[str]) -> DataFrame:
    """Per-cluster most-common non-empty value for each of ``cols``.

    (cluster_id, mode_<col>...) — reference utils.py:158-176 fills missing
    canonical name/domain with the cluster's most frequent value. One
    groupBy per field; ties break deterministically on (count desc, value
    asc). NULL/empty values never become a mode.
    """
    out = None
    for c in cols:
        mode = (
            clustered.filter(F.col(c).isNotNull() & (F.length(F.col(c).cast("string")) > 0))
            .groupBy("cluster_id", c)
            .agg(F.count(F.lit(1)).alias("_n"))
            .groupBy("cluster_id")
            .agg(_first(F.col(c), F.col("_n"), F.col(c)).alias(f"mode_{c}"))
        )
        out = mode if out is None else out.join(mode, "cluster_id", "outer")
    return out


def most_detailed(clustered: DataFrame, col: str) -> DataFrame:
    """(cluster_id, detailed_<col>): the cluster's most 'detailed' value —
    comma count, then length, then value asc (reference utils.py:177-185
    picks the most-detailed address)."""
    d = F.size(F.split(F.col(col), ",")) * 1000 + F.length(F.col(col))
    return (
        clustered.filter(F.col(col).isNotNull())
        .groupBy("cluster_id")
        .agg(_first(F.col(col), d, F.col(col)).alias(f"detailed_{col}"))
    )


def backfill_canonical(
    canonical: DataFrame,
    clustered: DataFrame,
    mode_cols: list[str],
    detail_cols: list[str],
) -> DataFrame:
    """Fill the elected canonical row's missing/empty fields.

    ``mode_cols``: backfilled with the cluster's most-common value;
    ``detail_cols``: backfilled with the most-detailed value (comma count,
    then length). Matches reference utils.py:158-185 semantics: an elected
    winner keeps its own non-empty values; only gaps are filled.
    """
    out = canonical
    modes = field_modes(clustered, mode_cols)
    if modes is not None:
        out = out.join(modes, "cluster_id", "left")
        for c in mode_cols:
            filled = F.when(
                F.col(c).isNull() | (F.length(F.col(c).cast("string")) == 0),
                F.col(f"mode_{c}"),
            ).otherwise(F.col(c))
            out = out.withColumn(c, filled).drop(f"mode_{c}")
    for c in detail_cols:
        det = most_detailed(clustered, c)
        out = out.join(det, "cluster_id", "left")
        filled = F.when(
            F.col(c).isNull() | (F.length(F.col(c).cast("string")) == 0),
            F.col(f"detailed_{c}"),
        ).otherwise(F.col(c))
        out = out.withColumn(c, filled).drop(f"detailed_{c}")
    return out
