"""Oversized-cluster splitting (reference utils.py:73-98: components > 50
re-clustered with Louvain).

Driver-side Louvain does not translate to 10^12-scale DataFrames; the
distributed analogue here keeps the same *intent* — break up suspiciously
large components — with deterministic semantics: for each component over
``max_size``, drop its weakest edges (score below a progressively raised
threshold) and re-run connected components on the remainder, repeating
until every component fits or the edge set is exhausted. Documented
deviation from the reference (SURVEY.md §2.5 C2): community structure is
approximated by score tiers instead of modularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_spark.operators.connected_components import (
    connected_components,
)
from entity_deduplication_spark.operators.pairs import attach_pair_features
from entity_deduplication_spark.sources.io import stage

_THRESHOLD_LADDER = [0.8, 0.85, 0.9, 0.95, 1.0]


def split_oversized_clusters(
    clusters: DataFrame,
    edges: DataFrame,
    max_size: int,
) -> DataFrame:
    """(clip_id, cluster_id) with every cluster <= max_size (best effort).

    ``clusters``: (clip_id, cluster_id); ``edges``: (id1, id2, score).
    Nodes of small clusters keep their assignment; oversized components
    are re-clustered on progressively stronger edges.
    """
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    flagged = clusters.join(sizes, "cluster_id").withColumn(
        "oversized", F.col("sz") > max_size
    )
    keep = flagged.filter(~F.col("oversized")).select("clip_id", "cluster_id")
    big_nodes = flagged.filter(F.col("oversized")).select("clip_id")
    if big_nodes.isEmpty():
        return clusters

    # consumed once per ladder rung
    big_edges = stage(
        attach_pair_features(edges, big_nodes, []).select(
            "id1", "id2", "score"
        )
    )
    result = None
    for thr in _THRESHOLD_LADDER:
        strong = big_edges.filter(F.col("score") >= thr)
        sub = connected_components(strong.select("id1", "id2"), nodes=big_nodes)
        sub_sizes = sub.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
        still_big = sub.join(sub_sizes, "cluster_id").filter(F.col("sz") > max_size)
        if still_big.isEmpty():
            result = sub
            break
        result = sub  # keep best-so-far; next rung tightens further
    return keep.unionByName(result.select("clip_id", "cluster_id"))
