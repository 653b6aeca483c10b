"""Connected components via alternating large-star / small-star.

Replaces the reference's driver-side ``networkx.connected_components``
(utils.py:43-116, CC at :69) with the distributed union-find-semantics
algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14) — O(log^2 n) rounds on any graph, each round a pair of
groupBy/join plans. Every round is materialized with ``sources.io.stage``
to truncate lineage (SURVEY.md §7 hard part 1); convergence is detected
by an order-insensitive (count, xor-hash) signature of the edge set,
observed by the same action that materializes the round.

IDs are compared with their natural ordering (works for string clip_ids
and numeric ids alike); the final cluster_id is the component's minimum
member id — deterministic and stable under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from entity_deduplication_spark.sources.io import stage

# cap on large-star/small-star rounds; the loop stops at the fixpoint
MAX_STAR_ROUNDS = 50


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (hi, lo); m = min(lo-neighbors ∪ {u}); emit stars to m."""
    oriented = e.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
    part1 = (
        oriented.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    part2 = mins.select("u", F.col("m").alias("v"))
    return part1.unionByName(part2).distinct()


def _signature_aggs() -> list[Column]:
    # bit_xor is order-insensitive and overflow-free (ANSI-safe); the edge
    # set is distinct so xor cancellation of repeated rows cannot occur.
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ]


def _staged(df: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Stage ``df`` and return it with its edge-set signature, observed by
    the materializing action itself rather than a second aggregate job."""
    obs = Observation()
    out = stage(df.observe(obs, *_signature_aggs()))
    return out, (int(obs.get["n"]), int(obs.get["h"]))


def _union_find_labels(e: DataFrame) -> DataFrame:
    """Small-graph fast path: one executor task runs union-find over the
    whole (small) edge set via applyInPandas — same min-member labels as
    the star rounds, ~1 job instead of O(log^2 n) round barriers.

    This is the CC analogue of AQE's broadcast-join demotion: when the
    VERIFIED edge set is small (it usually is — edges above
    match_threshold are sparse even when the input is huge), pushing it
    through shuffle-round machinery wastes more wall on job scheduling
    than the work itself. The caller gates this on the measured edge
    count, so the star rounds still handle genuinely large graphs.
    """
    import pandas as pd

    def _uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for u, v in zip(pdf["u"], pdf["v"]):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by min: root is the smaller id (deterministic)
                parent[max(ru, rv)] = min(ru, rv)
        items = sorted(parent)
        return pd.DataFrame(
            {"n": items, "c": [find(x) for x in items]}
        )

    id_type = dict(e.dtypes)["u"]
    return (
        e.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(_uf, schema=f"n {id_type}, c {id_type}")
        .select(F.col("n").alias("clip_id"), F.col("c").alias("cluster_id"))
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """(clip_id, cluster_id) for every node; cluster_id = min member id.

    ``edges``: (id1, id2) undirected; ``nodes``: the full ``clip_id``
    table, so unmatched records become singleton clusters (reference
    utils.py:106-111).
    """
    e, sig = _staged(
        edges.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    if 0 < sig[0] <= small_graph_edges:
        labels = _union_find_labels(e)
    else:
        for _ in range(MAX_STAR_ROUNDS):
            e, nxt = _staged(_small_star(_large_star(e)))
            if nxt == sig:
                break
            sig = nxt

        # at fixpoint every component is a star to its min; label from
        # symmetric min
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        labels = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        labels = labels.select(
            F.col("u").alias("clip_id"),
            F.least(F.col("u"), F.col("_mn")).alias("cluster_id"),
        )
    all_nodes = nodes.select("clip_id").distinct()
    return all_nodes.join(labels, "clip_id", "left").select(
        "clip_id",
        F.coalesce(F.col("cluster_id"), F.col("clip_id")).alias("cluster_id"),
    )
