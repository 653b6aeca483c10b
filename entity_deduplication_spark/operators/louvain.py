"""Louvain community splitting of oversized clusters (reference C2).

The reference re-clusters components larger than 50 with python-louvain
(utils.py:73-98; graph_based.py:164-204 with ``resolution``). Faithful
distributed shape: oversized components are RARE and size-bounded (block
caps upstream), and the reference itself runs Louvain in-memory per
component — so each oversized cluster's edge list becomes one
``applyInPandas`` group and a from-scratch, deterministic Louvain kernel
(greedy modularity: local moves + graph aggregation, python-louvain's
algorithm) partitions it executor-side. No driver-side graph ever exists;
clusters at or under ``max_size`` are untouched.

Determinism: nodes are visited in sorted order, modularity-gain ties
break on the smallest community id, and the hierarchy loop is seeded by
the sorted node list — identical inputs give identical communities under
any partitioning/parallelism.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_spark.operators.pairs import attach_pair_features


def louvain_communities(edges: list[tuple]) -> dict:
    """node -> community label (min member node) for a weighted edge list.

    From-scratch Louvain (Blondel et al. 2008) at resolution 1: repeat
    {local-move passes until stable, then aggregate communities into
    supernodes} until the partition stops changing, for at most 10
    levels. ``edges``: (u, v, w) tuples, undirected.
    """
    # weighted adjacency with parallel edges summed; self-loops kept
    adj: dict = {}
    for u, v, w in edges:
        w = float(w)
        adj.setdefault(u, {})[v] = adj.get(u, {}).get(v, 0.0) + w
        if u != v:
            adj.setdefault(v, {})[u] = adj.get(v, {}).get(u, 0.0) + w
    nodes = sorted(adj)
    # current-level state; `member_of[n]` maps ORIGINAL node -> supernode
    member_of = {n: n for n in nodes}

    for _level in range(10):
        level_nodes = sorted(adj)
        # degree convention (networkx/python-louvain): a self-loop of
        # weight w contributes 2w to its node's degree; aggregated
        # intra-community weight is stored once and counted twice here,
        # so total weight is conserved across levels (Blondel et al.)
        k = {
            n: sum(adj[n].values()) + adj[n].get(n, 0.0) for n in level_nodes
        }
        two_m = sum(k.values())  # = 2m with self-loops double-counted
        if two_m == 0:
            break
        comm = {n: n for n in level_nodes}
        sigma_tot = dict(k)

        moved_any = False
        for _pass in range(100):
            moved = False
            for n in level_nodes:
                cn = comm[n]
                # weights from n to each neighboring community
                links: dict = {}
                for nb, w in adj[n].items():
                    if nb == n:
                        continue
                    links[comm[nb]] = links.get(comm[nb], 0.0) + w
                # detach n
                sigma_tot[cn] -= k[n]
                base = links.get(cn, 0.0) - k[n] * sigma_tot[cn] / two_m
                best_c, best_gain = cn, base
                for c in sorted(links):
                    gain = links[c] - k[n] * sigma_tot[c] / two_m
                    if gain > best_gain + 1e-12 or (
                        abs(gain - best_gain) <= 1e-12 and c < best_c
                    ):
                        best_c, best_gain = c, gain
                comm[n] = best_c
                sigma_tot[best_c] += k[n]
                if best_c != cn:
                    moved = moved_any = True
            if not moved:
                break

        if not moved_any:
            break
        # aggregate: supernode id = min original-level node in community
        roots: dict = {}
        for n in level_nodes:
            c = comm[n]
            roots[c] = min(roots.get(c, n), n)
        remap = {n: roots[comm[n]] for n in level_nodes}
        member_of = {orig: remap[sn] for orig, sn in member_of.items()}
        new_adj: dict = {}
        for u, nbrs in adj.items():
            ru = remap[u]
            for v, w in nbrs.items():
                rv = remap[v]
                if ru == rv:
                    # count intra-links once per undirected edge (u<=v)
                    if u <= v:
                        new_adj.setdefault(ru, {})[ru] = (
                            new_adj.get(ru, {}).get(ru, 0.0) + w
                        )
                else:
                    new_adj.setdefault(ru, {})[rv] = (
                        new_adj.get(ru, {}).get(rv, 0.0) + w
                    )
        adj = new_adj

    # label = min ORIGINAL member of each final community
    label: dict = {}
    for orig, sn in member_of.items():
        label[sn] = min(label.get(sn, orig), orig)
    return {orig: label[sn] for orig, sn in member_of.items()}


def louvain_split_oversized(
    clusters: DataFrame,
    edges: DataFrame,
    max_size: int,
    max_edges_per_component: int = 2_000_000,
) -> DataFrame:
    """(clip_id, cluster_id) with every cluster > max_size re-partitioned
    into its Louvain communities (new cluster id = community's min member,
    the engine-wide convention). Small clusters pass through untouched.

    Each oversized component's edge list runs in ONE applyInPandas task
    (the reference runs Louvain in-memory per component too). A
    pathological over-merge — the very situation the splitter exists for
    — could concentrate an unbounded edge list in that task, so
    components whose edge count exceeds ``max_edges_per_component`` are
    routed to the distributed score-tier splitter
    (operators.split.split_oversized_clusters) instead of a single-task
    Louvain kernel.
    """
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_sz"))
    flagged = clusters.join(sizes, "cluster_id")
    keep = flagged.filter(F.col("_sz") <= max_size).select("clip_id", "cluster_id")
    big = flagged.filter(F.col("_sz") > max_size).select("clip_id", "cluster_id")
    if big.isEmpty():
        return clusters

    # intra-cluster edges of oversized components, tagged with the cluster
    e = (
        attach_pair_features(edges, big, ["cluster_id"])
        .filter(F.col("cluster_id_1") == F.col("cluster_id_2"))
        .select(F.col("cluster_id_1").alias("_grp"), "id1", "id2", "score")
    )

    # giant-component guard: count edges per component FIRST; components
    # above the cap never reach the single-task kernel. Materialized once
    # for the several consumers below.
    from entity_deduplication_spark.sources.io import stage

    e = stage(e)
    giant_ids = (
        e.groupBy("_grp")
        .agg(F.count(F.lit(1)).alias("_ne"))
        .filter(F.col("_ne") > max_edges_per_component)
        .select("_grp")
    )
    giant_rows = giant_ids.collect()  # bounded: one row per GIANT component
    giant_out = None
    if giant_rows:
        from entity_deduplication_spark.operators.split import (
            split_oversized_clusters,
        )

        gset = [r["_grp"] for r in giant_rows]
        g_members = big.filter(F.col("cluster_id").isin(gset))
        g_edges = e.filter(F.col("_grp").isin(gset)).select(
            "id1", "id2", "score"
        )
        giant_out = split_oversized_clusters(
            g_members.select("clip_id", "cluster_id"), g_edges, max_size=max_size
        )
        big = big.filter(~F.col("cluster_id").isin(gset))
        e = e.filter(~F.col("_grp").isin(gset))

    id_type = dict(clusters.dtypes)["clip_id"]

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        assign = louvain_communities(
            list(zip(pdf["id1"], pdf["id2"], pdf["score"]))
        )
        items = sorted(assign.items())
        return pd.DataFrame(
            {
                "clip_id": [n for n, _ in items],
                "cluster_id": [c for _, c in items],
            }
        )

    split = e.groupBy("_grp").applyInPandas(
        _kernel, schema=f"clip_id {id_type}, cluster_id {id_type}"
    )
    # isolated members of an oversized cluster (no intra-cluster edge —
    # cannot happen when clusters came from these edges, but be total)
    seen = split.select("clip_id")
    orphans = big.select("clip_id").exceptAll(seen).withColumn(
        "cluster_id", F.col("clip_id")
    )
    out = keep.unionByName(split).unionByName(orphans)
    if giant_out is not None:
        out = out.unionByName(giant_out)
    return out


__all__ = ["louvain_communities", "louvain_split_oversized"]
