"""Metrics + cluster-distribution aggregations (reference utils.py:192-228,
A2/A3/A4 in SURVEY.md §2.6) as single-pass Spark aggregates."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """7-bin cluster-size histogram (reference utils.py:217-225)."""
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    bucket = (
        F.when(F.col("sz") == 1, "1")
        .when(F.col("sz") == 2, "2")
        .when(F.col("sz").between(3, 5), "3-5")
        .when(F.col("sz").between(6, 10), "6-10")
        .when(F.col("sz").between(11, 20), "11-20")
        .when(F.col("sz").between(21, 50), "21-50")
        .otherwise("50+")
    )
    return (
        sizes.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("bucket")
    )


def dedup_metrics(clusters: DataFrame) -> DataFrame:
    """One-row metrics frame: totals, dedup rate, cluster-size stats
    (reference utils.py:192-228)."""
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.sum("sz").alias("total_records"),
        F.count(F.lit(1)).alias("unique_entities"),
        (1.0 - F.count(F.lit(1)) / F.sum("sz")).alias("dedup_rate"),
        F.avg("sz").alias("avg_cluster_size"),
        F.expr("percentile_approx(sz, 0.5)").alias("median_cluster_size"),
        F.max("sz").alias("max_cluster_size"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0)).alias("singletons"),
    )


def pair_confusion(
    assign_a: DataFrame, assign_b: DataFrame, id_col: str = "clip_id"
) -> DataFrame:
    """Pair-counting confusion between two clusterings of the same ids —
    one row: (n, ss, sd, ds, dd) over all C(n,2) id pairs where s/d =
    same/different cluster in (a, b).

    Distributed form of the reference's sampled Rand agreement
    (utils.py:273-331, comparison.py:193-231): instead of sampling pairs,
    count them exactly from the contingency table — groupBy(ca, cb) is one
    shuffle on cluster-id pairs, every count below is an aggregate of it.
    ss = sum C(n_ij,2); sd = sum C(a_i,2) - ss; ds = sum C(b_j,2) - ss;
    dd = C(n,2) - ss - sd - ds.
    """
    from entity_deduplication_spark.sources.io import stage

    j = assign_a.select(
        F.col(id_col).alias("_id"), F.col("cluster_id").alias("_ca")
    ).join(
        assign_b.select(
            F.col(id_col).alias("_id"), F.col("cluster_id").alias("_cb")
        ),
        "_id",
    )
    # Materialize the contingency table: it is tiny (<= one row per
    # cluster-pair actually populated) but its UPSTREAM is the join of two
    # full clusterings — previously the three aggregate consumers below
    # each re-executed that join + groupBy (the "before" plan carries the
    # whole subtree three times under the scalar cross-joins).
    cont = stage(
        j.groupBy("_ca", "_cb").agg(F.count(F.lit(1)).alias("nij"))
    )

    def c2(col):
        # double product before the sum: avoids ANSI bigint overflow on
        # huge clusters (n_i*(n_i-1) passes int64 at ~3e9 members); exact
        # for counts below 2^53
        return F.sum(col.cast("double") * (col - 1) / 2).cast("long")

    # fold ss into the a-marginal chain: per-ca partial sums of C(nij,2)
    # are integers in doubles (exact below 2^53), so the two-level sum is
    # bit-identical to the old single global sum
    a_marg = cont.groupBy("_ca").agg(
        F.sum("nij").alias("ai"),
        F.sum(F.col("nij").cast("double") * (F.col("nij") - 1) / 2).alias("_ssa"),
    ).agg(
        F.sum("_ssa").cast("long").alias("ss"),
        c2(F.col("ai")).alias("sa"),
        F.sum("ai").alias("n"),
    )
    b_marg = cont.groupBy("_cb").agg(F.sum("nij").alias("bj")).agg(
        c2(F.col("bj")).alias("sb")
    )
    return (
        a_marg.crossJoin(b_marg)  # two 1-row frames — driver-free scalar algebra
        .select(
            F.col("n"),
            F.col("ss"),
            (F.col("sa") - F.col("ss")).alias("sd"),
            (F.col("sb") - F.col("ss")).alias("ds"),
            (
                (F.col("n").cast("double") * (F.col("n") - 1) / 2).cast("long")
                - F.col("sa")
                - F.col("sb")
                + F.col("ss")
            ).alias("dd"),
        )
    )


def rand_index(
    assign_a: DataFrame, assign_b: DataFrame, id_col: str = "clip_id"
) -> DataFrame:
    """One row (n, agree_pairs, total_pairs, rand_index, adjusted_rand) —
    exact (not sampled) pair-counting agreement between two clusterings;
    reference A7/A8 (utils.py:273-331) as a distributed operator."""
    pc = pair_confusion(assign_a, assign_b, id_col)
    total = (F.col("n").cast("double") * (F.col("n") - 1) / 2).cast("long")
    agree = F.col("ss") + F.col("dd")
    # ARI = 2(ss*dd - sd*ds) / ((ss+sd)(sd+dd) + (ss+ds)(ds+dd)); 1.0 when
    # both clusterings are identical partitions (degenerate denominator)
    ss, sd, ds, dd = (F.col(c).cast("double") for c in ("ss", "sd", "ds", "dd"))
    num = 2.0 * (ss * dd - sd * ds)
    den = (ss + sd) * (sd + dd) + (ss + ds) * (ds + dd)
    return pc.select(
        F.col("n"),
        agree.alias("agree_pairs"),
        total.alias("total_pairs"),
        F.round(agree / total, 4).alias("rand_index"),
        F.round(
            F.when(den == 0, F.lit(1.0)).otherwise(num / den), 4
        ).alias("adjusted_rand"),
    )

