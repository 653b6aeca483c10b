"""Canonical election and backfill picks: one aggregation per pick, a
NULL order value loses, ties go to the smallest id or value."""

import pytest

from entity_deduplication_spark.operators.canonical import (
    elect_canonical,
    field_modes,
    most_detailed,
)


def _executed_plan(df) -> str:
    """Tree string of the executed (final adaptive) plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.treeString()


def _clustered(spark):
    rows = [
        # cluster 1: "a" has the smallest id but a NULL score, so it
        # loses; "b" and "c" tie on score 5 and the smaller id wins
        ("c", 1, 5),
        ("b", 1, 5),
        ("a", 1, None),
        ("f", 1, 2),
        # cluster 2: every score is NULL, so the smallest id wins
        ("e", 2, None),
        ("d", 2, None),
        # cluster 3: a singleton
        ("g", 3, 0),
    ]
    return spark.createDataFrame(rows, "clip_id string, cluster_id int, score int")


def test_elect_canonical_null_order_loses_ties_to_smallest_id(spark):
    out = elect_canonical(_clustered(spark), order_col="score")
    assert out.columns == [
        "cluster_id",
        "clip_id",
        "score",
        "_completeness",
        "cluster_size",
        "record_ids",
    ]
    got = {r["cluster_id"]: tuple(r)[1:] for r in out.collect()}
    assert got == {
        1: ("b", 5, 5, 4, ["a", "b", "c", "f"]),
        2: ("d", None, None, 2, ["d", "e"]),
        3: ("g", 0, 0, 1, ["g"]),
    }


def test_elect_canonical_is_one_aggregation(spark):
    """One shuffle for the election and its metadata: no window, no
    join-back to a separate metadata aggregate."""
    out = elect_canonical(_clustered(spark), order_col="score")
    out.collect()
    plan = _executed_plan(out)
    assert "Window" not in plan
    assert sum("Exchange" in ln for ln in plan.splitlines()) == 1


def test_elect_canonical_fails_on_repeated_ids(spark):
    """A cluster that lists an id twice fails the election's own job and
    names the cluster and the repeat count; it never over-counts
    ``cluster_size``."""
    rows = [
        ("a", 1, 1), ("b", 1, 2), ("a", 1, 1), ("a", 1, 3),
        ("c", 2, 1), ("d", 2, 1),
    ]
    clustered = spark.createDataFrame(
        rows, "clip_id string, cluster_id int, score int"
    )
    out = elect_canonical(clustered, order_col="score")
    with pytest.raises(Exception, match=r"cluster 1 lists 2 repeated clip_id"):
        out.collect()


def test_field_modes_and_most_detailed_ties_go_to_smallest_value(spark):
    rows = [
        # cluster 1: "b" and "a" both occur twice; "a, c" and "a, b" are
        # equally detailed (one comma, four characters)
        (1, "b", "a, c"),
        (1, "a", "a, b"),
        (1, "b", "zzz"),
        (1, "a", None),
        (1, "c", "zz"),
        # cluster 2: one value each
        (2, "x", "q"),
    ]
    df = spark.createDataFrame(rows, "cluster_id int, dom string, addr string")
    modes = {r["cluster_id"]: r["mode_dom"] for r in field_modes(df, ["dom"]).collect()}
    assert modes == {1: "a", 2: "x"}
    detailed = {
        r["cluster_id"]: r["detailed_addr"]
        for r in most_detailed(df, "addr").collect()
    }
    assert detailed == {1: "a, b", 2: "q"}
