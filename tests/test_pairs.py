"""Pair plumbing: block self-join (incl. salted hot path) vs brute force;
the oversize policies of the block self-join, scalar and Column alike;
chain edges produce the same connected components as cliques."""

import itertools
import re

import pytest
from pyspark.sql import functions as F

from entity_deduplication_spark.operators.connected_components import (
    connected_components,
)
from entity_deduplication_spark.operators.pairs import (
    block_self_join_pairs,
    canonicalize_pairs,
    chain_edges_within_block,
)


def _brute_pairs(rows):
    by_key = {}
    for k, i in rows:
        by_key.setdefault(k, []).append(i)
    out = set()
    for members in by_key.values():
        for a, b in itertools.combinations(sorted(members), 2):
            out.add((a, b))
    return out


def test_block_self_join_matches_brute_force(spark):
    rows = [(f"k{i % 7}", f"id{i:03d}") for i in range(60)]
    df = spark.createDataFrame(rows, ["bk", "clip_id"])
    got = {
        (r["id1"], r["id2"])
        for r in block_self_join_pairs(df, ["bk"], block_size_limit=100).collect()
    }
    assert got == _brute_pairs(rows)


def test_block_self_join_salted_hot_path_lossless(spark):
    # one hot key (300 rows > hot_threshold) + cold keys
    rows = [("hot", f"id{i:04d}") for i in range(300)] + [
        (f"c{i % 5}", f"xd{i:03d}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["bk", "clip_id"])
    got = {
        (r["id1"], r["id2"])
        for r in block_self_join_pairs(
            df, ["bk"], block_size_limit=1000, hot_threshold=64, salt_buckets=8
        ).collect()
    }
    assert got == _brute_pairs(rows)


def test_block_self_join_is_one_join(spark):
    # hot and cold blocks pair through one join salted by block size, with
    # the pairs of an unsalted join
    rows = [("hot", f"id{i:03d}") for i in range(40)] + [
        (f"c{i % 5}", f"xd{i:03d}") for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["bk", "clip_id"])
    salted = block_self_join_pairs(
        df, ["bk"], block_size_limit=1000, hot_threshold=16, salt_buckets=4
    )
    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"^[\s:+-]*Join ", plan, re.MULTILINE)) == 1, plan
    plain = block_self_join_pairs(
        df, ["bk"], block_size_limit=1000, hot_threshold=10**9, salt_buckets=1
    )
    got = {(r["id1"], r["id2"]) for r in salted.collect()}
    assert got == {(r["id1"], r["id2"]) for r in plain.collect()}
    assert got == _brute_pairs(rows)


def test_block_size_limit_truncates(spark):
    rows = [("k", f"id{i:03d}") for i in range(30)]
    df = spark.createDataFrame(rows, ["bk", "clip_id"])
    got = block_self_join_pairs(df, ["bk"], block_size_limit=10).collect()
    # only the first 10 ids by sort order participate: C(10,2) pairs
    assert len(got) == 45
    ids = {r["id1"] for r in got} | {r["id2"] for r in got}
    assert ids == {f"id{i:03d}" for i in range(10)}


def _oversize_df(spark):
    # block "hot" has 6 members (> limit 4), block "ok" has 2
    return spark.createDataFrame(
        [(f"c{i}", "hot") for i in range(6)] + [("x", "ok"), ("y", "ok")],
        "clip_id string, block_key string",
    )


def _oversize_pairs(spark, policy, as_column):
    wrap = F.lit if as_column else (lambda v: v)
    return block_self_join_pairs(
        _oversize_df(spark),
        ["block_key"],
        block_size_limit=wrap(4),
        on_oversize=wrap(policy),
    )


_SCALAR_OR_COLUMN = pytest.mark.parametrize(
    "as_column", [False, True], ids=["scalar", "column"]
)


@_SCALAR_OR_COLUMN
def test_block_oversize_policies(spark, as_column):
    def run(policy):
        out = _oversize_pairs(spark, policy, as_column).collect()
        return {(r["id1"], r["id2"]) for r in out}

    cold = {("x", "y")}
    # chain: consecutive-by-id chain (5 edges for 6 members), NOT all
    # C(6,2)=15 pairs and NOT nothing
    assert run("chain") == cold | {(f"c{i}", f"c{i + 1}") for i in range(5)}
    # skip: the oversized block contributes nothing
    assert run("skip") == cold
    # truncate: the first 4 members by id pair in full, C(4,2)=6
    first4 = [f"c{i}" for i in range(4)]
    assert run("truncate") == cold | set(itertools.combinations(first4, 2))


@_SCALAR_OR_COLUMN
def test_block_oversize_error_raises(spark, as_column):
    out = _oversize_pairs(spark, "error", as_column)  # raises on the action
    with pytest.raises(Exception, match="block_size_limit=4"):
        out.collect()


@_SCALAR_OR_COLUMN
def test_block_oversize_unknown_policy_raises(spark, as_column):
    # a typo'd policy must be loud, not silently drop candidates
    out = _oversize_pairs(spark, "bogus", as_column)
    with pytest.raises(Exception, match="on_oversize policy bogus"):
        out.collect()


def test_column_chain_plan_has_no_window(spark):
    # size, rank and successor come from the one staged window pass; the
    # chain pairs must not re-window the staged table
    out = _oversize_pairs(spark, "chain", as_column=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"^[\s:+-]*Window ", plan, re.MULTILINE), plan


def test_canonicalize_pairs(spark):
    df = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("c", "c"), ("a", "c")], ["id1", "id2"]
    )
    got = {(r["id1"], r["id2"]) for r in canonicalize_pairs(df).collect()}
    assert got == {("a", "b"), ("a", "c")}


def test_chain_edges_same_components_as_clique(spark):
    rows = [(f"k{i % 4}", f"id{i:03d}") for i in range(40)]
    df = spark.createDataFrame(rows, ["bk", "clip_id"])
    chain = chain_edges_within_block(df, ["bk"])
    clique = block_self_join_pairs(df, ["bk"], block_size_limit=100)
    nodes = df.select("clip_id").distinct()
    cc_chain = {
        (r["clip_id"], r["cluster_id"])
        for r in connected_components(chain, nodes=nodes).collect()
    }
    cc_clique = {
        (r["clip_id"], r["cluster_id"])
        for r in connected_components(clique, nodes=nodes).collect()
    }
    assert cc_chain == cc_clique
    # chain is linear in block size
    assert chain.count() == sum(10 - 1 for _ in range(4))
