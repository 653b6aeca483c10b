"""Fuzzy string similarity: batch-vectorized InDel/token-ratio kernels,
Spark's built-in Levenshtein against DuckDB, and the Levenshtein pair
operator."""

import numpy as np
from pyspark.sql import functions as F


def _lcs_ref(a: str, b: str) -> int:
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, 1):
            cur.append(max(prev[j], cur[j - 1], prev[j - 1] + (ca == cb)))
        prev = cur
    return prev[len(b)]


def test_batch_indel_and_ratio():
    from entity_deduplication_spark.functions.fuzzy import batch_indel, batch_ratio

    rng = np.random.default_rng(11)
    alpha = "abxy"
    sa = ["".join(rng.choice(list(alpha), rng.integers(0, 12))) for _ in range(100)]
    sb = ["".join(rng.choice(list(alpha), rng.integers(0, 12))) for _ in range(100)]
    got = batch_indel(sa, sb)
    exp = [len(a) + len(b) - 2 * _lcs_ref(a, b) for a, b in zip(sa, sb)]
    assert got.tolist() == exp
    # rapidfuzz-documented example: fuzz.ratio = 96.55...
    r = batch_ratio(["this is a test"], ["this is a test!"])
    assert abs(r[0] - 100 * (1 - 1 / 29)) < 1e-9
    assert batch_ratio([""], [""])[0] == 100.0
    assert batch_ratio(["abc"], [""])[0] == 0.0


def test_token_ratios():
    from entity_deduplication_spark.functions.fuzzy import (
        batch_token_set_ratio,
        batch_token_sort_ratio,
    )

    assert batch_token_sort_ratio(
        ["fuzzy wuzzy was a bear"], ["wuzzy fuzzy was a bear"]
    )[0] == 100.0
    # subset token sets -> token_set_ratio 100
    assert batch_token_set_ratio(
        ["fuzzy was a bear"], ["fuzzy fuzzy was a bear"]
    )[0] == 100.0
    # disjoint -> low
    assert batch_token_set_ratio(["alpha beta"], ["gamma delta"])[0] < 60.0


def test_levenshtein_udf_matches_duckdb(spark):
    import duckdb

    pairs = [
        ("spring green yellow", "green spring yellow"),
        ("goldenrod lavender", "goldenrod lace"),
        ("", "abc"),
        ("same", "same"),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = {
        (r["a"], r["b"]): r["lev"]
        for r in df.withColumn("lev", F.levenshtein(F.col("a"), F.col("b"))).collect()
    }
    con = duckdb.connect()
    for a, b in pairs:
        exp = con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert got[(a, b)] == exp


def test_levenshtein_sim_pairs_operator(spark):
    from entity_deduplication_spark.operators.fuzzy import levenshtein_sim_pairs

    rows = [
        (1, "g1", "alpha beta gamma"),
        (2, "g1", "beta alpha gamma"),   # token-sort identical to 1
        (3, "g1", "totally different words"),
        (4, "g2", "alpha beta gamma"),   # other block: never paired with 1
        (5, "g3", None),                 # two NULL texts have no distance:
        (6, "g3", None),                 # the pair is dropped, not scored 1.0
    ]
    df = spark.createDataFrame(rows, ["id", "grp", "name"])
    got = {
        (r["id1"], r["id2"]): r["lev_sim"]
        for r in levenshtein_sim_pairs(
            df, "id", "name", F.col("grp"), threshold=0.9
        ).collect()
    }
    assert got == {(1, 2): 1.0}
