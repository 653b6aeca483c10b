"""Batch-vectorized fuzzy string ratios (reference V1/V2 fidelity).

The reference's most-used similarity is ``fuzz.token_sort_ratio`` /
``fuzz.token_set_ratio`` (resolvers/rule_based.py:81,116,131,150;
resolvers/ml_based.py:90-92; resolvers/deterministic_feature.py:590,615,
637,1269 — row-at-a-time rapidfuzz over pandas). This module reimplements
the same scores from scratch as Arrow ``pandas_udf`` kernels whose DP
inner loop is vectorized ACROSS the batch: strings are padded into a
(batch x max_len) uint32 code-point matrix and the LCS recurrence
advances one (i, j) cell per step with every pair in the batch updated
by one numpy op — zero per-row Python. For short strings
(names/titles, the fuzzy ratios' domain) a batch of B pairs costs
O(L1*L2) numpy ops of width B.

Scores (0-100, like rapidfuzz):
* ``ratio``            = 100 * (1 - indel_distance / (len1 + len2))
  where indel = len1 + len2 - 2 * LCS (insert/delete only — fuzz.ratio).
* ``token_sort_ratio`` = ratio over whitespace tokens sorted + re-joined.
* ``token_set_ratio``  = max of ratios among (sorted intersection,
  intersection + sorted a-only, intersection + sorted b-only).

Classic edit distance (with substitutions) needs no kernel here: the
operators use Spark's built-in ``levenshtein``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _encode(strings: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(batch x max_len) uint32 code points (0-padded) + lengths."""
    n = len(strings)
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    m = int(lens.max()) if n else 0
    mat = np.zeros((n, max(m, 1)), dtype=np.uint32)
    for i, s in enumerate(strings):  # row fill only; DP is batch-vectorized
        if s:
            mat[i, : len(s)] = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.uint32
            )
    return mat, lens


def batch_indel(sa: list[str], sb: list[str]) -> np.ndarray:
    """InDel distance = len1 + len2 - 2*LCS (no substitutions) per pair."""
    a, la = _encode(sa)
    b, lb = _encode(sb)
    n, m1, m2 = len(sa), a.shape[1], b.shape[1]
    lcs_out = np.zeros(n, dtype=np.int64)
    prev = np.zeros((n, m2 + 1), dtype=np.int64)
    for i in range(1, m1 + 1):
        cur = np.zeros_like(prev)
        eq = a[:, i - 1 : i] == b  # (n, m2)
        for j in range(1, m2 + 1):
            np.maximum(prev[:, j], cur[:, j - 1], out=cur[:, j])
            np.maximum(
                cur[:, j], prev[:, j - 1] + eq[:, j - 1], out=cur[:, j]
            )
        hit = la == i
        if hit.any():
            lcs_out[hit] = cur[hit, lb[hit]]
        prev = cur
    return la + lb - 2 * lcs_out


def batch_ratio(sa: list[str], sb: list[str]) -> np.ndarray:
    """fuzz.ratio: 100 * (1 - indel / (len1+len2)); 100.0 for two empties."""
    la = np.fromiter((len(s) for s in sa), dtype=np.int64, count=len(sa))
    lb = np.fromiter((len(s) for s in sb), dtype=np.int64, count=len(sb))
    tot = la + lb
    dist = batch_indel(sa, sb)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = np.where(tot > 0, 100.0 * (1.0 - dist / np.maximum(tot, 1)), 100.0)
    return r


def _token_sort(s: str) -> str:
    return " ".join(sorted((s or "").split()))


def batch_token_sort_ratio(sa: list[str], sb: list[str]) -> np.ndarray:
    return batch_ratio([_token_sort(s) for s in sa], [_token_sort(s) for s in sb])


def batch_token_set_ratio(sa: list[str], sb: list[str]) -> np.ndarray:
    """rapidfuzz token_set_ratio: compare sorted-intersection vs
    intersection+diff strings, take the max of the three ratios."""
    t0s, t1s, t2s = [], [], []
    for x, y in zip(sa, sb):
        ta, tb = set((x or "").split()), set((y or "").split())
        inter = " ".join(sorted(ta & tb))
        da = " ".join(sorted(ta - tb))
        db = " ".join(sorted(tb - ta))
        sect_a = f"{inter} {da}".strip()
        sect_b = f"{inter} {db}".strip()
        t0s.append((inter, sect_a))
        t1s.append((inter, sect_b))
        t2s.append((sect_a, sect_b))
    r01 = batch_ratio([p[0] for p in t0s], [p[1] for p in t0s])
    r02 = batch_ratio([p[0] for p in t1s], [p[1] for p in t1s])
    r12 = batch_ratio([p[0] for p in t2s], [p[1] for p in t2s])
    # rapidfuzz: exact-intersection shortcut — a NONEMPTY intersection
    # where one side's token set contains the other scores 100 (an empty
    # set is trivially a subset but shares no tokens, so it must NOT
    # trigger the shortcut)
    def _full(x: str, y: str) -> bool:
        ta, tb = set((x or "").split()), set((y or "").split())
        return bool(ta & tb) and (ta <= tb or tb <= ta)

    full = np.fromiter(
        (_full(x, y) for x, y in zip(sa, sb)),
        dtype=bool,
        count=len(sa),
    )
    out = np.maximum(np.maximum(r01, r02), r12)
    out[full] = 100.0
    # empty-vs-nonempty scores 0, not 100: with one empty token set the
    # intersection and that side's difference are both empty strings, so
    # r01 = ratio("", "") = 100 by the two-empties convention — but the
    # pair shares no tokens at all (rapidfuzz scores it 0)
    one_empty = np.fromiter(
        (
            bool((x or "").split()) != bool((y or "").split())
            for x, y in zip(sa, sb)
        ),
        dtype=bool,
        count=len(sa),
    )
    out[one_empty] = 0.0
    return out


def _pair_udf(kernel, ret_type):
    @F.pandas_udf(ret_type)
    def _udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        a = ["" if v is None else str(v) for v in s1]
        b = ["" if v is None else str(v) for v in s2]
        return pd.Series(kernel(a, b))

    # the kernels ARE deterministic; the marker stops CollapseProject
    # from inlining the UDF into downstream filters, which would run the
    # whole DP twice per pair (once for the predicate, once for output)
    return _udf.asNondeterministic()


def token_sort_ratio_udf():
    """pandas_udf (s1, s2) -> double token_sort_ratio in [0, 100]."""
    return _pair_udf(batch_token_sort_ratio, T.DoubleType())


def token_set_ratio_udf():
    """pandas_udf (s1, s2) -> double token_set_ratio in [0, 100]."""
    return _pair_udf(batch_token_set_ratio, T.DoubleType())
