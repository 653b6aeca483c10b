"""Suffix-array kernels (numpy prefix-doubling) + winnowing fingerprints.

The reference's ``fuzz.partial_ratio`` substring-ish similarity
(ml_based.py:92,102,118) becomes exact-run detection here (north_star):

* ``winnow_fingerprints`` — rolling-hash k-grams winnowed with window w
  (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
  Fingerprinting", SIGMOD'03): any substring match of length
  >= k + w - 1 is guaranteed to share at least one fingerprint, so
  fingerprint equality is a *complete* blocking key for runs of the
  target length.
* ``build_suffix_array`` — O(n log n) prefix-doubling via numpy argsort.
* ``common_run_pairs`` — generalized suffix array over a group of docs +
  Kasai LCP; emits every doc pair sharing an exact run >= min_len.

All pure numpy — called from Arrow-batched pandas_udf / applyInPandas.
"""

from __future__ import annotations

import numpy as np

_B = np.uint64(1_000_003)  # polynomial rolling-hash base
# output bound of common_run_pairs: a group's LCP scan stops once it holds
# this many pairs, so one hot fingerprint bucket cannot flood its task
MAX_RUN_PAIRS = 100_000


def rolling_kgram_hashes(s: str, k: int) -> np.ndarray:
    """uint64 polynomial rolling hashes of every k-gram of s."""
    if len(s) < k:
        return np.empty(0, dtype=np.uint64)
    a = np.frombuffer(s.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    # byte-level k-grams of the utf-8 stream (ascii-safe for our corpus)
    n = len(a) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):  # wraparound mod 2^64 is intended
        powers = np.empty(k, dtype=np.uint64)
        powers[k - 1] = np.uint64(1)
        for i in range(k - 2, -1, -1):
            powers[i] = powers[i + 1] * _B
        windows = np.lib.stride_tricks.sliding_window_view(a, k).astype(np.uint64)
        return (windows * powers[None, :]).sum(axis=1, dtype=np.uint64)


def winnow_fingerprints(s: str, k: int, w: int) -> np.ndarray:
    """Distinct winnowed fingerprints of s (min hash per sliding window)."""
    h = rolling_kgram_hashes(s, k)
    if len(h) == 0:
        return np.empty(0, dtype=np.int64)
    if len(h) <= w:
        return np.unique(h.astype(np.int64))
    wins = np.lib.stride_tricks.sliding_window_view(h, w)
    return np.unique(wins.min(axis=1).astype(np.int64))


def build_suffix_array(codes: np.ndarray) -> np.ndarray:
    """Suffix array of an int sequence by prefix doubling (numpy argsort)."""
    n = len(codes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.unique(codes, return_inverse=True)[1].astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    k = 1
    idx = np.arange(n)
    while k < n:
        second = np.full(n, -1, dtype=np.int64)
        second[: n - k] = rank[k:]
        order = np.lexsort((second, rank))
        key = np.stack([rank[order], second[order]], axis=1)
        new_rank = np.empty(n, dtype=np.int64)
        changed = np.any(key[1:] != key[:-1], axis=1)
        new_rank[order] = np.concatenate(([0], np.cumsum(changed)))
        rank = new_rank
        sa = order
        if rank[sa[-1]] == n - 1:
            break
        k *= 2
    return sa.astype(np.int64)


def kasai_lcp(codes: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """LCP array (lcp[i] = LCP(sa[i-1], sa[i])) via Kasai's algorithm."""
    n = len(codes)
    lcp = np.zeros(n, dtype=np.int64)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and codes[i + h] == codes[j + h]:
                h += 1
            lcp[r] = h
            if h > 0:
                h -= 1
        else:
            h = 0
    return lcp


def common_run_pairs(doc_ids: list, texts: list[str], min_len: int) -> list[tuple]:
    """All (id1, id2, run_len) pairs of docs sharing an exact run >= min_len.

    Builds one generalized suffix array over the group (docs joined by
    unique negative sentinels so runs cannot cross doc boundaries), then
    scans maximal LCP >= min_len intervals: every pair of distinct docs in
    an interval shares a run of at least the interval's minimum LCP.
    """
    if len(texts) < 2:
        return []
    chunks, owners = [], []
    for d, t in enumerate(texts):
        b = np.frombuffer(t.encode("utf-8", "surrogatepass"), dtype=np.uint8)
        chunks.append(b.astype(np.int64))
        chunks.append(np.array([-(d + 1)], dtype=np.int64))  # unique sentinel
        owners.append(np.full(len(b) + 1, d, dtype=np.int64))
    codes = np.concatenate(chunks)
    owner = np.concatenate(owners)
    sa = build_suffix_array(codes)
    lcp = kasai_lcp(codes, sa)

    best: dict[tuple, int] = {}
    i = 1
    n = len(sa)
    while i < n:
        if lcp[i] >= min_len:
            j = i
            while j < n and lcp[j] >= min_len:
                j += 1
            # suffixes sa[i-1 .. j-1] mutually share >= interval-min prefix
            run = int(lcp[i:j].min())
            docs_in = np.unique(owner[sa[i - 1 : j]])
            if len(docs_in) > 1:
                for x in range(len(docs_in)):
                    for y in range(x + 1, len(docs_in)):
                        ia, ib = doc_ids[docs_in[x]], doc_ids[docs_in[y]]
                        key = (ia, ib) if ia < ib else (ib, ia)
                        if best.get(key, 0) < run:
                            best[key] = run
                # adjacent suffixes with different owners realize the exact
                # pairwise LCS (classic SA property) — tighten those pairs
                for p in range(i, j):
                    da, db = owner[sa[p - 1]], owner[sa[p]]
                    if da != db:
                        ia, ib = doc_ids[da], doc_ids[db]
                        key = (ia, ib) if ia < ib else (ib, ia)
                        if best.get(key, 0) < int(lcp[p]):
                            best[key] = int(lcp[p])
                if len(best) >= MAX_RUN_PAIRS:
                    break
            i = j
        else:
            i += 1
    return [(a, b, r) for (a, b), r in best.items()]


def longest_common_run(s1: str, s2: str) -> int:
    """Exact longest common substring length of two strings (via SA)."""
    pairs = common_run_pairs(["a", "b"], [s1, s2], min_len=1)
    return pairs[0][2] if pairs else 0
