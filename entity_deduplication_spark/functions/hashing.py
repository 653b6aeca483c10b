"""Arrow-vectorized MinHash / SimHash signature kernels.

The reference has no sketching at all — its "signatures" are exact string
keys (deterministic_feature.py:341-433); MinHash/SimHash generalize its
token/trigram blocking (B8/B9 in SURVEY.md) to web scale. Kernels are
``pandas_udf`` over Arrow record batches: the whole batch is one numpy
matrix op (``np.minimum.reduceat`` over the concatenated shingle stream),
zero per-row Python in the inner loop.

All hash parameters derive from a fixed seed (DedupConfig.minhash_seed) —
fully deterministic across runs/partitions/cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Mersenne prime 2^61-1 used in the final reduction. NOTE: np.multiply on
# uint64 wraps a*x mod 2^64 BEFORE the shift-add Mersenne reduction, so the
# kernel computes reduce_p(wrap_64(a*x) + b) — a deterministic, well-mixed
# hash family, but NOT the textbook universal family ((a*x+b) mod p): the
# min-wise independence guarantee is heuristic, not provable. Empirically
# (tests/test_hashing.py) Jaccard estimation error matches the 1/sqrt(k)
# expectation; exact mod-p would need 32-bit limb splitting at ~2x the cost.
_MERSENNE = np.uint64((1 << 61) - 1)


def _hash_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, (1 << 61) - 1, size=k, dtype=np.uint64)
    b = rng.integers(0, (1 << 61) - 1, size=k, dtype=np.uint64)
    return a, b


# persistent scratch buffers, reused across Arrow batches: this host (and
# many container hosts) services *fresh* large mmap'd allocations at tens
# of MB/s (THP/page-fault stalls) while recycled buffers run at memory
# speed — the naive `a[:,None]*flat[None,:]` chain was 100x slower than
# the same arithmetic into preallocated out= buffers.
_CHUNK = 1 << 14  # shingles per chunk; buffers are k x _CHUNK uint64
_SCRATCH: dict = {}


def _scratch(k: int, width: int) -> tuple[np.ndarray, np.ndarray]:
    buf = _SCRATCH.get(k)
    if buf is None or buf[0].shape[1] < width:
        buf = (
            np.empty((k, max(width, _CHUNK)), dtype=np.uint64),
            np.empty((k, max(width, _CHUNK)), dtype=np.uint64),
        )
        _SCRATCH[k] = buf
    return buf


def _minhash_batch(shingle_lists: pd.Series, a: np.ndarray, b: np.ndarray) -> pd.Series:
    """MinHash a batch of shingle arrays, chunked over preallocated
    buffers: reduce_{2^61-1}(wrap_64(a*x) + b) built fully in-place (see
    _MERSENNE note), then ``np.minimum.reduceat`` segment-mins — no per-row
    python, no fresh large allocations."""
    k = len(a)
    # zero-copy fast path: int64 ndarrays (Arrow columns, upstream
    # kernels) reinterpret as uint64 views; only plain lists pay a
    # conversion (the per-row asarray-from-list was ~90% of this
    # function's time before the callers switched to arrays)
    arrs = [
        s.view(np.uint64)
        if isinstance(s, np.ndarray) and s.dtype == np.int64
        else (
            s
            if isinstance(s, np.ndarray) and s.dtype == np.uint64
            else np.asarray(s, dtype=np.uint64)
        )
        for s in shingle_lists
    ]
    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
    n = len(arrs)
    out = np.full((n, k), -1, dtype=np.int64)
    a_col, b_col = a[:, None], b[:, None]
    i = 0
    while i < n:
        if lens[i] == 0:
            i += 1
            continue
        j, tot = i, 0
        while j < n and (j == i or (tot + lens[j] <= _CHUNK and lens[j] > 0)):
            tot += lens[j]
            j += 1
        flat = arrs[i] if j == i + 1 else np.concatenate(arrs[i:j])
        hm_full, tmp_full = _scratch(k, tot)
        hm, tmp = hm_full[:, :tot], tmp_full[:, :tot]
        np.multiply(a_col, flat[None, :], out=hm)
        np.add(hm, b_col, out=hm)
        np.right_shift(hm, np.uint64(61), out=tmp)
        np.bitwise_and(hm, _MERSENNE, out=hm)
        np.add(hm, tmp, out=hm)
        # conditional final reduction: hm ∈ [0, M+7); hm-M wraps for hm<M
        # to a value > hm, so minimum(hm, hm-M) == hm mod M
        np.subtract(hm, _MERSENNE, out=tmp)
        np.minimum(hm, tmp, out=hm)
        offsets = np.concatenate(([0], np.cumsum(lens[i:j])[:-1]))
        out[i:j] = np.minimum.reduceat(hm, offsets, axis=1).T.astype(np.int64)
        i = j
    return pd.Series(list(out))


def minhash_udf(k: int, seed: int) -> Column:
    """Factory: pandas_udf array<bigint> shingles -> array<bigint> signature."""
    a, b = _hash_params(k, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _minhash(shingles: pd.Series) -> pd.Series:
        return _minhash_batch(shingles, a, b)

    return _minhash


_SIM_SCRATCH: list = []


def _simhash_batch(shingle_lists: pd.Series) -> pd.Series:
    """64-bit SimHash of each shingle array (bit-majority of member
    hashes), chunked over a persistent ±1-bit scratch buffer."""
    arrs = [np.asarray(s, dtype=np.uint64) for s in shingle_lists]
    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
    n = len(arrs)
    out = np.zeros(n, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    weights = (np.uint64(1) << shifts)
    if not _SIM_SCRATCH:
        _SIM_SCRATCH.append(np.empty((_CHUNK, 64), dtype=np.uint64))
    i = 0
    while i < n:
        if lens[i] == 0:
            i += 1
            continue
        j, tot = i, 0
        while j < n and (j == i or (tot + lens[j] <= _CHUNK and lens[j] > 0)):
            tot += lens[j]
            j += 1
        flat = arrs[i] if j == i + 1 else np.concatenate(arrs[i:j])
        if _SIM_SCRATCH[0].shape[0] < tot:
            _SIM_SCRATCH[0] = np.empty((tot, 64), dtype=np.uint64)
        bits = _SIM_SCRATCH[0][:tot]
        np.right_shift(flat[:, None], shifts[None, :], out=bits)
        np.bitwise_and(bits, np.uint64(1), out=bits)
        offsets = np.concatenate(([0], np.cumsum(lens[i:j])[:-1]))
        ones = np.add.reduceat(bits, offsets, axis=0)  # rows x 64, small
        # majority vote per bit: set iff ones > half the row's shingles
        sig_bits = (2 * ones > lens[i:j, None].astype(np.uint64)).astype(np.uint64)
        out[i:j] = (sig_bits * weights[None, :]).sum(axis=1, dtype=np.uint64).astype(
            np.int64
        )
        i = j
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def simhash_udf(shingles: pd.Series) -> pd.Series:
    return _simhash_batch(shingles)


def text_signature_udf(k: int, seed: int):
    """Fused kernel: shingles -> struct(minhash array<bigint>, simhash
    bigint). One Arrow round trip instead of two — shingle arrays are the
    widest column in the signature stage, so serializing them to Python
    once matters."""
    a, b = _hash_params(k, seed)

    @F.pandas_udf("minhash array<bigint>, simhash bigint")
    def _sig(shingles: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "minhash": _minhash_batch(shingles, a, b),
                "simhash": _simhash_batch(shingles),
            }
        )

    return _sig


def band_keys(minhash_col: Column, bands: int, rows: int) -> Column:
    """Slice a MinHash signature into b bands of r rows; hash each band.

    Returns array<bigint> of length b — pure Catalyst (``slice`` +
    ``xxhash64(concat_ws)``), feeding ``posexplode`` in the blocking stage.
    This is the LSH generalization of the reference's block-key dicts
    (deterministic_feature.py:341-349).
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(minhash_col, i * rows + 1, rows),
                    lambda v: v.cast("string"),
                ),
            ),
            i,  # band index mixed in so identical row-slices in different bands differ
        ),
    )


def simhash_hamming_blocks(n_blocks: int, radius: int):
    """Block layout + key subsets for guaranteed Hamming-radius blocking.

    Returns ``(widths, offsets, combos)``: the 64-bit signature is split into
    ``n_blocks`` contiguous blocks (widths as even as possible) and
    ``combos`` enumerates every ``(n_blocks - radius)``-subset of block
    indices. Shared helper so Spark-side banding and pure-Python test
    oracles agree on the exact layout.
    """
    if not 0 < radius < n_blocks:
        raise ValueError(f"need 0 < radius < n_blocks, got {radius}, {n_blocks}")
    from itertools import combinations

    widths = [
        64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)
    ]
    offsets, off = [], 0
    for w in widths:
        offsets.append(off)
        off += w
    combos = list(combinations(range(n_blocks), n_blocks - radius))
    return widths, offsets, combos


def simhash_hamming_band_structs(
    simhash_col: Column, n_blocks: int, radius: int
) -> list[Column]:
    """Guaranteed-complete Hamming-LSH band keys (block combinations).

    Split the 64-bit signature into ``n_blocks`` contiguous blocks
    and emit one band per ``(n_blocks - radius)``-subset of blocks, keyed
    by the concatenation of those blocks' bits. Two signatures within
    Hamming distance ``radius`` differ in at most ``radius`` blocks, so
    at least ``n_blocks - radius`` blocks are clean and some emitted
    subset consists entirely of clean blocks — they MUST share that band
    key (pigeonhole; the multi-table scheme of Manku/Jain/Das Sarma,
    "Detecting near-duplicates for web crawling", WWW'07 — public
    knowledge). This replaces rotated-prefix banding, which (a) only
    catches the radius with high probability, and (b) has a tiny
    2^prefix_bits keyspace whose random collisions give bucket size
    ∝ corpus size and candidate-pair mass ∝ n² / 2^prefix_bits —
    measured 12.6× pair-mass growth on 4× clips at 800k. Block-subset
    keys are (n_blocks-radius)·(64/n_blocks) ≈ 32 bits wide at the
    default (6,3), pushing random-collision mass to n²/2³² — negligible
    into the billions of rows, at the cost of C(n_blocks, radius) bands
    per row instead of radius+1.

    Returns a list of ``struct(band_idx, band_key)`` columns, one per
    subset, for the caller to ``explode(array(...))``.
    """
    widths, offsets, combos = simhash_hamming_blocks(n_blocks, radius)

    def block(i: int) -> Column:
        # contiguous bit-slice i, right-aligned; mask width < 63 so the
        # (1 << w) - 1 literal never overflows the signed long
        return F.shiftrightunsigned(simhash_col, offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    structs = []
    for band_idx, combo in enumerate(combos):
        key = block(combo[0])
        for i in combo[1:]:
            key = F.shiftleft(key, widths[i]).bitwiseOR(block(i))
        structs.append(
            F.struct(
                F.lit(band_idx).alias("band_idx"), key.alias("band_key")
            )
        )
    return structs
