"""Vectorized audio decode + feature-shingle kernels (Arrow pandas_udf).

bytes (WAV container) -> float32 PCM -> framed acoustic features ->
quantized symbols -> hashed k-shingles. One Arrow batch at a time; the
per-clip work is numpy (rfft, reduceat) — no row-at-a-time Python UDFs.

These are the audio analogues of the reference's normalize_* preprocessing
(preprocessing.py:150-199): deterministic derived columns that downstream
blocking keys are built from.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from entity_deduplication_spark.audio.wav import decode_wav

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


@F.pandas_udf(T.ArrayType(T.FloatType()))
def decode_pcm_udf(raw: pd.Series) -> pd.Series:
    """WAV bytes -> float32 PCM array (the per-row fidelity surface)."""
    return raw.map(lambda b: decode_wav(b)[0] if b is not None else None)


def _frame_features(
    pcm: np.ndarray, sr: int, frame_ms: int, hop_ms: int
) -> np.ndarray:
    """Per-frame feature matrix: [log-energy, zcr, 4 spectral band ratios]."""
    flen = max(int(sr * frame_ms / 1000), 2)
    hop = max(int(sr * hop_ms / 1000), 1)
    if len(pcm) < flen:
        pcm = np.pad(pcm, (0, flen - len(pcm)))
    n_frames = 1 + (len(pcm) - flen) // hop
    idx = np.arange(flen)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = pcm[idx]  # n_frames × flen
    energy = np.log10(np.mean(frames**2, axis=1) + 1e-10)
    zcr = np.mean(np.abs(np.diff(np.signbit(frames), axis=1)), axis=1)
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    nb = spec.shape[1]
    bands = np.stack(
        [spec[:, i * nb // 4 : (i + 1) * nb // 4].sum(axis=1) for i in range(4)],
        axis=1,
    )
    bands = bands / (bands.sum(axis=1, keepdims=True) + 1e-10)
    return np.column_stack([energy, zcr, bands])


def _batch_frame_features(
    pcms: list[np.ndarray],
    srs: list[int],
    frame_ms: int,
    hop_ms: int,
) -> list[np.ndarray]:
    """``_frame_features`` for a whole batch with ONE rfft per frame-length
    group (clips share flen when they share a sample rate): per-clip work
    is just a strided-view frame copy; the FFT, energy, zcr, and band
    reductions run over the concatenated frame matrix. Row-for-row
    bit-identical to the per-clip kernel (each frame row sees the same
    float ops regardless of which matrix it sits in)."""
    n = len(pcms)
    out: list[np.ndarray | None] = [None] * n
    groups: dict[tuple[int, int], list[int]] = {}
    for i, sr in enumerate(srs):
        flen = max(int(sr * frame_ms / 1000), 2)
        hop = max(int(sr * hop_ms / 1000), 1)
        groups.setdefault((flen, hop), []).append(i)
    # bounded sub-batches: a whole Arrow batch's frames in one matrix
    # would be GBs (the rfft's complex128 output is 8x the float32
    # input) and even a few thousand frames per matrix turns the stage
    # memory-bound (measured: budget 4096 is 5x slower than 256 — the
    # per-clip matrices were L2-resident). 256 frames (~2 clips) keeps
    # every intermediate cache-sized while halving the per-call numpy
    # overhead vs one call per clip.
    frame_budget = 256
    for (flen, hop), idxs in groups.items():
        sub: list[int] = []
        sub_frames = 0

        def _flush(sub_idxs: list[int]) -> None:
            blocks = []
            counts = np.empty(len(sub_idxs), dtype=np.int64)
            for j, i in enumerate(sub_idxs):
                pcm = pcms[i]
                if len(pcm) < flen:
                    pcm = np.pad(pcm, (0, flen - len(pcm)))
                n_frames = 1 + (len(pcm) - flen) // hop
                v = np.lib.stride_tricks.sliding_window_view(pcm, flen)[::hop]
                blocks.append(v[:n_frames])
                counts[j] = n_frames
            frames = np.vstack(blocks)  # sub_frames x flen
            energy = np.log10(np.mean(frames**2, axis=1) + 1e-10)
            zcr = np.mean(np.abs(np.diff(np.signbit(frames), axis=1)), axis=1)
            spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
            nb = spec.shape[1]
            bands = np.stack(
                [
                    spec[:, b * nb // 4 : (b + 1) * nb // 4].sum(axis=1)
                    for b in range(4)
                ],
                axis=1,
            )
            bands = bands / (bands.sum(axis=1, keepdims=True) + 1e-10)
            feats = np.column_stack([energy, zcr, bands])
            ofs = np.concatenate(([0], np.cumsum(counts)))
            for j, i in enumerate(sub_idxs):
                out[i] = feats[ofs[j] : ofs[j + 1]]

        for i in idxs:
            nf = 1 + (max(len(pcms[i]), flen) - flen) // hop
            if sub and sub_frames + nf > frame_budget:
                _flush(sub)
                sub, sub_frames = [], 0
            sub.append(i)
            sub_frames += nf
        if sub:
            _flush(sub)
    return out  # type: ignore[return-value]


def _quantize(feats: np.ndarray, levels: int) -> np.ndarray:
    """Quantize features to symbols, gain-invariantly.

    Energy is z-normalized per clip (kills ±3 dB re-encode gain); other
    features are scale-free already. Each frame's symbol packs all
    quantized features into one int64.
    """
    f = feats.copy()
    mu, sd = f[:, 0].mean(), f[:, 0].std() + 1e-9
    f[:, 0] = (f[:, 0] - mu) / sd / 4 + 0.5  # ~[0,1]
    f[:, 1] = f[:, 1] * 2  # zcr in [0,~0.5] -> [0,1]
    q = np.clip((f * levels).astype(np.int64), 0, levels - 1)
    sym = np.zeros(len(q), dtype=np.int64)
    for j in range(q.shape[1]):
        sym = sym * levels + q[:, j]
    return sym


def _shingle_hash(sym: np.ndarray, k: int) -> np.ndarray:
    """Hashed k-shingles of a symbol sequence (vectorized FNV-1a-style)."""
    if len(sym) < k:
        sym = np.pad(sym, (0, k - len(sym)), constant_values=-1)
    n = len(sym) - k + 1
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    s = sym.astype(np.uint64)
    for j in range(k):
        h = (h ^ s[j : j + n]) * _FNV_PRIME
    return np.unique(h.astype(np.int64))


def _batch_shingles(
    raw: pd.Series, frame_ms: int, hop_ms: int, k: int, levels: int
) -> list[np.ndarray]:
    """bytes batch -> per-clip int64 shingle arrays, with the frame/FFT
    stage batched across the whole Arrow batch.

    A NULL blob and one ``decode_wav`` rejects (empty, truncated, no
    fmt/data chunk, unsupported format) both give an empty array: no
    audio evidence, rather than a failed task that aborts the run."""
    live_idx, pcms, srs = [], [], []
    for i, blob in enumerate(raw):
        if blob is None:
            continue
        try:
            pcm, sr = decode_wav(blob)
        except (ValueError, struct.error):
            continue
        live_idx.append(i)
        pcms.append(pcm)
        srs.append(sr)
    empty = np.empty(0, dtype=np.int64)
    out: list[np.ndarray] = [empty] * len(raw)
    if live_idx:
        feats = _batch_frame_features(pcms, srs, frame_ms, hop_ms)
        for i, f in zip(live_idx, feats):
            out[i] = _shingle_hash(_quantize(f, levels), k)
    return out


def audio_signature_udf(
    frame_ms: int,
    hop_ms: int,
    k: int,
    levels: int,
    minhash_k: int,
    minhash_seed: int,
):
    """Fused kernel: bytes -> struct(audio_shingles, audio_minhash).

    Decode + frame features + quantize + shingle + MinHash in one Arrow
    round trip, so raw ``bytes`` and the shingle arrays cross the
    JVM<->Python boundary exactly once."""
    from entity_deduplication_spark.functions.hashing import (
        _hash_params,
        _minhash_batch,
    )

    a, b = _hash_params(minhash_k, minhash_seed)

    @F.pandas_udf("audio_shingles array<bigint>, audio_minhash array<bigint>")
    def _audio_sig(raw: pd.Series) -> pd.DataFrame:
        # shingles stay numpy int64 arrays end-to-end: _minhash_batch
        # takes the zero-copy uint64-view path and Arrow serializes
        # ndarray list-columns directly (the former per-row tolist() +
        # asarray round trip was ~30% of this kernel's CPU)
        shingles = _batch_shingles(raw, frame_ms, hop_ms, k, levels)
        ser = pd.Series(shingles)
        return pd.DataFrame(
            {"audio_shingles": ser, "audio_minhash": _minhash_batch(ser, a, b)}
        )

    return _audio_sig
