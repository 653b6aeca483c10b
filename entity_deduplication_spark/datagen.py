"""Deterministic synthetic clips table generator (FIXTURES.md F1).

Produces the input_hint table
``(clip_id, bytes, sr_hz, dur_ms, codec, transcript)`` plus a side truth
table ``(clip_id, true_cluster_id)`` with planted duplicate groups:

* exact byte copies,
* gain-scaled (±3 dB) re-encodes,
* noise-perturbed (SNR 35–45 dB) re-encodes,
* transcript near-copies with 1–2 token edits,
* shared ≥20-char substring runs (suffix-array targets).

Everything is seeded (default 42); the same (n_clips, seed) always yields
byte-identical parquet. Mirrors the *shape* of the reference dataset's
cluster-size distribution (~30% of rows in non-singleton groups of 2–8;
reference results/.../performance_metrics.json cluster_size_distribution)
without using any external data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from entity_deduplication_spark.audio.wav import CODEC_F32, CODEC_S16, encode_wav

# fixed 512-word pool (deterministic, no external data)
_WORDS = [f"w{i:03d}" for i in range(480)] + [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "zero", "one", "two", "three", "four", "five",
]
_SR_CHOICES = [8000, 16000, 44100]


def _synth_pcm(rng: np.random.Generator, sr_hz: int, dur_ms: int) -> np.ndarray:
    """Seeded sum of 2-4 sinusoids + low-amplitude noise, float32 [-1,1]."""
    n = int(sr_hz * dur_ms / 1000)
    t = np.arange(n, dtype=np.float64) / sr_hz
    n_sin = int(rng.integers(2, 5))
    sig = np.zeros(n, dtype=np.float64)
    for _ in range(n_sin):
        f = float(rng.uniform(80.0, min(3500.0, sr_hz / 2 - 100)))
        a = float(rng.uniform(0.1, 0.3))
        ph = float(rng.uniform(0, 2 * np.pi))
        sig += a * np.sin(2 * np.pi * f * t + ph)
    sig += rng.normal(0.0, 0.005, n)
    peak = np.max(np.abs(sig)) or 1.0
    return (0.8 * sig / peak).astype(np.float32)


def _transcript(rng: np.random.Generator, n_words: int) -> str:
    idx = rng.integers(0, len(_WORDS), n_words)
    return " ".join(_WORDS[i] for i in idx)


def _edit_tokens(rng: np.random.Generator, text: str, n_edits: int) -> str:
    toks = text.split()
    for _ in range(n_edits):
        pos = int(rng.integers(0, len(toks)))
        toks[pos] = _WORDS[int(rng.integers(0, len(_WORDS)))]
    return " ".join(toks)


def _perturb_noise(rng: np.random.Generator, pcm: np.ndarray, snr_db: float) -> np.ndarray:
    sig_pow = float(np.mean(pcm.astype(np.float64) ** 2)) or 1e-9
    noise_pow = sig_pow / (10 ** (snr_db / 10))
    noise = rng.normal(0.0, np.sqrt(noise_pow), pcm.shape)
    return np.clip(pcm + noise, -1.0, 1.0).astype(np.float32)


def generate_clips(
    n_clips: int,
    seed: int,
    dup_fraction: float = 0.30,
    id_offset: int = 0,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return (clips_df, truth_df).

    clips_df: clip_id, bytes, sr_hz, dur_ms, codec, transcript
    truth_df: clip_id, true_cluster_id (cluster id = first member's clip_id)

    ``id_offset`` shifts the clip_id numbering so independently generated
    chunks can be unioned into one table with globally unique ids. Without
    it every chunk restarts at clip_00000000 — a 16-chunk 800k-clip input
    then carries each id 16x, and every id-equijoin downstream (verify
    payload joins, cluster assignment) expands 16x per side (observed as
    a 48.9M-pair candidate table exploding to 12.5B rows in the 10x run).
    """
    rng = np.random.default_rng(seed)
    rows: list[dict] = []
    truth: list[dict] = []
    i = 0

    def next_id() -> str:
        nonlocal i
        cid = f"clip_{id_offset + i:08d}"
        i += 1
        return cid

    n_dup_rows = int(n_clips * dup_fraction)
    while i < n_dup_rows:
        group_size = int(rng.integers(2, 9))
        group_size = min(group_size, n_dup_rows - i)
        if group_size < 2:
            break
        sr = int(_SR_CHOICES[int(rng.integers(0, 3))])
        dur = int(rng.integers(200, 1500))
        base_pcm = _synth_pcm(rng, sr, dur)
        base_text = _transcript(rng, int(rng.integers(8, 40)))
        codec = CODEC_S16 if rng.random() < 0.9 else CODEC_F32
        cluster = None
        for v in range(group_size):
            cid = next_id()
            if cluster is None:
                cluster = cid
            kind = v % 4
            if kind == 0:  # original / exact copy
                pcm, text = base_pcm, base_text
            elif kind == 1:  # gain-scaled re-encode
                gain = 10 ** (float(rng.uniform(-3, 3)) / 20)
                pcm = np.clip(base_pcm * gain, -1, 1).astype(np.float32)
                text = base_text
            elif kind == 2:  # noise-perturbed re-encode
                pcm = _perturb_noise(rng, base_pcm, float(rng.uniform(35, 45)))
                text = base_text
            else:  # transcript near-copy (1-2 token edits)
                pcm = base_pcm
                text = _edit_tokens(rng, base_text, int(rng.integers(1, 3)))
            rows.append(
                dict(clip_id=cid, bytes=encode_wav(pcm, sr, codec), sr_hz=sr,
                     dur_ms=dur, codec=codec, transcript=text)
            )
            truth.append(dict(clip_id=cid, true_cluster_id=cluster))

    # substring-run pairs: distinct transcripts sharing a >=20-char run
    for _ in range(max(1, n_clips // 50)):
        if i + 2 > n_clips:
            break
        shared = _transcript(rng, 6)  # ~ 6 words >= 20 chars
        sr = int(_SR_CHOICES[int(rng.integers(0, 3))])
        cluster = None
        for _v in range(2):
            cid = next_id()
            if cluster is None:
                cluster = cid
            dur = int(rng.integers(200, 1500))
            pcm = _synth_pcm(rng, sr, dur)
            text = f"{_transcript(rng, int(rng.integers(4, 10)))} {shared} " \
                   f"{_transcript(rng, int(rng.integers(4, 10)))}"
            rows.append(
                dict(clip_id=cid, bytes=encode_wav(pcm, sr, CODEC_S16), sr_hz=sr,
                     dur_ms=dur, codec=CODEC_S16, transcript=text)
            )
            truth.append(dict(clip_id=cid, true_cluster_id=cluster))

    while i < n_clips:  # singletons
        cid = next_id()
        sr = int(_SR_CHOICES[int(rng.integers(0, 3))])
        dur = int(rng.integers(200, 1500))
        pcm = _synth_pcm(rng, sr, dur)
        text = _transcript(rng, int(rng.integers(3, 40)))
        rows.append(
            dict(clip_id=cid, bytes=encode_wav(pcm, sr, CODEC_S16), sr_hz=sr,
                 dur_ms=dur, codec=CODEC_S16, transcript=text)
        )
        truth.append(dict(clip_id=cid, true_cluster_id=cid))

    clips = pd.DataFrame(rows)
    clips["dur_ms"] = clips["dur_ms"].astype("int32")
    clips["sr_hz"] = clips["sr_hz"].astype("int32")
    return clips, pd.DataFrame(truth)


# A row group is Spark's parquet parallelism quantum: a byte-range split
# only yields the row groups whose midpoint falls inside it, so groups much
# larger than the scan's split size leave most splits EMPTY. The former
# 2048-row groups (~75 MB of audio) put an 8000-clip file into 4 groups
# while the scan planned 32 ~9 MB splits — the signature UDF stage ran as
# 4 working tasks + 28 empty ones (measured: stage wall 9-12 s vs ~55
# CPU-s spread over 4 tasks). 64 rows ~ 2.4 MB keeps groups well under
# any realistic split size so row balance tracks byte balance at every
# scale (125 groups at 8k clips; still only ~8 B/row of footer overhead).
CLIPS_ROW_GROUP_SIZE = 64

# cached generated inputs live next to the package, in <repo>/.data
DATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".data"
)


def ensure_clips_parquet(
    n_clips: int, seed: int = 42, data_dir: str = DATA_DIR
) -> tuple[str, str]:
    """Materialize (and cache) the deterministic clips + truth parquet.

    A cached clips file with any row group larger than
    ``CLIPS_ROW_GROUP_SIZE`` is regenerated (layout-only change; the rows
    are deterministic from (n_clips, seed) either way). Each file is
    written to ``<path>.tmp`` and renamed into place, so an interrupted
    write never leaves a truncated file under the cached name.
    """
    os.makedirs(data_dir, exist_ok=True)
    clips_path = os.path.join(data_dir, f"clips_n{n_clips}_s{seed}.parquet")
    truth_path = os.path.join(data_dir, f"clips_truth_n{n_clips}_s{seed}.parquet")
    stale = False
    if os.path.exists(clips_path):
        try:
            import pyarrow.parquet as pq

            meta = pq.ParquetFile(clips_path).metadata
            biggest = max(
                (meta.row_group(i).num_rows for i in range(meta.num_row_groups)),
                default=0,
            )
            stale = biggest > CLIPS_ROW_GROUP_SIZE
        except Exception:
            stale = True
    if stale or not (os.path.exists(clips_path) and os.path.exists(truth_path)):
        clips, truth = generate_clips(n_clips, seed=seed)
        for df, path, group_rows in (
            (clips, clips_path, CLIPS_ROW_GROUP_SIZE),
            (truth, truth_path, 65536),
        ):
            df.to_parquet(path + ".tmp", index=False, row_group_size=group_rows)
            os.replace(path + ".tmp", path)
    return clips_path, truth_path
