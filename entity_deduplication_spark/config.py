"""Engine configuration.

Mirrors the reference's knobs (match_threshold / block_size_limit;
reference run.py:82-90, deterministic_feature.py:72-107) recast for the
MinHash/SimHash/suffix-array pipeline. Only the values some caller sets
are fields; every other setting is a ``ClassVar`` constant, read as
``cfg.<name>`` like a field but not accepted by the constructor. All
hashes are seeded constants — the engine is fully deterministic (the
reference's score noise at deterministic_feature.py:1416-1420 is
deliberately dropped).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar


@dataclass(frozen=True)
class DedupConfig:
    # --- transcript shingling ---
    shingle_k: ClassVar[int] = 3  # words per shingle

    # --- MinHash / LSH ---
    minhash_k: ClassVar[int] = 128  # signature length
    lsh_bands: ClassVar[int] = 16   # b
    lsh_rows: ClassVar[int] = 8     # r ; b*r == minhash_k; S-curve thr ~ (1/b)^(1/r)
    minhash_seed: ClassVar[int] = 42

    # --- SimHash ---
    simhash_hamming_max: ClassVar[int] = 3  # near-dup Hamming radius
    # Hamming blocking splits the signature into n_blocks contiguous
    # blocks and bands on every (n_blocks - hamming_max)-subset of them
    # (guaranteed complete for the radius — Manku et al., WWW'07). The
    # block count trades band rows for key entropy: keys are
    # (n_blocks-radius)·(64/n_blocks) bits wide, so 6 blocks at radius 3
    # give C(6,3)=20 bands of ~32-bit keys (collision pair mass n²/2³²),
    # where the minimal 4 blocks give 4 bands of 16-bit keys whose
    # random collisions made candidate volume grow ∝ n²/2¹⁶ (measured
    # 12.6× pair mass on 4× clips at 800k).
    simhash_n_blocks: ClassVar[int] = 6

    # --- audio features ---
    frame_ms: ClassVar[int] = 25
    hop_ms: ClassVar[int] = 10
    audio_shingle_k: ClassVar[int] = 4  # frames per audio shingle
    audio_quant_levels: ClassVar[int] = 8
    # degenerate-signature guard: stationary audio collapses to a handful
    # of distinct shingles, making unrelated clips Jaccard-1.0; the
    # signature stage empties a set below this size, so it carries no
    # audio evidence (analogue of the reference's len>=8 phone /
    # multi-word name guards, P9/B2/B6)
    min_audio_shingles: ClassVar[int] = 4

    # --- suffix-array substring stage ---
    min_run_chars: int = 20       # exact-run length for a candidate
    winnow_window: ClassVar[int] = 8  # winnowing window for fingerprint blocking

    # --- verification (reference match_threshold 0.75, run.py:85) ---
    jaccard_threshold: float = 0.8
    audio_jaccard_threshold: ClassVar[float] = 0.6
    match_threshold: float = 0.75

    # --- skew / blocking limits (reference block_size_limit 1000, run.py:40-41) ---
    block_size_limit: int = 1000  # rows per (possibly salted) block key
    # band buckets larger than this fall back to O(n) CHAIN candidates
    # (consecutive by id) instead of all C(n, 2) pairs: a band key shared
    # by many clips is usually stopword-like evidence, and a band key
    # with CONSTANT probability mass (a common audio/text pattern) has
    # bucket size ∝ corpus size, so full enumeration grows its pair mass
    # QUADRATICALLY — a low cap moves the chain crossover early and
    # bounds the intermediate-regime candidate volume (measured:
    # cap 1000 + truncate spilled >50 GB of verify shuffle at 300k
    # clips). Unlike round 4's outright skip, chains cannot LOSE a real
    # duplicate group > cap (re-encodes of one clip with empty
    # transcripts share every band key and have no exact key — skipping
    # orphaned them; chain pairs verify true and connected components
    # recovers the group transitively). The reference drops oversized
    # blocks outright (deterministic_feature.py:852-918) — chains
    # strictly dominate that at the same cost bound. Recall tests hold
    # at 0.99+ and the flood test pins exact group recovery.
    band_bucket_cap: int = 64
    # substring-fingerprint document-frequency cap: a winnowed
    # fingerprint shared by more than this many clips is a stopword-like
    # common phrase, not duplicate evidence — its bucket is SKIPPED
    # (standard winnowing/MOSS practice of ignoring high-df fingerprints).
    # Without it the fingerprint family's pair mass grew n^1.5 (4.96M →
    # 39.3M on 4× clips): popular vocab runs collide across unrelated
    # clips with bucket size ∝ corpus size. Skipping (not chaining) is
    # safe for recall: true near-dup transcripts also share RARE
    # fingerprints, planted substring-run pairs have df≈2 runs, and
    # duplicate FLOODS (identical clips > cap) are still recovered by the
    # minhash families' chain policy, which fires on the same rows.
    fp_df_cap: ClassVar[int] = 16


assert DedupConfig.lsh_bands * DedupConfig.lsh_rows == DedupConfig.minhash_k
