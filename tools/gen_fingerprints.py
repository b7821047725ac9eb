"""Synthesize a 10M-FINGERPRINT corpus for the fifth-decade MIH
geometry measurement (SCALING.md geometry contract): past ~10M
assets/modality the pair miners grow the sub-bit count ``s`` above the
s=4 floor, a path documented since round 10 but never executed —
payloads are deliberately skipped (``media_phash`` is measured linear
through four decades; the claim under test is the PAIR STAGE).

Two tables, written to ``out_dir`` (default .scale/mih10m, gitignored):

- ``media_fp.parquet`` (doc_id, media_type, phash): the exact input
  contract of ``multimodal.media_near_dup``. One modality ("image/bmp")
  so the asset count per modality is the headline 10M.
- ``simhash_agg.parquet`` (doc_id, __n, w0..w15): the SWAR vertical-
  popcount frame the text adapter ``dedup._swar_lanes`` decodes into
  ``dedup.mih_pairs`` lanes — planted with
  ``__n = 1`` via the inverse of the ``_swar_bits_sql`` position math
  (bit j -> packed word q = (60 if j<32 else 28) - 4*((j%32)//4) +
  (j%32)%4, lane q%16, shift 16*(q//16)), so the majority decode
  reproduces EXACTLY the planted 64-bit signatures (the same
  construction tests/test_round12... uses at unit scale).

Pair structure mirrors the measured decades instead of a pathological
all-random corpus: ``dup_frac`` of the fingerprints are near-duplicate
VARIANTS of a base fingerprint at Hamming 1..7 (uniform radius, random
bit positions — so top-band and low-band discovery paths both fire);
the rest are uniform random 64-bit values (expected random-collision
pairs at h<=7: ~2k at 10M rows — negligible next to the ~200k planted).

Deterministic (seeded NumPy PCG64); ~300 MB parquet per table at 10M.

Usage: python tools/gen_fingerprints.py [n_rows] [out_dir] [dup_frac]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def gen_signatures(n: int, dup_frac: float, seed: int) -> np.ndarray:
    """n uint64 fingerprints: (1-dup_frac) uniform random + dup_frac
    near-dup variants (hamming 1..7) of randomly chosen base rows."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_dup = int(n * dup_frac)
    base = rng.integers(0, 1 << 64, size=n - n_dup, dtype=np.uint64)
    src = rng.integers(0, n - n_dup, size=n_dup)
    radius = rng.integers(1, 8, size=n_dup)  # hamming 1..7
    variants = base[src].copy()
    # flip `radius[i]` distinct random bit positions per variant row —
    # vectorized over the max radius with a validity mask; sampling bit
    # positions independently may repeat (a repeat un-flips), so the
    # realized hamming is <= radius, still within the mined range
    for r in range(7):
        live = radius > r
        bits = rng.integers(0, 64, size=n_dup).astype(np.uint64)
        variants[live] ^= np.uint64(1) << bits[live]
    out = np.concatenate([base, variants])
    rng.shuffle(out)
    return out


def swar_lanes(sigs: np.ndarray) -> list[np.ndarray]:
    """Inverse of dedup._swar_bits_sql at __n = 1: pack each signature's
    bits into the 16 lane words the SWAR aggregate would have produced
    for a single-shingle document."""
    lanes = [np.zeros(len(sigs), dtype=np.uint64) for _ in range(16)]
    for j in range(64):
        jj = j % 32
        q = (60 if j < 32 else 28) - 4 * (jj // 4) + jj % 4
        bit = (sigs >> np.uint64(j)) & np.uint64(1)
        lanes[q % 16] |= bit << np.uint64(16 * (q // 16))
    return lanes


def gen_signatures128(
    n: int, dup_frac: float, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """n 128-bit fingerprints as (lo, hi) uint64 halves — the round-14
    extension for the simhash128 family's decade measurements: same
    planted structure as the 64-bit corpus (dup_frac near-dup variants
    at Hamming 1..7, radius spent across the FULL 128 bits so every
    band of the 4×32 geometry sees distance-0 and distance-1 pairs),
    rest uniform random. Expected random collisions at h≤7 over 128
    bits: ~n²/2 · C(128,≤7)/2^128 ≈ 0 at any corpus this tool writes —
    the planted pairs are the whole signal."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_dup = int(n * dup_frac)
    lo = rng.integers(0, 1 << 64, size=n - n_dup, dtype=np.uint64)
    hi = rng.integers(0, 1 << 64, size=n - n_dup, dtype=np.uint64)
    src = rng.integers(0, n - n_dup, size=n_dup)
    radius = rng.integers(1, 8, size=n_dup)
    vlo, vhi = lo[src].copy(), hi[src].copy()
    for r in range(7):
        live = radius > r
        bits = rng.integers(0, 128, size=n_dup)
        blo = (bits < 64) & live
        bhi = (bits >= 64) & live
        vlo[blo] ^= np.uint64(1) << bits[blo].astype(np.uint64)
        vhi[bhi] ^= np.uint64(1) << (bits[bhi] - 64).astype(np.uint64)
    lo_all = np.concatenate([lo, vlo])
    hi_all = np.concatenate([hi, vhi])
    perm = rng.permutation(n)
    return lo_all[perm], hi_all[perm]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    out = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scale/mih10m"
    dup_frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.02
    bits = int(sys.argv[4]) if len(sys.argv) > 4 else 64
    os.makedirs(out, exist_ok=True)

    if bits == 128:
        lo, hi = gen_signatures128(n, dup_frac, seed=42)
        cols: dict = {
            "doc_id": np.arange(n, dtype=np.int64),
            "__n": np.ones(n, dtype=np.int64),
        }
        # bits 0-63 -> w lanes, bits 64-127 -> x lanes: the inverse of
        # _swar_bits_sql's j >= 64 -> x-prefix rule with identical
        # in-lane position math per 64-bit half
        for k, lane in enumerate(swar_lanes(lo)):
            cols[f"w{k}"] = lane.view(np.int64)
        for k, lane in enumerate(swar_lanes(hi)):
            cols[f"x{k}"] = lane.view(np.int64)
        pq.write_table(pa.table(cols), f"{out}/simhash128_agg.parquet")
        print(f"wrote {n} 128-bit fingerprints (dup_frac={dup_frac}) to {out}")
        return

    sigs = gen_signatures(n, dup_frac, seed=42)
    doc_id = np.arange(n, dtype=np.int64)

    pq.write_table(
        pa.table(
            {
                "doc_id": doc_id,
                "media_type": pa.DictionaryArray.from_arrays(
                    pa.array(np.zeros(n, dtype=np.int32)),
                    pa.array(["image/bmp"]),
                ),
                "phash": sigs.view(np.int64),
            }
        ),
        f"{out}/media_fp.parquet",
    )

    cols: dict = {"doc_id": doc_id, "__n": np.ones(n, dtype=np.int64)}
    for k, lane in enumerate(swar_lanes(sigs)):
        cols[f"w{k}"] = lane.view(np.int64)
    pq.write_table(pa.table(cols), f"{out}/simhash_agg.parquet")
    print(f"wrote {n} fingerprints (dup_frac={dup_frac}) to {out}")


if __name__ == "__main__":
    main()
