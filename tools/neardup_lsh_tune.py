#!/usr/bin/env python3
"""Offline (numpy) tuner for the neardup_embedding_cosine LSH blocking.

The blocked operator must reproduce the EXACT brute-force pair set
(cosine >= threshold after 4-dp rounding) — the DuckDB oracle is brute
force — so any banding config change has to be validated for recall 1.0
on the actual deterministic corpora before it ships. This script:

1. loads embeddings for each SF, applies the same augmentation as
   `_augmented_embeddings` (even coords x1.03, odd x0.97);
2. computes the exact qualifying pair set with blocked matmul;
3. for candidate (planes_per_band, bands) configs, simulates the
   sign-pattern banding over the shipped seeded hyperplanes and reports:
     - recall (must be 1.0 — every exact pair collides in >= 1 band),
     - candidate pair volume (sum over buckets of C(sz,2) per band),
     - the minimum |normalized projection| over all (vector, plane)
       pairs (sign-flip safety margin vs Catalyst's ordered-fold dots).

Usage: python tools/neardup_lsh_tune.py [sf ...]
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

# the SHIPPED constants and hyperplanes — imported, not re-declared, so a
# changed seed or threshold cannot silently make this tool validate a
# different blocking than the one in production (this file is the
# recall-1.0 evidence gate for banding changes)
from __spark_entry__ import NEARDUP_ID_OFFSET  # noqa: E402
from entity_extractor_by_pointer_spark.operators.dedup import NEARDUP_COS_THRESHOLD as THRESHOLD  # noqa: E402
from entity_extractor_by_pointer_spark.operators.similarity import lsh_planes  # noqa: E402


def load_augmented(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """Numpy mirror of ``__spark_entry__._augmented_embeddings`` — keep the
    x1.03/x0.97 alternating perturbation in sync with that function."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    emb = np.stack(t.column("embedding").to_pylist()).astype(np.float64)
    pert = emb.copy()
    pert[:, 0::2] *= 1.03
    pert[:, 1::2] *= 0.97
    all_ids = np.concatenate([ids, ids + NEARDUP_ID_OFFSET])
    all_emb = np.concatenate([emb, pert])
    return all_ids, all_emb


def exact_pairs(ids: np.ndarray, emb: np.ndarray, thr: float = THRESHOLD) -> set[tuple[int, int]]:
    """All (id_a < id_b) with round(cosine, 4) >= thr (HALF_UP rounding)."""
    n = len(ids)
    norms = np.linalg.norm(emb, axis=1)
    unit = emb / norms[:, None]
    out: set[tuple[int, int]] = set()
    blk = 4096
    # qualifying boundary: round(c,4) >= 0.95  <=>  c >= 0.94995
    cut = thr - 0.5e-4 - 1e-9
    for i0 in range(0, n, blk):
        a = unit[i0 : i0 + blk]
        sims = a @ unit.T  # (blk, n)
        ii, jj = np.nonzero(sims >= cut)
        for i, j in zip(ii, jj):
            gi, gj = i0 + i, j
            if gi < gj:
                c = float(sims[i, j])
                # mirror Spark round HALF_UP at 4dp
                if np.floor(c * 10000 + 0.5) / 10000 >= thr:
                    out.add((int(ids[gi]), int(ids[gj])))
    return out


def simulate(
    ids: np.ndarray,
    emb: np.ndarray,
    pairs: set[tuple[int, int]],
    planes_per_band: int,
    bands: int,
) -> dict:
    planes = lsh_planes(planes_per_band * bands)
    proj = emb @ planes.T  # (n, planes_per_band * bands)
    norms = np.linalg.norm(emb, axis=1)
    min_margin = float(np.abs(proj / norms[:, None]).min())
    signs = proj > 0
    n = len(ids)
    idx_of = {int(v): i for i, v in enumerate(ids)}
    covered = np.zeros(len(pairs), dtype=bool)
    plist = list(pairs)
    pa = np.array([idx_of[a] for a, _ in plist])
    pb = np.array([idx_of[b] for _, b in plist])
    n_cand = 0
    max_bucket = 0
    for b in range(bands):
        s = signs[:, b * planes_per_band : (b + 1) * planes_per_band]
        bucket = (s * (1 << np.arange(planes_per_band))).sum(axis=1)
        _, counts = np.unique(bucket, return_counts=True)
        n_cand += int((counts * (counts - 1) // 2).sum())
        max_bucket = max(max_bucket, int(counts.max()))
        covered |= bucket[pa] == bucket[pb]
    return {
        "planes_per_band": planes_per_band,
        "bands": bands,
        "n_vectors": n,
        "n_exact_pairs": len(pairs),
        "missed": int((~covered).sum()),
        "candidates": n_cand,
        "max_bucket": max_bucket,
        "min_abs_norm_proj": min_margin,
    }


def main() -> None:
    sfs = sys.argv[1:] or ["0.001", "0.01", "0.1", "1.0"]
    configs = [(6, 4), (10, 6), (12, 8), (14, 8), (12, 10), (14, 10), (16, 10)]
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        ids, emb = load_augmented(sf_dir)
        pairs = exact_pairs(ids, emb)
        print(f"== sf{sf}: n={len(ids)} exact_pairs={len(pairs)}")
        for ppb, b in configs:
            r = simulate(ids, emb, pairs, ppb, b)
            print(
                f"  r={ppb:2d} b={b:2d}: missed={r['missed']} cand={r['candidates']:>12,} "
                f"max_bucket={r['max_bucket']:>6} min|proj|={r['min_abs_norm_proj']:.2e}"
            )


if __name__ == "__main__":
    main()
