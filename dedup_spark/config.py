"""Engine configuration: the values callers set per call.

Only thresholds and sizes that shipped callers actually vary live here
(the job, the driver queries and the parity tests). Values that are
pinned for every caller are module constants next to the algorithm
that reads them, so each still has one source of truth:

  MinHash shingle size / bands / rows / seed   operators.minhash
  exact-tier prefix-hash window                operators.exact
  connected-components iteration cap           operators.components
  ANN hyperplane seed                          operators.embeddings

The scan filters of the reference's CLI (size band, include/exclude
globs; reference src/main.rs:15-70) are applied once, by
``sources.filters.apply_scan_filters``, before the pipeline runs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- near-dup tier: MinHash over caption shingles [EXT] ------------
    jaccard_threshold: float = 0.7

    # --- near-dup tier: SimHash over phash neighborhoods [EXT] ---------
    hamming_radius: int = 3     # phash pairs within this radius are candidates

    # --- embeddings ANN [EXT] -------------------------------------------
    ann_hyperplanes: int = 16   # random-hyperplane LSH signature bits
    ann_tables: int = 4         # independent LSH tables (multi-probe recall)
    cosine_threshold: float = 0.9

    # --- checkpoint / lineage (north rule) ------------------------------
    checkpoint_dir: str | None = None


DEFAULT_CONFIG = DedupConfig()
