"""SimHash / Hamming-radius candidate generation over phash. [EXT]

Generalizes the reference's prefix-hash stage (src/hasher.rs:18-27) to a
locality-sensitive variant: two images whose 64-bit perceptual hashes
differ in <= `hamming_radius` bits are near-duplicate candidates.

The candidate trick is the standard public pigeonhole banding: split the
64-bit key into (radius + 1) disjoint bit-bands; any pair within Hamming
distance `radius` agrees EXACTLY on at least one band. So:

  explode each phash to (band_idx, band_bits) keys  — narrow, built-in
  self-join on the band key                          — sparse equi-join
  verify with bit_count(phash1 XOR phash2) <= radius — built-in, codegen

Everything is JVM-side built-in expressions (shiftright / bitwise AND /
bit_count) — zero Python in this operator.

For text SimHash (no phash column), `simhash_text_udf` builds the
64-bit signature from token hashes with numpy sign-accumulation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from dedup_spark.operators.minhash import hash_tokens_np


def _band_exprs(col: str, radius: int, bits: int = 64) -> list:
    """Split a `bits`-wide integer column into radius+1 contiguous bands.

    Bands are (band_idx, band_value) pairs; widths differ by at most one
    bit. Uses shiftrightunsigned + mask so sign bits don't leak across.
    """
    n_bands = radius + 1
    widths = [bits // n_bands + (1 if i < bits % n_bands else 0) for i in range(n_bands)]
    exprs, offset = [], 0
    for i, wdt in enumerate(widths):
        mask = (1 << wdt) - 1
        exprs.append(
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftrightunsigned(F.col(col), offset)
                .bitwiseAND(F.lit(mask).cast("long"))
                .alias("band_bits"),
            )
        )
        offset += wdt
    return exprs


def hamming_candidates(
    df: DataFrame,
    id_col: str = "image_id",
    hash_col: str = "phash",
    cfg: DedupConfig = DEFAULT_CONFIG,
    max_band_bucket: int = 256,
) -> DataFrame:
    """Candidate pairs (id1, id2) with guaranteed recall for pairs within
    cfg.hamming_radius. Same oversized-bucket star guard as MinHash LSH
    (see minhash.py) for flood keys."""
    from dedup_spark.operators.banding import star_guarded_pairs

    bands = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(hash_col).alias("_h"),
            F.explode(F.array(*_band_exprs(hash_col, cfg.hamming_radius))).alias("b"),
        )
        .select("_id", "_h", "b.band_idx", "b.band_bits")
    )
    return star_guarded_pairs(
        bands, ["band_idx", "band_bits"], max_band_bucket, carry_cols=["_h"]
    )


def hamming_verify(pairs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """Confirm candidates: popcount(h1 XOR h2) <= radius. Built-in
    bit_count → whole-stage codegen; this is the analog of the
    reference's full-hash confirmation (src/hasher.rs:30-47)."""
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2")))
        )
        .filter(F.col("hamming") <= cfg.hamming_radius)
        .select("id1", "id2", "hamming")
    )


def phash_near_duplicates(
    df: DataFrame,
    id_col: str = "image_id",
    hash_col: str = "phash",
    cfg: DedupConfig = DEFAULT_CONFIG,
    max_band_bucket: int = 256,
) -> DataFrame:
    """Full SimHash tier: band candidates → Hamming-verified pairs.

    Pair-set exactness vs flood safety is a real trade: below the
    guard, the output is EXACTLY the Hamming self-join (pigeonhole
    recall + bit_count verify); a band bucket above ``max_band_bucket``
    switches to O(n) star edges, which preserves cluster-level recall
    through connected components but is a strict subset of the pair
    set. Callers that assert pair-set equality (the driver oracle)
    pass a larger guard; the pipeline default keeps flood safety."""
    return hamming_verify(
        hamming_candidates(df, id_col, hash_col, cfg, max_band_bucket), cfg
    )


def simhash_text_udf(n_bits: int = 64):
    """pandas UDF: text → 64-bit SimHash over token FNV hashes.

    Batch-vectorized like minhash_signature_udf: all docs' tokens are
    factorized across the batch and FNV-hashed in one vectorized pass
    (hash_tokens_np — tokenize is the only remaining per-doc Python),
    the (total_tokens, 64) ±1 bit matrix is built once, and per-doc bit
    scores come from one np.add.reduceat segment reduction — no
    per-document Python loop in the accumulation.
    """

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        shifts = np.arange(n_bits, dtype=np.uint64)
        weights = np.uint64(1) << shifts
        tok_lists: list[list[str]] = []
        offsets, n_toks = [0], []
        nulls: list[bool] = []
        total = 0
        for t in texts:
            if t is None:
                nulls.append(True)
                offsets.append(total)
                n_toks.append(0)
                continue
            nulls.append(False)
            toks = t.lower().split()
            if toks:
                tok_lists.append(toks)
            total += len(toks)
            offsets.append(total)
            n_toks.append(len(toks))
        n_docs = len(nulls)
        sigs = np.zeros(n_docs, dtype=np.uint64)
        if total:
            all_toks = np.concatenate(
                [np.asarray(tl, dtype=object) for tl in tok_lists]
            )
            codes, uniques = pd.factorize(all_toks)
            concat = hash_tokens_np(list(uniques))[codes]
            # bit matrix via unpackbits on the little-endian byte view —
            # one C pass, no 8-byte-per-bit shift intermediate; bit j of
            # the hash lands in column j exactly like (h >> j) & 1
            bits = np.unpackbits(
                concat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )  # (total_tokens, 64) uint8
            starts = np.array(offsets[:-1], dtype=np.int64)
            nt = np.array(n_toks, dtype=np.int64)
            nonempty = nt > 0
            # reduceat needs strictly in-range starts; empty segments are
            # excluded and stay all-zero (score<=0 → sig 0, as before).
            # dtype=int32: uint8 inputs can't overflow it, and the int64
            # accumulator path in numpy is ~16x slower here.
            ones = np.add.reduceat(bits, starts[nonempty], axis=0, dtype=np.int32)
            score = 2 * ones - nt[nonempty, None]  # ±1 accumulation
            sigs[nonempty] = ((score > 0).astype(np.uint64) * weights).sum(axis=1)
        out = sigs.view(np.int64)
        return pd.Series(
            [None if nulls[i] else int(out[i]) for i in range(n_docs)],
            dtype="Int64",
        )

    return _simhash
