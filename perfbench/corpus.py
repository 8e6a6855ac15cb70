"""Seeded benchmark inputs: image+caption corpora and their truth tables.

A corpus is made by ``dedup_spark.fixtures.images.generate_corpus`` and
cached, keyed by (profile, rows, seed, copies), as two parquet
directories:

  images/  the engine's input table
  truth/   (image_id, cluster_id), the generator's ground truth

Generation is split into slices of ``SLICE_ROWS`` rows, made in parallel
child processes with one derived seed per slice, so a fresh seed costs
seconds rather than a minute. Ids carry the slice number, so they stay
unique; duplicates lie within a slice. Nothing here is timed.

Run as a script, this module writes the slices named on its command
line: ``corpus.py <profile> <seed> <out_dir> <rows>:<slice> ...``.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from dataclasses import dataclass
from pathlib import Path

import pandas as pd

SLICE_ROWS = 1000
FLOOD_PREFIX = "flood/"
# corpora kept in the cache; older ones are deleted before a new one is made
CACHE_KEEP = 6


@dataclass(frozen=True)
class Corpus:
    images: str
    truth: str
    rows: int
    copies: int = 0
    flood_seed_id: str | None = None


def _write_slice(profile: str, seed: int, out: Path, rows: int, idx: int) -> None:
    from dedup_spark.fixtures.images import generate_corpus

    c = generate_corpus(
        rows, dup_ratio=0.3, near_dup_ratio=0.1, profile=profile,
        seed=seed * 1000 + idx,
    )
    prefix = f"s{idx:03d}/"
    images = c.images.assign(image_id=prefix + c.images["image_id"])
    truth = pd.DataFrame({
        "image_id": prefix + c.truth["image_id"],
        "cluster_id": prefix + c.truth["cluster_id"],
    })
    # row groups of ~500 rows keep several scan tasks per slice file
    images.to_parquet(out / "images" / f"{idx:03d}.parquet", row_group_size=500, index=False)
    truth.to_parquet(out / "truth" / f"{idx:03d}.parquet", index=False)


def _generate(profile: str, rows: int, seed: int, out: Path, workers: int) -> None:
    slices = [f"{min(SLICE_ROWS, rows - lo)}:{lo // SLICE_ROWS}" for lo in range(0, rows, SLICE_ROWS)]
    procs = [
        subprocess.Popen([sys.executable, __file__, profile, str(seed), str(out), *slices[i::workers]])
        for i in range(min(workers, len(slices)))
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"corpus slice generation failed: exit codes {codes}")


def _flood(base: Corpus, out: Path, copies: int) -> str:
    """Link the base corpus's files and add ``copies`` replicas of one of its
    rows under fresh ids. The row has no duplicate of its own, so the
    flood cluster is exactly the copies plus that row. It is the row of
    median payload size among those, lowest id first, so the flood's
    volume does not swing with the seed: payloads range from 0.2 to
    110 KB. Returns that row's id."""
    for part in ("images", "truth"):
        for f in Path(getattr(base, part)).iterdir():
            os.link(f, out / part / f.name)
    truth = pd.read_parquet(base.truth)
    sizes = truth.groupby("cluster_id")["image_id"].transform("size")
    images = pd.read_parquet(base.images)
    single = images[images["image_id"].isin(truth.loc[sizes == 1, "image_id"])]
    single = single.assign(_len=single["bytes"].map(len)).sort_values(["_len", "image_id"])
    row = single.iloc[[len(single) // 2]].drop(columns="_len")
    seed_id = row["image_id"].iloc[0]
    flood = row.loc[row.index.repeat(copies)].reset_index(drop=True)
    flood["image_id"] = [f"{FLOOD_PREFIX}{i:06d}" for i in range(copies)]
    flood.to_parquet(out / "images" / "flood.parquet", row_group_size=500, index=False)
    pd.DataFrame({"image_id": flood["image_id"], "cluster_id": seed_id}).to_parquet(
        out / "truth" / "flood.parquet", index=False
    )
    return seed_id


def _evict(cache: Path) -> None:
    """Delete all but the CACHE_KEEP most recently made corpora, so a
    long series of seeds does not fill the disk."""
    if not cache.is_dir():
        return
    made = sorted(cache.iterdir(), key=lambda d: d.stat().st_mtime, reverse=True)
    for d in made[CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def corpus(
    cache: Path, profile: str, rows: int, seed: int, copies: int = 0,
    workers: int = 1,
) -> Corpus:
    """Return the cached corpus for the key, generating it if missing.

    A flooded corpus is the unflooded one of the same (profile, rows,
    seed) plus the flood rows."""
    out = cache / f"{profile}_n{rows}_s{seed}_c{copies}"
    seed_file = out / "flood_seed_id"
    if not (out / "truth").is_dir():
        _evict(cache)
        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "images").mkdir(parents=True)
        (tmp / "truth").mkdir()
        if copies:
            base = corpus(cache, profile, rows, seed, 0, workers)
            (tmp / seed_file.name).write_text(_flood(base, tmp, copies))
        else:
            _generate(profile, rows, seed, tmp, workers)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return Corpus(
        images=str(out / "images"),
        truth=str(out / "truth"),
        rows=rows + copies,
        copies=copies,
        flood_seed_id=seed_file.read_text() if seed_file.exists() else None,
    )


if __name__ == "__main__":
    profile_arg, seed_arg, out_arg, *slice_args = sys.argv[1:]
    for spec in slice_args:
        n, idx = (int(x) for x in spec.split(":"))
        _write_slice(profile_arg, int(seed_arg), Path(out_arg), n, idx)
