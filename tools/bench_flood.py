#!/usr/bin/env python
"""Duplicate-flood stress study at bench scale (VERDICT r4 item 7).

The flood gate in the driver contract (flood_cc_clusters) proves the
star guard at fixture scale (200 copies / 400 rows). This study drives
a 10,000-copy flood — one image+caption row replicated 10k times under
fresh ids — through the FUSED production pipeline (exact + caption
MinHash-LSH + phash Hamming + CC + canonical) at the 960k-row bench
corpus with DEFAULT guards, and records:

  * wall / cpu of the flooded run vs the unflooded baseline (the flood
    must cost O(copies), not O(copies^2) — a quadratic blowup at 10k
    copies would be ~100x the 200-copy gate and unmissable),
  * star-guard audit per LSH tier: how many band buckets collapsed to
    stars and how many quadratic pair-edges that avoided,
  * flood-cluster recall: all 10,001 flood members in ONE cluster,
  * non-flood isolation: no non-flood id joins the flood cluster, and
    the non-flood cluster assignment is IDENTICAL to the baseline
    run's (the flood cannot perturb anyone else's cluster).

Usage: python tools/bench_flood.py [--rows 960000] [--copies 10000]
Writes BENCH/flood_sf1.json and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CACHE = "/tmp/dedup_spark_bench"


def build_flood(spark, rows: int, copies: int) -> tuple[str, str]:
    """Return (base_path, flooded_path); flooded = base + `copies`
    replicas of the lexicographically-first row under flood/ ids."""
    from pyspark.sql import functions as F

    from bench import image_corpus_path

    base = image_corpus_path(spark, rows)
    out = os.path.join(CACHE, f"flood_n{rows}_c{copies}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        df = spark.read.parquet(base)
        seed_row = df.orderBy("image_id").limit(1)
        flood = (
            spark.range(copies)
            .crossJoin(F.broadcast(seed_row))
            .withColumn(
                "image_id",
                F.format_string("flood/%06d", F.col("id")),
            )
            .drop("id")
        )
        n_parts = max(32, df.rdd.getNumPartitions())
        df.unionByName(flood).repartition(n_parts).write.mode(
            "overwrite"
        ).parquet(out + ".tmp")
        os.rename(out + ".tmp", out)
    return base, out


def star_guard_audit(spark, path: str) -> dict:
    """Recompute each LSH tier's band-bucket stats on the corpus and
    report what the star guard drops: buckets over the tier's default
    cap, and the quadratic pair count avoided (C(n,2) emitted pairs
    become n-1 star edges)."""
    from pyspark.sql import functions as F

    from dedup_spark.config import DEFAULT_CONFIG as cfg
    from dedup_spark.operators.minhash import minhash_signature_udf
    from dedup_spark.operators.simhash import _band_exprs

    df = spark.read.parquet(path)
    out = {}
    sig = minhash_signature_udf()
    caption_banded = (
        df.select(sig(F.col("caption")).alias("_bands"))
        .filter(F.col("_bands").isNotNull())
        .select(F.posexplode("_bands").alias("band_idx", "band_hash"))
    )
    phash_banded = df.select(
        F.explode(
            F.array(*_band_exprs("phash", cfg.hamming_radius))
        ).alias("b")
    ).select("b.band_idx", "b.band_bits")
    for tier, banded, cols, cap in (
        ("caption_lsh", caption_banded, ["band_idx", "band_hash"], 64),
        ("phash_hamming", phash_banded, ["band_idx", "band_bits"], 256),
    ):
        stats = (
            banded.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > cap)
            .agg(
                F.count(F.lit(1)).alias("buckets_collapsed"),
                F.sum(
                    F.col("n") * (F.col("n") - 1) / 2 - (F.col("n") - 1)
                ).alias("pair_edges_avoided"),
                F.max("n").alias("largest_bucket"),
            )
            .collect()[0]
        )
        out[tier] = {
            "default_cap": cap,
            "buckets_collapsed": int(stats["buckets_collapsed"] or 0),
            "pair_edges_avoided": int(stats["pair_edges_avoided"] or 0),
            "largest_bucket": int(stats["largest_bucket"] or 0),
        }
    return out


def timed_assignment(spark, path: str, out_path: str) -> dict:
    from bench import _proc_cpu_seconds
    from dedup_spark.pipeline import dedup_pipeline

    df = spark.read.parquet(path)
    c0, t0 = _proc_cpu_seconds(), time.time()
    dedup_pipeline(df).write.mode("overwrite").parquet(out_path)
    return {
        "wall_sec": round(time.time() - t0, 2),
        "cpu_sec": round(_proc_cpu_seconds() - c0, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=960_000)
    ap.add_argument("--copies", type=int, default=10_000)
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH", "flood_sf1.json",
        ),
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dedup_spark.session import get_spark

    spark = get_spark("flood_study", cores=32)
    base, flooded = build_flood(spark, args.rows, args.copies)

    base_asg_path = os.path.join(CACHE, "flood_asg_base")
    flood_asg_path = os.path.join(CACHE, "flood_asg_flooded")
    base_run = timed_assignment(spark, base, base_asg_path)
    flood_run = timed_assignment(spark, flooded, flood_asg_path)

    asg = spark.read.parquet(flood_asg_path)
    flood_rows = asg.filter(F.col("image_id").startswith("flood/"))
    flood_clusters = [
        r["cluster_id"]
        for r in flood_rows.select("cluster_id").distinct().collect()
    ]
    recall_one_cluster = len(flood_clusters) == 1
    cluster_members = (
        asg.filter(F.col("cluster_id").isin(flood_clusters)).count()
        if flood_clusters
        else 0
    )
    # non-flood isolation: the seed row (and its pre-existing dup
    # group) legitimately joins the flood cluster; count how many
    # non-flood ids did
    nonflood_in_cluster = (
        asg.filter(F.col("cluster_id").isin(flood_clusters))
        .filter(~F.col("image_id").startswith("flood/"))
        .count()
        if flood_clusters
        else 0
    )
    # baseline-vs-flooded assignment equality for everyone OUTSIDE the
    # flood cluster: cluster ids are min-member ids, so unaffected
    # clusters must be byte-identical between runs. The seed row's own
    # pre-existing dup group legitimately changes (its cluster absorbs
    # the flood and is re-rooted at the flood min id) — exclude exactly
    # the flood cluster's non-flood members, compare everyone else.
    base_asg = spark.read.parquet(base_asg_path)
    flooded_nonflood = asg.filter(
        ~F.col("image_id").startswith("flood/")
    ).select("image_id", "cluster_id")
    affected_ids = flooded_nonflood.filter(
        F.col("cluster_id").isin(flood_clusters)
    ).select("image_id")
    changed = (
        base_asg.join(affected_ids, on="image_id", how="left_anti")
        .select("image_id", "cluster_id")
        .exceptAll(flooded_nonflood)
        .count()
    )

    audit = star_guard_audit(spark, flooded)

    result = {
        "metric": "flood_stress",
        "rows": args.rows,
        "copies": args.copies,
        "baseline": base_run,
        "flooded": flood_run,
        "flood_overhead_wall": round(
            flood_run["wall_sec"] / base_run["wall_sec"], 3
        ),
        "flood_overhead_cpu": round(
            flood_run["cpu_sec"] / base_run["cpu_sec"], 3
        ),
        "star_guard": audit,
        "flood_cluster": {
            "one_cluster": recall_one_cluster,
            "members": cluster_members,
            "expected_min_members": args.copies + 1,
            "nonflood_members": nonflood_in_cluster,
        },
        "nonflood_assignments_changed": changed,
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
