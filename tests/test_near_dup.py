"""Near-duplicate tier tests: MinHash/LSH recall (the north-rule
>=0.99 metric), SimHash Hamming guarantees, shingle containment,
substring scan. Signature config pinned in operators/minhash.py
(SHINGLE_K=3, 16 bands x 4 rows) — recall is only meaningful at a fixed
config."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from dedup_spark.fixtures.images import IMAGES_SCHEMA, generate_corpus, to_spark
from dedup_spark.operators.components import clusters_from_pairs
from dedup_spark.operators.exact import exact_duplicate_clusters
from dedup_spark.operators.minhash import band_candidates, minhash_near_duplicates
from dedup_spark.operators.simhash import (
    hamming_candidates,
    phash_near_duplicates,
)
from dedup_spark.operators.suffix import (
    containment_pairs,
    exact_jaccard_pairs,
    char_substring_pairs,
)


def _caption_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "caption"])
    )


def test_minhash_finds_near_identical_captions(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    # end-token substitution changes only 1 of 13 trigrams -> j = 12/14
    variant = base.replace("today", "tonight")
    other = "completely different text about spark shuffles and parquet scans here now"
    df = _caption_df(
        spark, [("a", base), ("b", variant), ("c", other), ("d", base)]
    )
    pairs = {
        (r["id1"], r["id2"])
        for r in minhash_near_duplicates(df, "image_id", "caption").collect()
    }
    assert ("a", "b") in pairs  # near-dup caught
    assert ("a", "d") in pairs  # exact caption is jaccard 1.0
    assert not any("c" in p for p in pairs)  # unrelated never pairs


def test_minhash_lsh_recall_on_generated_corpus(spark):
    """North-rule metric: dup-pair recall >= 0.99 against ground-truth
    cluster pairs, at the pinned shingle/band/row config. Exact tier +
    caption-LSH tier + connected components, vs generator truth."""
    corpus = generate_corpus(600, dup_ratio=0.25, near_dup_ratio=0.15, seed=7)
    imgs, truth = to_spark(spark, corpus)

    exact = exact_duplicate_clusters(imgs)
    near_txt = minhash_near_duplicates(imgs, "image_id", "caption")
    near_img = phash_near_duplicates(imgs)
    edges = (
        exact.select(F.col("image_id").alias("id1"), F.col("cluster_id").alias("id2"))
        .unionByName(near_txt.select("id1", "id2"))
        .unionByName(near_img.select("id1", "id2"))
    )
    assigned = clusters_from_pairs(edges, all_ids=imgs, id_col="image_id")

    ours = {
        r["image_id"]: r["cluster_id"] for r in assigned.collect()
    }
    true_pairs = corpus.true_pairs()
    assert true_pairs, "generator produced no duplicate pairs"
    found = sum(1 for a, b in true_pairs if ours[a] == ours[b])
    recall = found / len(true_pairs)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99 ({found}/{len(true_pairs)})"


def test_lsh_band_bucket_star_guard(spark):
    """A flood of identical captions must produce O(n) star edges, not
    O(n^2) pairs, and CC must still recover the full cluster."""
    n = 40
    rows = [(f"x{i:03d}", "same caption for every single row here") for i in range(n)]
    df = _caption_df(spark, rows)
    pairs = band_candidates(df, "image_id", "caption", max_band_bucket=8)
    n_pairs = pairs.count()
    assert n_pairs < n * (n - 1) / 2  # star guard kicked in
    cc = clusters_from_pairs(pairs, all_ids=df, id_col="image_id")
    assert cc.select("cluster_id").distinct().count() == 1


def test_band_signature_udf_evaluated_once(spark, monkeypatch):
    """The banded frame must sign each row once. Generate's inferred
    isnotnull/size filter must not get a second copy of the signature
    UDF pushed below it (two ArrowEvalPython nodes = every row signed
    twice)."""
    from dedup_spark.operators import banding

    seen = []
    real = banding.star_guarded_pairs

    def capture(banded, *args, **kwargs):
        seen.append(banded)
        return real(banded, *args, **kwargs)

    monkeypatch.setattr(banding, "star_guarded_pairs", capture)
    df = _caption_df(
        spark,
        [("a", "one two three four five six"), ("b", "one two three four five six")],
    )
    assert band_candidates(df, "image_id", "caption").count() == 1
    (banded,) = seen
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_hamming_radius_guarantee(spark):
    """Pigeonhole banding: every pair within radius MUST be found;
    pairs beyond radius MUST be rejected by the verify stage."""
    base = 0x0123456789ABCDEF
    rows = [
        ("d0", base),
        ("d1", base ^ 0b1),                      # distance 1
        ("d3", base ^ 0b10101),                  # distance 3
        ("d4", base ^ 0b1111),                   # distance 4 > radius 3
        ("far", base ^ ((1 << 40) - 1)),         # distance 40
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]))
    got = {
        (r["id1"], r["id2"]): r["hamming"]
        for r in phash_near_duplicates(df).collect()
    }
    assert got[("d0", "d1")] == 1
    assert got[("d0", "d3")] == 3
    assert got[("d1", "d3")] == 2  # 0b1 ^ 0b10101 = 0b10100
    assert ("d0", "d4") not in got  # distance 4 > radius: verified out
    assert not any("far" in k for k in got)


def test_containment_catches_what_jaccard_misses(spark):
    long = " ".join(f"tok{i}" for i in range(60))
    short = " ".join(f"tok{i}" for i in range(20, 28))  # contained run
    df = _caption_df(spark, [("long", long), ("short", short)])
    j = exact_jaccard_pairs(df, "image_id", "caption", threshold=0.7, min_tokens=3)
    assert j.count() == 0  # jaccard ~ 6/58 — invisible to the jaccard tier
    c = containment_pairs(df, "image_id", "caption", threshold=0.99)
    rows = c.collect()
    assert len(rows) == 1 and rows[0]["containment"] == 1.0


def test_hamming_star_guard_carries_hashes(spark):
    """Flood bucket in the Hamming tier: star edges only (O(n)), and
    the carried hash columns must survive so the bit_count verify still
    confirms every star edge (hamming 0 for identical phashes)."""
    n = 30
    rows = [(f"d{i:02d}", 0b1010101) for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]))
    got = phash_near_duplicates(
        df, cfg=DedupConfig(hamming_radius=3)
    )  # default guard huge → all pairs
    from dedup_spark.operators.simhash import hamming_candidates, hamming_verify

    starred = hamming_verify(hamming_candidates(df, max_band_bucket=8))
    rows_out = starred.collect()
    assert 0 < len(rows_out) < n * (n - 1) / 2  # star, not quadratic
    assert all(r["hamming"] == 0 for r in rows_out)
    assert got.count() == n * (n - 1) / 2  # un-guarded tier finds all


def test_posting_cap_drops_flood_shingles_loudly(spark, caplog):
    import logging

    rows = [(f"d{i}", "common words here exactly now") for i in range(6)]
    df = _caption_df(spark, rows)
    with caplog.at_level(logging.WARNING, logger="dedup_spark.operators.suffix"):
        capped = exact_jaccard_pairs(
            df, "image_id", "caption", threshold=0.9, max_posting=3
        )
        assert capped.count() == 0  # every shared shingle is a flood → dropped
    assert any("dropped" in r.message for r in caplog.records)
    uncapped = exact_jaccard_pairs(
        df, "image_id", "caption", threshold=0.9, max_posting=None
    )
    assert uncapped.count() == 15  # all C(6,2) identical-text pairs


def test_char_substring_global_recall(spark):
    # containment must be found regardless of partition placement —
    # the min-gram anchor join is global by construction
    df = _caption_df(
        spark,
        [
            ("a", "needle in the middle"),
            ("b", "xx needle in the middle yy plus more"),
            ("c", "unrelated words entirely"),
        ],
    ).repartition(8)  # scatter the rows
    got = {
        (r["id1"], r["id2"])
        for r in char_substring_pairs(df, "image_id", "caption", k=8).collect()
    }
    assert got == {("a", "b")}


def test_char_substring_equal_texts_once(spark):
    df = _caption_df(
        spark,
        [("x", "identical caption text here"), ("y", "identical caption text here")],
    )
    got = {
        (r["id1"], r["id2"])
        for r in char_substring_pairs(df, "image_id", "caption", k=8).collect()
    }
    assert got == {("x", "y")}  # tie rule: one row, id1 < id2


def test_char_substring_min_length_contract(spark):
    # contained docs shorter than k bytes are out of contract (and the
    # container side still indexes fine)
    df = _caption_df(spark, [("s", "tiny"), ("l", "tiny plus much longer text")])
    got = char_substring_pairs(df, "image_id", "caption", k=8).collect()
    assert got == []
    got2 = {
        (r["id1"], r["id2"])
        for r in char_substring_pairs(df, "image_id", "caption", k=4).collect()
    }
    assert got2 == {("s", "l")}


def test_char_substring_winnowed_recall_and_contract(spark):
    """winnow_w > 1: postings shrink but recall holds for contained
    docs >= k + w - 1 bytes; shorter contained docs are explicitly out
    of contract (the oracle's strlen bound moves with the window)."""
    long_needle = "the quick brown fox jumps over it"  # 33 >= 8+4-1=11
    short_needle = "abcdefghij"  # 10 bytes < 11: out of contract at w=4
    df = _caption_df(
        spark,
        [
            ("a", long_needle),
            ("b", f"prefix {long_needle} suffix padding words"),
            ("s", short_needle),
            ("t", f"xx {short_needle} yy and much more text here"),
            ("c", "unrelated words entirely different"),
        ],
    ).repartition(8)
    got = {
        (r["id1"], r["id2"])
        for r in char_substring_pairs(
            df, "image_id", "caption", k=8, winnow_w=4
        ).collect()
    }
    assert ("a", "b") in got  # in-contract containment found
    assert ("s", "t") not in got  # below k+w-1: out of contract
    # unwinnowed (w=1) still finds the short one — the contract is the
    # only thing the window changes
    got1 = {
        (r["id1"], r["id2"])
        for r in char_substring_pairs(
            df, "image_id", "caption", k=8, winnow_w=1
        ).collect()
    }
    assert {("a", "b"), ("s", "t")} <= got1


def test_char_gram_min_udf_equals_array_head(spark):
    """char_gram_min_udf (the cheap doc-fingerprint path) must be
    bit-identical to element 1 of the sorted distinct gram array, and
    to element 1 of the WINNOWED array (winnowing always keeps the
    global min)."""
    from dedup_spark.operators.suffix import (
        char_gram_hashes_udf,
        char_gram_min_udf,
        char_gram_winnowed_udf,
    )

    df = _caption_df(
        spark,
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "short"),
            ("c", None),
            ("d", "another document with enough bytes to gram"),
        ],
    )
    k = 8
    out = df.select(
        "image_id",
        char_gram_min_udf(k)(F.col("caption")).alias("mn"),
        F.element_at(char_gram_hashes_udf(k)(F.col("caption")), 1).alias("h1"),
        F.element_at(
            char_gram_winnowed_udf(k, 4)(F.col("caption")), 1
        ).alias("w1"),
    ).collect()
    for r in out:
        assert r["mn"] == r["h1"] == r["w1"], r


def test_transitive_chain_across_tiers(spark):
    """FIXTURES.md transitive_chain: A≈B (captions), B≈C (captions),
    A!≈C directly — connected components must still cluster A,B,C."""
    # 22 tokens -> 20 trigrams; one interior substitution changes 3
    # trigrams: j(adjacent) = 17/23 ≈ 0.74 >= 0.7, two substitutions
    # (a vs c) change 6: j(a,c) = 14/26 ≈ 0.54 < 0.7
    base = [f"w{i}" for i in range(22)]
    a = " ".join(base)
    tb = list(base); tb[5] = "zz"
    b = " ".join(tb)
    tc = list(tb); tc[15] = "yy"
    c = " ".join(tc)
    df = _caption_df(spark, [("a", a), ("b", b), ("c", c)])
    pairs = minhash_near_duplicates(df, "image_id", "caption")
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert ("a", "c") not in got  # below threshold directly
    assert {("a", "b"), ("b", "c")} <= got
    cc = clusters_from_pairs(pairs.select("id1", "id2"), all_ids=df, id_col="image_id")
    assert {r["cluster_id"] for r in cc.collect()} == {"a"}


def test_jaccard_threshold_boundary(spark):
    """Verify stage filters strictly below threshold."""
    # 12 tokens -> 10 trigrams; change last 2 tokens -> 8 shared of 12
    a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"
    b = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 zz yy"
    df = _caption_df(spark, [("a", a), ("b", b)])
    # jaccard = 8/12 = 0.667 < 0.7 -> excluded
    cfg = DEFAULT_CONFIG
    out = minhash_near_duplicates(df, "image_id", "caption", cfg)
    assert out.count() == 0
    loose = DedupConfig(jaccard_threshold=0.6)
    out2 = minhash_near_duplicates(df, "image_id", "caption", loose)
    rows = out2.collect()
    assert len(rows) == 1
    assert abs(rows[0]["jaccard"] - 8 / 12) < 1e-9


def test_quality_dedup_keep_selects_best_not_shortest(spark):
    """quality_dedup_keep: exactly one keeper per cluster, and it is
    the max-quality member (min doc_id on ties) — NOT the shortest-id
    canonical. Run on the sf0.001 corpus through the driver query."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as entrymod

    out = entrymod.queries()["quality_dedup_keep"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == len(out)
    multi = [v for v in by_cluster.values() if len(v) > 1]
    assert multi, "corpus must contain at least one non-trivial cluster"
    for members in by_cluster.values():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1
        best = min(members, key=lambda r: (-r["quality"], r["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]
