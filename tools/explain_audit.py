"""Physical-plan audit: capture .explain('formatted') for the key
operators and grep for the properties that matter at 100 TB —
PushedFilters reaching the scan, pruned ReadSchema, broadcast joins on
key sets, WholeStageCodegen spans, no payload column in exchanges.

Writes PLANS.md. Run after any operator change:
    python tools/explain_audit.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from dedup_spark.session import get_spark


def plan_of(df) -> str:
    """Formatted plan + simple plan (the `*(n)` codegen markers only
    appear in simple mode while AQE is still un-finalized)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain()
    return buf.getvalue()


CHECKS = {
    "scan_pruned_to_metadata": lambda p: "bytes" not in _read_schema(p),
    "has_pushed_filters": lambda p: "PushedFilters: [" in p and "PushedFilters: []" not in p,
    "broadcast_join": lambda p: "BroadcastHashJoin" in p or "BroadcastExchange" in p,
    "wholestage_codegen": lambda p: "WholeStageCodegen" in p or "*(" in p,
    "no_payload_in_exchange": lambda p: not _payload_in_exchange(p),
    # distributed python stages (Arrow-vectorized), not driver collects
    "map_in_pandas": lambda p: "MapInPandas" in p,
    "grouped_pandas": lambda p: "FlatMapGroupsInPandas" in p,
    # the ANN axis-plane signature must be pure built-in expressions
    "no_python_udf": lambda p: "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
    # scalar pandas_udf stages must be Arrow-batched, never
    # row-at-a-time pickled python
    "arrow_vectorized": lambda p: "ArrowEvalPython" in p
    and "BatchEvalPython" not in p,
    # each Python UDF runs in one ArrowEvalPython node: the optimizer
    # can copy a deterministic UDF into an inferred filter (e.g. the
    # isnotnull/size filter under a posexplode), evaluating it twice
    "python_udf_once": lambda p: not _udf_in_two_nodes(p),
    # bucketed-state join: exactly one Exchange (the micro-batch side);
    # the unbounded state side scans its buckets shuffle-free. Count
    # numbered nodes of the FORMATTED plan only (plan_of appends the
    # simple plan too, which would double-count).
    "single_exchange": lambda p: len(
        re.findall(r"^\(\d+\) Exchange", p, re.M)
    ) == 1,
    "bucketed_scan": lambda p: "Bucketed: true" in p,
    # distinct-count tiers must use two combinable aggregations, never
    # a countDistinct Expand (which multiplies shuffle rows by the
    # number of distinct-agg columns)
    "no_expand": lambda p: not re.search(r"^\(\d+\) Expand", p, re.M),
    # rank-filtered windows must run as WindowGroupLimit (per-partition
    # partial top-k BEFORE the shuffle), not a full per-partition sort
    "window_group_limit": lambda p: "WindowGroupLimit" in p,
    # top-k selection must run as TakeOrderedAndProject (per-partition
    # heaps merged on the driver), never a global Sort
    "take_ordered": lambda p: "TakeOrderedAndProject" in p,
    # pure per-row projections (e.g. the magic-byte sniff) must not
    # shuffle at all — zero Exchange nodes in the formatted plan
    "no_exchange": lambda p: not re.search(r"^\(\d+\) Exchange", p, re.M),
    # blocked pair-mining must plan as an equi-join on the blocking
    # key, never a cartesian with the verifier in the condition
    "no_cartesian": lambda p: "CartesianProduct" not in p
    and "BroadcastNestedLoopJoin" not in p,
    # line-dedup carrier aggregate: the line TEXT must be pruned from
    # the aggregate exchange (only md5 + the two carrier longs travel)
    "line_text_pruned_from_exchange": lambda p: not _attr_in_exchange(
        p, "line#"
    ),
}


def _read_schema(plan: str) -> str:
    return " ".join(re.findall(r"ReadSchema: struct<([^>]*)>", plan))


def _attr_in_exchange(plan: str, attr: str) -> bool:
    """True iff some Exchange actually SHIPS `attr`. Prefer the
    formatted node blocks ("(7) Exchange" + its own "Input [...]"
    line) — exact; fall back to the crude Exchange-plus-3-lines window
    only when the formatted section has no Exchange node (e.g. a
    simple-mode-only plan)."""
    blocks = re.findall(
        r"^\(\d+\) Exchange[^\n]*\nInput[^\n]*", plan, re.M
    )
    if blocks:
        return any(attr in b for b in blocks)
    for m in re.finditer(r"Exchange [^\n]*\n(?:.*\n){0,3}", plan):
        if attr in m.group(0):
            return True
    return False


def _udf_in_two_nodes(plan: str) -> bool:
    """True iff some UDF name is called by more than one numbered
    ArrowEvalPython node of the formatted plan. A UDF call prints as
    `name(args)#exprId`; nested built-ins inside args carry no #id."""
    nodes = re.findall(
        r"^\(\d+\) ArrowEvalPython\nInput[^\n]*\nArguments: ([^\n]*)",
        plan, re.M,
    )
    names = [
        n
        for args in nodes
        for n in set(re.findall(r"(\w+)\((?:[^()]|\([^()]*\))*\)#\d+", args))
    ]
    return len(names) != len(set(names))


def _payload_in_exchange(plan: str) -> bool:
    return _attr_in_exchange(plan, "bytes#")


def audit(name: str, df, checks: list[str], out: list[str]) -> None:
    p = plan_of(df)
    out.append(f"\n## {name}\n")
    for c in checks:
        ok = CHECKS[c](p)
        out.append(f"- {'✅' if ok else '❌'} {c}")
    schema = _read_schema(p)
    if schema:
        out.append(f"- ReadSchema: `{schema[:300]}`")
    out.append("\n<details><summary>plan</summary>\n\n```\n" + p[:8000] + "\n```\n</details>\n")


def main() -> None:
    # AQE off for the audit only: adaptive plans print isFinalPlan=false
    # without codegen markers until executed; the static plan shows the
    # same pruning/broadcast/codegen properties we're checking.
    spark = get_spark(
        "plan_audit", cores=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    import __spark_entry__ as e
    from dedup_spark.operators.exact import exact_duplicate_clusters, size_candidates
    from dedup_spark.operators.simhash import phash_near_duplicates

    sf = "/root/testdata/sf0.01"
    from dedup_spark.fixtures.materialize import fixture_images_parquet

    img = spark.read.parquet(fixture_images_parquet())

    out = ["# PLANS — physical-plan audit (auto-generated by tools/explain_audit.py)",
           "",
           "Checks: the stage-1 key aggregate must never read `bytes`; scan",
           "filters must push down; candidate-key joins must broadcast; hash",
           "stages must be whole-stage-codegen'd; no exchange may carry the",
           "payload column."]

    audit(
        "stage-1 key aggregate (metadata only)",
        size_candidates(img.select("phash", "w", "h", "fmt"), ["phash", "w", "h", "fmt"]),
        ["scan_pruned_to_metadata", "wholestage_codegen"],
        out,
    )
    audit(
        "exact cascade (full)",
        exact_duplicate_clusters(img),
        ["broadcast_join", "wholestage_codegen", "no_payload_in_exchange"],
        out,
    )
    audit(
        "exact cascade (3-pass, H1/H4 prefix-hash stage)",
        exact_duplicate_clusters(img, fuse_full_hash=False),
        ["broadcast_join", "wholestage_codegen", "no_payload_in_exchange"],
        out,
    )
    audit(
        "phash Hamming near-dup",
        phash_near_duplicates(img),
        ["scan_pruned_to_metadata", "broadcast_join", "wholestage_codegen"],
        out,
    )
    audit(
        "scan filters (pushdown)",
        e.queries()["scan_filters"](spark, sf),
        ["has_pushed_filters", "wholestage_codegen"],
        out,
    )
    audit(
        "minhash LSH pairs",
        e.queries()["minhash_lsh_pairs"](spark, sf),
        ["wholestage_codegen"],
        out,
    )
    audit(
        "char substring (min-gram anchor index)",
        e.queries()["substring_containment"](spark, sf),
        ["wholestage_codegen", "broadcast_join"],
        out,
    )
    audit(
        "blocked cosine GEMM (distributed, no driver collect)",
        e.queries()["cosine_pairs"](spark, sf),
        ["map_in_pandas", "grouped_pandas"],
        out,
    )
    audit(
        "ANN axis-plane tier (built-in signatures, no Python UDF)",
        e.queries()["ann_cosine_pairs"](spark, sf),
        ["no_python_udf", "wholestage_codegen", "broadcast_join"],
        out,
    )
    audit(
        "fused multimodal 3-stage pipeline (payload never in exchange)",
        e.queries()["multimodal_dedup_pipeline"](spark, sf),
        ["broadcast_join", "wholestage_codegen", "no_payload_in_exchange"],
        out,
    )
    audit(
        "IVF top-k search (cell join + per-query window)",
        e.queries()["ivf_topk"](spark, sf),
        ["wholestage_codegen"],
        out,
    )
    # suffix-array tier: the doubling loop must stay pure JVM (no
    # Python eval anywhere — posexplode + joins + windows only) and
    # the group stats must be two combinable aggs (no countDistinct
    # Expand). The per-round localCheckpoints cut lineage, so the
    # full-query plan can't show the in-round joins — the rank-
    # assignment sub-plan is audited separately below: its offset
    # join must broadcast (n_partitions rows) and its window
    # partitions by _pid, never a global-order single partition.
    audit(
        "suffix-array dup spans (prefix doubling, fixed-width shuffles)",
        e.queries()["suffix_array_spans"](spark, sf),
        ["no_python_udf", "wholestage_codegen", "no_expand"],
        out,
    )
    from dedup_spark.operators.suffixarray import (
        _dense_ranks,
        word_positions,
    )

    docs_sf = spark.read.parquet(f"{sf}/documents.parquet")
    audit(
        "suffix-array rank assignment (two-pass dense rank)",
        _dense_ranks(word_positions(docs_sf), ["word"], "rank"),
        ["no_python_udf", "wholestage_codegen", "broadcast_join"],
        out,
    )

    # video tier: the frame-signature path must be pure JVM (sequence +
    # substring + md5 inside codegen, no Python eval anywhere), and the
    # pair query must never shuffle the video payload — signatures
    # exchange, bytes don't
    from dedup_spark.fixtures.materialize import fixture_videos_parquet
    from dedup_spark.multimodal.video import (
        frame_signatures,
        video_near_duplicates,
    )

    vid = spark.read.parquet(fixture_videos_parquet())
    audit(
        "video frame signatures (JVM-only slice+hash)",
        frame_signatures(vid),
        ["wholestage_codegen", "no_python_udf"],
        out,
    )
    audit(
        "video sampled-frame near-dup (payload never in exchange)",
        video_near_duplicates(vid, max_posting=None),
        ["wholestage_codegen", "no_python_udf", "no_payload_in_exchange"],
        out,
    )

    # audio tier: payload consumed once inside the Arrow UDF projection
    # (audited pre-checkpoint — the cluster query cuts lineage at the
    # UDF output, so its plan starts from the checkpointed RDD), then
    # the cluster join must never carry bytes into an exchange
    from dedup_spark.fixtures.materialize import fixture_audio_parquet
    from dedup_spark.multimodal.audio import (
        audio_fingerprint_clusters,
        audio_fingerprints,
    )

    aud = spark.read.parquet(fixture_audio_parquet())
    audit(
        "audio fingerprints (Arrow-batched UDF projection)",
        audio_fingerprints(aud),
        ["map_in_pandas"],
        out,
    )
    audit(
        "audio fingerprint clusters (payload never in exchange)",
        audio_fingerprint_clusters(aud),
        ["no_payload_in_exchange"],
        out,
    )

    # bucketed streaming-state join: build a tiny bucketed state table
    # and probe the exact join shape process_batch uses
    import pandas as pd

    from dedup_spark.streaming.incremental import _batch_hashes

    spark.sql("DROP TABLE IF EXISTS plan_audit_state")
    state = spark.createDataFrame(
        pd.DataFrame(
            {"len": [3, 4], "fsha": ["a", "b"], "cluster_id": ["x", "y"]}
        )
    )
    (
        state.write.mode("overwrite").bucketBy(4, "len", "fsha")
        .sortBy("len", "fsha").format("parquet")
        .saveAsTable("plan_audit_state")
    )
    probe = spark.createDataFrame(
        pd.DataFrame({"image_id": ["z"], "bytes": [b"abc"]})
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    audit(
        "streaming state join (bucketed, shuffle-free state side)",
        _batch_hashes(probe, "image_id", "bytes").join(
            spark.table("plan_audit_state"), on=["len", "fsha"], how="left"
        ),
        ["single_exchange", "bucketed_scan"],
        out,
    )
    spark.sql("DROP TABLE IF EXISTS plan_audit_state")

    # fuzzy tier's band-state join: same contract — the O(corpus x
    # bands) LSH index table scans bucketed, only the micro-batch side
    # exchanges (streaming/fuzzy.py bands_table mode)
    from dedup_spark.operators.minhash import minhash_signature_udf

    spark.sql("DROP TABLE IF EXISTS plan_audit_bands")
    bands = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "band_idx": [0, 1], "band_hash": [11, 22]}
        )
    )
    (
        bands.write.mode("overwrite").bucketBy(4, "band_idx", "band_hash")
        .sortBy("band_idx", "band_hash").format("parquet")
        .saveAsTable("plan_audit_bands")
    )
    sig = minhash_signature_udf()
    banded_new = (
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [9], "text": ["a b c d e f g h i j"]})
        )
        .select("doc_id", sig(F.col("text")).alias("_bands"))
        .select("doc_id", F.posexplode("_bands").alias("band_idx", "band_hash"))
    )
    audit(
        "streaming fuzzy band-state join (bucketed LSH index, shuffle-free)",
        banded_new.join(
            spark.table("plan_audit_bands"), on=["band_idx", "band_hash"],
            how="inner",
        ),
        ["single_exchange", "bucketed_scan", "python_udf_once"],
        out,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    spark.sql("DROP TABLE IF EXISTS plan_audit_bands")

    # round-3 pipeline ops: all pure built-in expressions (no Python
    # anywhere in these plans); the shuffle index must rank inside 256
    # parallel bucket windows, never a single global-order window
    audit(
        "boilerplate segment stats (built-ins only, combinable aggs)",
        e.queries()["boilerplate_stats"](spark, sf),
        ["wholestage_codegen", "no_python_udf"],
        out,
    )
    audit(
        "repetition stats (explode + two-phase groupBy)",
        e.queries()["repetition_stats"](spark, sf),
        ["wholestage_codegen", "no_python_udf"],
        out,
    )
    audit(
        "PII scan (regexp built-ins at scan speed)",
        e.queries()["pii_scan"](spark, sf),
        ["wholestage_codegen", "no_python_udf"],
        out,
    )
    shuffle_df = e.queries()["deterministic_shuffle"](spark, sf)
    p = plan_of(shuffle_df)
    out.append("\n## deterministic shuffle index (bucketed ranking)\n")
    for c in ["wholestage_codegen", "no_python_udf", "broadcast_join"]:
        out.append(f"- {'✅' if CHECKS[c](p) else '❌'} {c}")
    # the window must be PARTITIONED (by _bkt) — a global-order window
    # would shuffle everything into one partition. Strict check: every
    # windowspecdefinition in the plan must name _bkt as its partition
    # key (no vacuous fallback — a plan with zero windows also fails).
    win_specs = re.findall(r"windowspecdefinition\(([^,)]*)", p)
    part_win = bool(win_specs) and all(
        s.strip().startswith("_bkt") for s in win_specs
    )
    out.append(f"- {'✅' if part_win else '❌'} window_partitioned_by_bucket")
    out.append(
        "\n<details><summary>plan</summary>\n\n```\n" + p[:8000] + "\n```\n</details>\n"
    )

    # dataset-assembly tier: sampling is scan-speed built-ins; packing
    # rides the same bucketed prefix-sum (partitioned window + offset
    # broadcast); mixing is one combinable agg + broadcast scalars
    audit(
        "stratified sampling (md5-coin built-ins, scan speed)",
        e.queries()["stratified_sample"](spark, sf),
        ["wholestage_codegen", "no_python_udf"],
        out,
    )
    audit(
        "sequence packing (distributed prefix sum, broadcast offsets)",
        e.queries()["sequence_packing"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "broadcast_join"],
        out,
    )
    audit(
        "source mixing weights (combinable agg + broadcast scalars)",
        e.queries()["source_mixing"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "broadcast_join"],
        out,
    )

    # round-4 tiers: text embedding is ONE Arrow UDF projection (no
    # payload-wide exchange); the AVI tier's parse+decode is a
    # MapInPandas projection — the container bytes must never shuffle
    audit(
        "embed_text (one Arrow-batched UDF projection)",
        e.queries()["embed_text"](spark, sf),
        ["wholestage_codegen"],
        out,
    )
    # NB: both fused queries localCheckpoint their UDF stage (the
    # multi-consumer rule), which cuts lineage — so the UDF node is
    # audited on the pre-checkpoint fragment and the fused plan is
    # audited for its exchange/join discipline.
    audit(
        "semantic_dedup_text (embed -> blocked GEMM -> CC)",
        e.queries()["semantic_dedup_text"](spark, sf),
        ["wholestage_codegen", "no_payload_in_exchange"],
        out,
    )
    from dedup_spark.fixtures.materialize import fixture_avi_parquet
    from dedup_spark.multimodal.avi import avi_frame_signatures

    avi_df = spark.read.parquet(fixture_avi_parquet())
    audit(
        "avi_frame_signatures (RIFF walk + JPEG decode, one projection)",
        avi_frame_signatures(avi_df, every_n=2),
        ["map_in_pandas", "no_payload_in_exchange"],
        out,
    )
    audit(
        "avi_video_dedup (sig sets -> inverted index, payload never shuffles)",
        e.queries()["avi_video_dedup"](spark, sf),
        ["no_payload_in_exchange", "no_python_udf"],
        out,
    )

    # span excision: the whole gram → dup-set → coverage → excise path
    # is JVM built-ins (no Python anywhere), and the duplicated-gram
    # set comes from two combinable aggs — no countDistinct Expand
    audit(
        "exact_span_dedup (gram coverage union, JVM-only, no Expand)",
        e.queries()["exact_span_dedup"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )
    # IVFPQ: ADC scoring must be a distributed Arrow stage (broadcast
    # codebooks), never a driver-side rank
    audit(
        "pq_topk (IVFPQ: ADC over codes in MapInPandas, exact re-rank)",
        e.queries()["pq_topk"](spark, sf),
        ["map_in_pandas"],
        out,
    )

    # general OLAP surface: the 3-way TPC-H-style join must push its
    # date/segment filters into the parquet scans, broadcast the
    # filtered dim, and stay whole-stage-codegen'd JVM
    audit(
        "tpch_shipping_priority (filter pushdown + broadcast dim)",
        e.queries()["tpch_shipping_priority"](spark, sf),
        ["has_pushed_filters", "broadcast_join", "wholestage_codegen",
         "no_python_udf"],
        out,
    )
    audit(
        "events_asof_join (union + forward-fill window, JVM-only)",
        e.queries()["events_asof_join"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )
    # CDC: chunking is a blob-local Arrow projection; payload bytes
    # never shuffle (only chunk records do); shared set via two
    # combinable aggs. Rescale: same decode-projection discipline.
    # both tiers localCheckpoint their UDF stage (multi-consumer rule),
    # which cuts lineage — so the Arrow stage is audited on the
    # pre-checkpoint fragment and the full query for its
    # exchange/aggregation discipline (the avi pattern above)
    from dedup_spark.fixtures.materialize import (
        fixture_rescale_parquet, fixture_videos_parquet,
    )
    from dedup_spark.multimodal.decode import thumbprint_clusters
    from dedup_spark.operators.cdc import chunk_records

    vid_df = spark.read.parquet(fixture_videos_parquet())
    audit(
        "cdc chunk_records (blob-local Arrow chunking, one projection)",
        chunk_records(vid_df),
        ["map_in_pandas", "no_payload_in_exchange"],
        out,
    )
    audit(
        "cdc_chunk_dedup (chunk records shuffle, two combinable aggs)",
        e.queries()["cdc_chunk_dedup"](spark, sf),
        ["no_payload_in_exchange", "no_expand", "broadcast_join"],
        out,
    )
    audit(
        "rescale_dedup (thumbprint projection, sha-keyed groupBy)",
        e.queries()["rescale_dedup"](spark, sf),
        ["no_payload_in_exchange", "no_expand"],
        out,
    )
    audit(
        "dhash_dedup (dHash projection, long-keyed groupBy — the "
        "8-byte hash is the only image-derived column in an Exchange; "
        "the Arrow decode stage sits behind the localCheckpoint "
        "lineage cut, like the thumbprint tier)",
        e.queries()["dhash_dedup"](spark, sf),
        ["no_payload_in_exchange", "no_expand"],
        out,
    )
    audit(
        "incremental_cc (contracted-graph batch update: the star loop "
        "runs on batch-sized edges only; the corpus assignment is "
        "touched by ONE root-remap join — AQE picks broadcast vs "
        "shuffle from the real post-CC remap size)",
        e.queries()["incremental_cc"](spark, sf),
        ["no_python_udf", "no_expand"],
        out,
    )
    audit(
        "pipeline_recall_report (contingency C(n,2) sums — three "
        "groupBy-count aggs + 1-row crossJoins, never a materialized "
        "pair table; payload stays out of every Exchange)",
        e.queries()["pipeline_recall_report"](spark, sf),
        ["no_payload_in_exchange", "no_expand"],
        out,
    )
    audit(
        "crawl_churn_report (six combinable counts over the two "
        "assignment tables, 1-row crossJoin assembly — each distinct "
        "is its own pre-aggregated frame, no countDistinct Expand)",
        e.queries()["crawl_churn_report"](spark, sf),
        ["no_python_udf", "no_expand"],
        out,
    )
    audit(
        "bm25_topk (posting join + decimal sums, JVM-only, no Expand)",
        e.queries()["bm25_topk"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand",
         "broadcast_join"],
        out,
    )

    audit(
        "value_histogram (broadcast scalar edges, one groupBy)",
        e.queries()["value_histogram"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "broadcast_join",
         "no_expand"],
        out,
    )
    audit(
        "table_profile (single-column distinct: two-stage agg, no Expand)",
        e.queries()["table_profile"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )
    audit(
        "bloom_gram_dedup (bit_or bitmap build, broadcast word join, "
        "JVM-only)",
        e.queries()["bloom_gram_dedup"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "broadcast_join",
         "no_expand"],
        out,
    )
    # the final unicode_nfc_dedup plan hides its python stage behind
    # the localCheckpoint lineage cut (which exists precisely so the
    # UDF runs once despite the keyed fan-out) — audit the normalizer
    # projection itself for the Arrow-vs-pickle property, and the full
    # query for aggregation discipline
    from dedup_spark.functions.unicode import nfc_normalize_udf

    audit(
        "nfc normalizer projection (Arrow-vectorized pandas_udf, "
        "never row-at-a-time)",
        spark.read.parquet(f"{sf}/documents.parquet").select(
            nfc_normalize_udf()(F.col("text")).alias("nfc")
        ),
        ["arrow_vectorized"],
        out,
    )
    audit(
        "unicode_nfc_dedup (md5-keyed groupBy + join-back — text never "
        "in the exchange key)",
        e.queries()["unicode_nfc_dedup"](spark, sf),
        ["no_expand", "broadcast_join"],
        out,
    )
    audit(
        "key_skew_profile (combinable counts, WindowGroupLimit top-k — "
        "the vocabulary is never globally sorted, broadcast totals)",
        e.queries()["key_skew_profile"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "broadcast_join",
         "no_expand", "window_group_limit"],
        out,
    )

    # line_dedup: audit the carrier aggregate alone (its ONLY exchange
    # is the aggregate, so the pruning check is unambiguous), then the
    # full report for aggregation/python discipline
    from dedup_spark.operators.linededup import split_token_lines

    _lines = split_token_lines(spark.read.parquet(f"{sf}/documents.parquet"))
    audit(
        "line_dedup carrier aggregate (min(struct) per md5 — line text "
        "pruned from the exchange)",
        _lines.withColumn("_h", F.md5(F.col("line")))
        .groupBy("_h")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("_first")),
        ["wholestage_codegen", "line_text_pruned_from_exchange"],
        out,
    )
    audit(
        "line_dedup (first-carrier excision + per-doc reassembly — "
        "no python, no Expand)",
        e.queries()["line_dedup"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "edit1_name_pairs (deletion-neighborhood blocking — linear "
        "candidate keys, no cross join, JVM levenshtein verify)",
        e.queries()["edit1_name_pairs"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_cartesian"],
        out,
    )

    audit(
        "lm_perplexity (combinable count aggs, broadcast V scalar, "
        "no Expand distinct, pure JVM)",
        e.queries()["lm_perplexity"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand",
         "broadcast_join"],
        out,
    )

    audit(
        "token_entropy (two combinable aggregations, no joins/windows, "
        "pure JVM)",
        e.queries()["token_entropy"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "snm_name_pairs (two-pass range rank + balanced band "
        "self-join — no global-order window, no cartesian)",
        e.queries()["snm_name_pairs"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_cartesian",
         "broadcast_join"],
        out,
    )

    audit(
        "video_scene_segments (per-video windows — never global — "
        "payload sliced in the scan projection, pure JVM)",
        e.queries()["video_scene_segments"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand",
         "no_payload_in_exchange"],
        out,
    )

    audit(
        "url_dedup (parse_url projection + min-per-canonical — "
        "pure JVM, no Expand)",
        e.queries()["url_dedup"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    # bpe: audit the per-round pair-count aggregation (the repeated
    # stage) — the final merge table is a k-row driver frame
    from dedup_spark.operators.bpe import word_frequencies

    audit(
        "bpe word-frequency pass + pair counting (combinable aggs, "
        "pure JVM)",
        word_frequencies(spark.read.parquet(f"{sf}/documents.parquet")),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "zipf_fit (two-pass range rank, exact decimal regression "
        "sums, no global-order window, pure JVM)",
        e.queries()["zipf_fit"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand",
         "broadcast_join"],
        out,
    )

    audit(
        "audio_quality (Arrow-vectorized mapInPandas projection — "
        "payload never in an exchange)",
        e.queries()["audio_quality"](spark, sf),
        ["map_in_pandas", "no_payload_in_exchange"],
        out,
    )

    audit(
        "image_quality_stats (Arrow-vectorized mapInPandas projection "
        "— payload consumed in the projection, never in an exchange)",
        e.queries()["image_quality_stats"](spark, sf),
        ["map_in_pandas", "no_payload_in_exchange"],
        out,
    )

    audit(
        "hll_distinct (one combinable register agg, integer harmonic "
        "sum, pure JVM)",
        e.queries()["hll_distinct"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand",
         "broadcast_join"],
        out,
    )
    audit(
        "cms_heavy_hitters (one combinable 4x512 cell agg + cell "
        "lookups, pure JVM)",
        e.queries()["cms_heavy_hitters"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "weighted_sample (A-ES keys, TakeOrderedAndProject top-k — "
        "never a global sort, pure JVM)",
        e.queries()["weighted_sample"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "take_ordered"],
        out,
    )

    audit(
        "group_weighted_sample (per-source budgeted A-ES, two-phase "
        "salted top-k — no task sorts a whole source, pure JVM)",
        e.queries()["group_weighted_sample"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_cartesian",
         "window_group_limit"],
        out,
    )

    audit(
        "format_sniff (magic-byte ingest audit: one codegen projection "
        "over hex(first 12 bytes), no shuffle, no Python)",
        e.queries()["format_sniff"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_exchange"],
        out,
    )

    audit(
        "phash_threshold_sweep (banded pair tier + broadcast truth "
        "joins + 9-row post-agg curve — never an all-pairs join)",
        # (the 1-row total joins in as the broadcast-scalar idiom — a
        # BroadcastNestedLoopJoin by plan shape, so no no_cartesian)
        e.queries()["phash_threshold_sweep"](spark, sf),
        ["no_python_udf", "broadcast_join"],
        out,
    )

    audit(
        "caption_consistency (two single-column distinct aggs over "
        "(sha, caption) keys + joins back; payload never shuffled)",
        e.queries()["caption_consistency"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand",
         "no_payload_in_exchange"],
        out,
    )

    audit(
        "border_crop_dedup (content-box-sha projection, sha-keyed "
        "groupBy; the Arrow decode stage sits behind the "
        "localCheckpoint lineage cut, like the thumbprint tier)",
        e.queries()["border_crop_dedup"](spark, sf),
        ["no_payload_in_exchange", "no_expand"],
        out,
    )

    audit(
        "best_copy_canonical (two combinable aggs — max pixels, then "
        "min id among maxima — never a window over cluster members)",
        e.queries()["best_copy_canonical"](spark, sf),
        ["no_payload_in_exchange", "no_expand"],
        out,
    )

    audit(
        "dup_rate_by_source (fingerprint groupBy + skew-safe join "
        "back + tiny per-source agg, pure JVM)",
        e.queries()["dup_rate_by_source"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "hard_negative_pairs (capped inverted-index join, band filter "
        "— the near-dup tier's plan at a different threshold)",
        e.queries()["hard_negative_pairs"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_cartesian"],
        out,
    )

    audit(
        "output_shard_plan (seeded md5 shard key, one N-row agg + "
        "broadcast scalar, pure JVM)",
        e.queries()["output_shard_plan"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "shared_patch_pairs (Arrow patch projection -> sha-keyed "
        "posting-capped self-join -> count agg; payload never in an "
        "Exchange — the caption shingle tier's plan over pixels)",
        e.queries()["shared_patch_pairs"](spark, sf),
        ["no_payload_in_exchange", "no_cartesian", "no_expand"],
        out,
    )

    audit(
        "bpe_encode_stats (k-deep replace chain over the DISTINCT-WORD "
        "table + exploded-word join + per-doc agg, pure JVM)",
        e.queries()["bpe_encode_stats"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_cartesian"],
        out,
    )

    audit(
        "gps_scrub (Arrow scrub+reparse projection; payload consumed "
        "in the stage, nothing shuffles but the 8-column report)",
        e.queries()["gps_scrub"](spark, sf),
        ["no_payload_in_exchange", "map_in_pandas"],
        out,
    )

    audit(
        "rotation_invariant_dedup (multiset-sha projection, sha-keyed "
        "groupBy; Arrow stage behind the localCheckpoint cut)",
        e.queries()["rotation_invariant_dedup"](spark, sf),
        ["no_payload_in_exchange", "no_expand"],
        out,
    )

    audit(
        "html_extract (pure regexp_replace cascade projection, no "
        "shuffle, no Python)",
        e.queries()["html_extract"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_exchange"],
        out,
    )

    audit(
        "snapshot_diff (one full-outer join of sha-projected key "
        "tables; payload never in the Exchange)",
        e.queries()["snapshot_diff"](spark, sf),
        ["no_payload_in_exchange", "no_python_udf", "wholestage_codegen"],
        out,
    )

    audit(
        "length_quantiles_by_source (one exact-percentile agg per "
        "source, pure JVM)",
        e.queries()["length_quantiles_by_source"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "image_geometry_profile (stored-dims projection + combinable "
        "agg + broadcast total; no pixel decoded)",
        e.queries()["image_geometry_profile"](spark, sf),
        ["no_python_udf", "no_expand"],
        out,
    )

    audit(
        "bow_dedup (sort_array multiset key, one groupBy + join back, "
        "pure JVM)",
        e.queries()["bow_dedup"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "verified_rotation_pairs (sha-keyed candidate buckets; the "
        "verify join ships exactly two payloads per CANDIDATE pair — "
        "the one legitimate payload shuffle, flood-guarded)",
        e.queries()["verified_rotation_pairs"](spark, sf),
        ["no_cartesian", "no_expand"],
        out,
    )

    audit(
        "dedup_funnel (per-tier combinable counts + guarded verified "
        "pair unions + the fused CC pass; one-row dashboard)",
        e.queries()["dedup_funnel"](spark, sf),
        ["no_payload_in_exchange", "no_expand"],
        out,
    )

    audit(
        "epoch_plan (mixing aggregation + broadcast scalars + pure "
        "budget arithmetic, 20-row output)",
        e.queries()["epoch_plan"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "recompression_dedup (pixel-recomputed phash -> radius-4 "
        "pigeonhole bands -> CC; Arrow stage behind the checkpoint)",
        e.queries()["recompression_dedup"](spark, sf),
        ["no_payload_in_exchange", "no_cartesian"],
        out,
    )

    audit(
        "entity_resolution (deletion-key blocking join -> levenshtein "
        "verify -> CC over names -> min-key entity ids; never O(n^2))",
        e.queries()["entity_resolution"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_cartesian"],
        out,
    )

    audit(
        "conversion_funnel (one combinable day-grain agg with "
        "conditional counts, pure JVM)",
        e.queries()["conversion_funnel"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    audit(
        "cohort_retention (min-agg first day, distinct projection, "
        "cell counts + broadcast cohort sizes — no Expand, no window)",
        e.queries()["cohort_retention"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand",
         "broadcast_join"],
        out,
    )

    audit(
        "lang_segmentation (explode + per-line projection + two "
        "combinable aggs, pure JVM)",
        e.queries()["lang_segmentation"](spark, sf),
        ["wholestage_codegen", "no_python_udf", "no_expand"],
        out,
    )

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    fails = sum(1 for line in out if line.startswith("- ❌"))
    print(f"PLANS.md written; {fails} failed checks")


if __name__ == "__main__":
    main()
