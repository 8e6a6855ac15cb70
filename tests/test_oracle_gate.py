"""The DuckDB oracle compare of tools/check_oracle.py, run on the smallest
test dataset for the driver queries whose engines read the pinned
MinHash / exact-hash / CC / ANN constants."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.check_oracle import compare_query, oracle_connection

SF = "/root/testdata/sf0.001"

QUERIES = (
    "exact_dup_clusters",
    "exact_dup_clusters_3pass",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_prod",
    "lsh_recall_report",
    "phash_hamming_pairs",
    "phash_threshold_sweep",
    "multimodal_dedup_pipeline",
    "pipeline_recall_report",
    "ann_cosine_pairs",
    "ann_gaussian_recall",
)


@pytest.fixture(scope="module")
def con():
    c = oracle_connection(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, con, name):
    rec = compare_query(
        spark, con, SF, name, entrymod.queries()[name], entrymod.oracle_sql()[name]
    )
    assert rec["match"] is True, rec["msg"]
