"""The semantic-gate, lexical near-dup, ANN top-k, streaming and shards
families of the query registry, checked against their DuckDB oracles in
the regular test run.

Each case runs one registered query and its oracle SQL at sf0.001 with
the same comparison ``tools/check_correctness.py`` applies to the whole
registry (row count, column names, order-insensitive rounded value
hash) and fails on any mismatch."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import check_query, oracle_connection  # noqa: E402

GATE_ORACLES = [
    "emb_gate_recall",
    "emb_gate_sq8",
    "emb_gate_sq8_stats",
    "emb_gate_prefix",
    "emb_gate_prefix_report",
    "emb_gate_pq",
    "emb_gate_margin_report",
    "emb_gate_pq_margin_report",
    "emb_gate_blas_parity",
    "emb_gate_rung_policy",
    "emb_rebalance_policy",
    "stream_semantic_ingest",
    "dd_semantic_vs_lexical",
]

# MinHash -> LSH candidates -> exact verification -> connected
# components, and the continuous-ingest forms of that chain
DEDUP_ORACLES = [
    "dd_jaccard",
    "dd_jaccard_ngram",
    "dd_containment",
    "dd_jaccard_lsh",
    "dd_lsh_candidates",
    "dd_clusters",
    "dd_clusters_lsh",
    "dd_cluster_representatives",
    "dd_incremental_clusters",
    "dd_incremental_near_dup",
    "dd_minhash_calibration",
    "stream_near_dup_ingest",
]

# exact, LSH and IVF (float, SQ8, PQ, PQ re-rank) top-k paths
ANN_ORACLES = [
    "emb_topk_cosine",
    "emb_ann_recall",
    "emb_lsh_topk",
    "emb_lsh_multi_topk",
    "emb_lsh_index_topk",
    "emb_ivf_topk",
    "emb_ivf_topk_seeded",
    "emb_ivf_index_topk",
    "emb_ivf_sq8_topk",
    "emb_ivf_pq_topk",
    "emb_ivf_pq_rerank",
]


# the availableNow stream drivers and the bucketed writer
STREAM_ORACLES = [
    "stream_curation",
    "stream_quality_gate",
    "w_bucketed_join",
]


# the shards writers, the commit-protocol sink and its lifecycle ops
SHARDS_ORACLES = [
    "w1_roundtrip_shards",
    "w_shards_native_roundtrip",
    "w_shardedfiles_native_roundtrip",
    "w_shards_objectstore_roundtrip",
    "w_shards_parquet_meta_roundtrip",
    "w_shards_meta_jvm",
    "w_shard_stats",
    "w_shards_compact",
    "w_update_metadata_native",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


def _check(spark, sf_dir, oracle_con, name):
    from dataprocessingframework_spark.queries import REGISTRY

    fn, sql = REGISTRY[name]
    assert sql is not None, f"{name} has no oracle"
    status, detail, _ = check_query(spark, oracle_con, sf_dir, fn, sql)
    assert status == "ok", (name, status, detail)


@pytest.mark.parametrize("name", GATE_ORACLES)
def test_gate_query_matches_oracle(spark, sf_dir, oracle_con, name):
    _check(spark, sf_dir, oracle_con, name)


@pytest.mark.parametrize("name", DEDUP_ORACLES)
def test_dedup_query_matches_oracle(spark, sf_dir, oracle_con, name):
    _check(spark, sf_dir, oracle_con, name)


@pytest.mark.parametrize("name", ANN_ORACLES)
def test_ann_query_matches_oracle(spark, sf_dir, oracle_con, name):
    _check(spark, sf_dir, oracle_con, name)


@pytest.mark.parametrize("name", STREAM_ORACLES)
def test_stream_query_matches_oracle(spark, sf_dir, oracle_con, name):
    _check(spark, sf_dir, oracle_con, name)


@pytest.mark.parametrize("name", SHARDS_ORACLES)
def test_shards_query_matches_oracle(spark, sf_dir, oracle_con, name):
    _check(spark, sf_dir, oracle_con, name)
