"""Every registered query must hash-match its DuckDB oracle twin.

This replicates the driver's t2 gate (row count + column names +
order-insensitive value hash) at smoke scale so regressions surface in
pytest before the driver runs.

Lane split (r15): the full ~324-query sweep takes ~8 minutes alone —
the single largest block of the suite — which broke the driver's
verification window (r14 verdict item 2). The DEFAULT lane keeps every
bench slot, every spot-check slot, and the operator families the
recent optimization rounds touched (~60 queries); the remaining
queries are marked ``slow`` and run with ``-m slow`` (the driver's own
DuckDB gate independently re-proves a rotating sample of the whole
registry every round, so default-lane pytest is a pre-driver smoke
check, not the only oracle net). No query is removed from the sweep.
"""

from __future__ import annotations

import duckdb
import pytest

from bench import BENCH_QUERIES, SPOT_CHECK_QUERIES
from tools.check_correctness import TABLES, result_fingerprint

from data_engineer_project_spark.queries import QUERIES

# Operator families touched by the r14/r15 optimization rounds — their
# members stay in the default oracle lane until a quiet round passes.
_RECENTLY_TOUCHED = {
    "d13_embedding_near_dup",
    "d16_ann_recall",
    "d20_dedup_clusters",
    "d21_semantic_near_dup",
    "d26_quality_survivor",
    "d29_minhash_estimator_quality",
    "d31_semantic_decontamination",
    "d34_containment_dedup",
    "d38_curation_containment",
    "d65_neardup_doc_clusters",
    "d82_ivfpq_recall",
    "d86_knn_label_probe",
    "d93_train_test_cosine_overlap",
    "d94_chunk_retrieval_eval",
    "d96_dedup_threshold_calibration",
    "d100_incremental_neardup_ingest",
    "m10_image_neardup_clusters",
    "s24_stream_neardup_probe",
    "s25_stream_cluster_maintenance",
    # ported to the near-dup oracle CTEs (operators/neardup.py):
    # every query whose oracle text or Spark code changed with it
    "d04_fingerprints",
    "d07_dedup_minhash_lsh",
    "d12_dedup_ngram_jaccard",
    "d15_curation_pipeline",
    "d24_repetition_ratio",
    "d25_decontamination",
    "d36_ngram_novelty",
    "d40_boilerplate_ngrams",
    "d46_leakage_severity_histogram",
    "d48_source_overlap_matrix",
    "d55_clean_train_split",
    "d56_end_to_end_curation",
    "d61_decontamination_span_masking",
    "d66_contamination_method_attribution",
    "d68_test_doc_bigram_novelty",
    "d72_hll_distinct_sketch",
    "d74_pagerank_canonical_doc",
    "d78_decontamination_certificate",
    "d87_bigram_surprisal_filter",
    "d89_weighted_pagerank_canonical",
    "d99_weighted_neardup_clusters",
    "d101_incremental_cluster_merge",
    "m18_image_neardup_verified",
}

_DEFAULT_LANE = set(BENCH_QUERIES) | set(SPOT_CHECK_QUERIES) | _RECENTLY_TOUCHED

_PARAMS = [
    name
    if name in _DEFAULT_LANE
    else pytest.param(name, marks=pytest.mark.slow)
    for name in sorted(QUERIES)
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", _PARAMS)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = QUERIES[name]
    df = spec.fn(spark, sf_dir)
    sfp = result_fingerprint(df.columns, [tuple(r) for r in df.collect()])
    if spec.oracle is None:
        assert sfp["rows"] >= 0  # rows-only contract: runs and is stable
        return
    cur = duck.execute(spec.oracle)
    dfp = result_fingerprint([d[0] for d in cur.description], cur.fetchall())
    assert sfp["cols"] == dfp["cols"], f"{name}: column mismatch"
    assert sfp["rows"] == dfp["rows"], f"{name}: row count mismatch"
    assert sfp["hash"] == dfp["hash"], (
        f"{name}: value hash mismatch\nspark sample: {sfp['sample']}\n"
        f"duck sample: {dfp['sample']}"
    )
