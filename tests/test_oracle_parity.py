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
# The connected-components consumers (d20, d26, d65, d74, d89, d99,
# d101, m10, m18, s25; d101 and s25 also run neardup.merge_delta) stay
# here while the driver-path CC is new.
_RECENTLY_TOUCHED = {
    "d13_embedding_near_dup",
    "d16_ann_recall",
    "d20_dedup_clusters",
    "d26_quality_survivor",
    "d29_minhash_estimator_quality",
    "d31_semantic_decontamination",
    "d34_containment_dedup",
    "d38_curation_containment",
    "d65_neardup_doc_clusters",
    "d82_ivfpq_recall",
    "d86_knn_label_probe",
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
    # ported to the near-dup pair stages (set_jaccard_pairs)
    "m11_video_neardup_pairs",
    "m14_audio_neardup_pairs",
    "m19_gif_animation_neardup",
    "m20_wav_audio_neardup",
    # ported to the curation stages (operators/curation.py)
    "d39_pii_redaction",
    "d45_epoch_shuffle",
    "d84_cluster_balanced_sampling",
    "s13_stream_mixture_gate",
    "s16_stream_curation_front_door",
    # ported to the retrieval twins (operators/similarity.py, pq.py)
    "d14_ann_ivf",
    "d37_ann_ivf_nprobe2",
    "d44_semantic_cluster_profile",
    "d57_pq_codebook",
    "d58_ivfpq_adc_topk",
    "d60_semdedup",
    "d77_ivfpq_rerank_topk",
    "d83_hard_negative_mining",
    "d85_embedding_alignment_eval",
    "m17_image_query_retrieval",
    "s17_stream_ivf_cell_ingestion",
    # ported to the release gate and median/MAD twins
    # (operators/governance.py, operators/robust.py)
    "hq32_gap_closure_velocity",
    "hq34_member_cost_outliers",
    "hq45_small_cell_suppression",
    "hq46_special_status_release",
    "hq47_geo_cost_release",
    "hq48_outlier_release",
    "d79_robust_mad_outlier_gate",
}

_DEFAULT_LANE = set(BENCH_QUERIES) | set(SPOT_CHECK_QUERIES) | _RECENTLY_TOUCHED


def test_recently_touched_names_are_registered():
    """A stale name in _RECENTLY_TOUCHED silently drops its query out
    of the default lane; every name must match a registered query."""
    assert _RECENTLY_TOUCHED <= set(QUERIES), sorted(_RECENTLY_TOUCHED - set(QUERIES))

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
