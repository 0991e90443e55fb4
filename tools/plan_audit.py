"""Generate PLANS.md: a physical-plan audit of the benchmark queries.

For each bench query this records the scale-relevant plan facts —
what reached the parquet scan (pushed filters, pruned schema), which
join strategies planned, whether any Python-UDF stage exists, and how
many exchanges (shuffles) the plan pays. The point is reviewable
evidence that the 100 TB design properties hold, frozen at commit time
rather than re-derived by hand.

Usage: python tools/plan_audit.py [--sf DIR] [-o PLANS.md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from data_engineer_project_spark.queries import QUERIES  # noqa: E402
from data_engineer_project_spark.session import get_spark  # noqa: E402

# Flagship non-bench operators worth auditing too. (d20/d26 are
# excluded on purpose: their component loop executes during plan
# construction, so "auditing the plan" would run the whole query.)
EXTRA_QUERIES = [
    "d18_hash_split",
    "d24_repetition_ratio",
    "d25_decontamination",
    "d27_vocab_topk",
    "d28_embedding_int8_quantization",
    "d29_minhash_estimator_quality",
    "d31_semantic_decontamination",
    "d32_sequence_packing",
    "e07_funnel_conversion",
    "e08_rolling_1h_per_user",
    "e09_retention_cohorts",
    "e10_asof_forward",
    "m06_audio_window_rms",
    "p36_offset_pagination_window",
    "p58_rollup",
    # r4 additions
    "d14_ann_ivf",
    # r10 third wave: animated-GIF frame-set dedup (guarded pair join)
    "m19_gif_animation_neardup",
    "m20_wav_audio_neardup",
    "d33_source_token_budget",
    "d34_containment_dedup",
    "d35_char_class_profile",
    "d36_ngram_novelty",
    "d37_ann_ivf_nprobe2",
    # r5 additions: the completed TPC-H suite + new pipeline stages
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_part_value",
    "q12_late_shipment_priority",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q16_part_supplier_variety",
    "q20_excess_share_supplier",
    "d38_curation_containment",
    "d39_pii_redaction",
    "d40_boilerplate_ngrams",
    "d41_length_percentiles",
    "d43_bpe_pair_counts",
    "d44_semantic_cluster_profile",
    "d45_epoch_shuffle",
    "m07_phash_dup_groups",
    "d46_leakage_severity_histogram",
    "d48_source_overlap_matrix",
    "e11_event_rate_anomalies",
    "m08_scene_cut_detection",
    "e12_event_transition_matrix",
    "m09_audio_activity_segments",
    "d50_rolling_hash_fingerprints",
    # d47 / d49 / d42 are bench slots (audited via BENCH_QUERIES)
    # post-sweep additions (e13/d51 are bench slots; m10 — like
    # d20/d26 — runs its component loop when the DataFrame is built,
    # so it is SKIPPED below even though it is a bench slot: "auditing
    # the plan" would execute the whole clustering and record only the
    # post-localCheckpoint tail, not the banded-join pipeline)
    "e14_time_weighted_avg",
    "e15_hourly_gap_fill",
    "p72_calendar_gap_fill",
    "p73_recursive_hierarchy",
    "d52_quality_tiered_mixture",
    "d53_corpus_snapshot_diff",
    "d54_rare_token_mass",
    "m11_video_neardup_pairs",
    # r6 additions: PQ compression + the composed IVF-PQ query path
    # (their k-means/codebook training executes during construction,
    # like d14/d37 — the audited plan is the final scoring stage).
    # s16 is excluded like every s* query: its plan is micro-batch,
    # exercised in tests/test_streaming.py.
    "d57_pq_codebook",
    "d58_ivfpq_adc_topk",
    # r7 additions. d64 is a bench slot (audited via BENCH_QUERIES);
    # d65 runs its CC loop at construction (skipped like m10/d20);
    # d66 composes d25+d31 whose stages are audited individually.
    "hq33_measure_compliance_rate",
    "d66_contamination_method_attribution",
    "d67_token_budget_waterfill",
    "e20_conversion_attribution",
    # r7 second wave. d69 executes its merge rounds at construction
    # (the k-means pattern) — the audited plan is the final literal
    # table, so it is skipped like d20/d26; d70/d71 each run one eager
    # bounded count/argmax and audit fine.
    "d68_test_doc_bigram_novelty",
    "d70_bloom_membership_sketch",
    "d71_countmin_heavy_hitters",
    "e21_activation_latency",
    # d72 is pure relational (occurrence scan -> 256-register fold);
    # d73 (power-iteration collects per round), d74 (CC pointer
    # jumping), d75 (BPE training syncs), and d77 (PQ/k-means
    # training) execute at construction and are skipped via
    # LOOP_EXECUTES_AT_BUILD below; d73/d74 are bench slots so their
    # wall cost is priced there. d76/e22/m14 are pure relational.
    "d72_hll_distinct_sketch",
    "d76_histogram_quantile_sketch",
    "e22_user_burstiness",
    "m14_audio_neardup_pairs",
    # r7 fourth wave — all pure relational (d79/hq34's median/MAD
    # broadcasts and e24's span cross join are bounded 1-row/dim
    # frames; e23's session tagging is a native session_window agg).
    "d79_robust_mad_outlier_gate",
    "e23_session_type_lift",
    "e24_diurnal_autocorrelation",
    "hq34_member_cost_outliers",
    # r7 fifth wave — e25 rides e24's shared grid (bounded cross join);
    # d80's broadcast is the bounded 20-doc tf set; hq35's are the
    # <= #tiers band stats and the provider dimension (the member-
    # proportional tier set is deliberately NOT hinted). s21 is
    # streaming (test_streaming/test_pipeline_round7 cover it).
    "e25_seasonal_rebaseline",
    "d80_tfidf_doc_keywords",
    "hq35_provider_case_mix_oe",
    # r7 sixth wave — d81's broadcasts are the bounded 256-row lean
    # table and the 1-row totals (the user-proportional doc side is
    # NOT hinted); e26's only hint is the 1-row study-end scalar, its
    # cohort joins are plain shuffle joins, and its windows run over
    # the calendar-bounded life table.
    "d81_dsir_hashed_importance",
    "e26_km_conversion_survival",
    # r8 additions — hq36/hq37 broadcast only dimension tables
    # (adjustment-code master, plan, benefit); d82's k-means/PQ
    # training is store-backed (executes once at build, like d58) and
    # the audited plan is the two ADC arms + the hit join against the
    # broadcast 10-query brute-force ground truth.
    "hq36_denial_adjustment_analysis",
    "hq37_plan_benefit_cost_sharing",
    "d82_ivfpq_recall",
    # m15: two narrow Arrow mapInPandas stages (encode fixture,
    # decode under test) + a projection — no join, no shuffle.
    "m15_real_container_decode",
    # hq38–hq44 activate the dormant reference tables: geo/org/code
    # masters broadcast, facts pre-aggregate to member grain before
    # dimension joins, hq41 is one member-keyed window pass.
    "hq38_geo_cost_profile",
    "hq39_encounter_coding_depth",
    "hq40_language_access_report",
    "hq41_coverage_continuity",
    "hq42_provider_org_affiliation",
    "hq43_reference_catalog_profile",
    "hq44_assessment_program_summary",
    # d83 inherits d09's audited broadcast-panel shape (the label
    # predicate rides the join); d84 reads the materialized centroid
    # store (k-means trains once at build, like d44) and its
    # broadcasts are the cells-sized thresholds and keep counts;
    # e27 is the bounded calendar-grid shape (spine x enum types);
    # m16 is narrow mapInPandas + one enum-keyed rollup.
    "d83_hard_negative_mining",
    "d84_cluster_balanced_sampling",
    "e27_cusum_changepoint",
    "m16_container_integrity_gate",
    # d85/d86 inherit d09's broadcast-panel scan; e28's explode is a
    # fixed x7 fan-out of the user-day grain + calendar-spine joins.
    "d85_embedding_alignment_eval",
    "d86_knn_label_probe",
    "e28_dau_wau_stickiness",
    # d87's LM training/scoring is all equi-join + map-side groupBys;
    # e29 is the bounded calendar-grid shape with seven lag registers.
    "d87_bigram_surprisal_filter",
    "e29_ewma_baseline_anomaly",
    # d88 is the d49 word-spectrum shape plus a 10-row window fold.
    "d88_heaps_vocab_growth",
    # hq45 is one distinct rollup + per-county windows over a
    # bounded cell table (geo dim broadcasts, like hq38).
    "hq45_small_cell_suppression",
    # d89 = d74's shape over exact-dup-collapsed weighted nodes; like
    # d74 its CC loop executes at construction, so it lives in
    # LOOP_EXECUTES_AT_BUILD and its wall cost is priced in
    # SCALING.md's 100x row instead.
    # r8 sixth wave — d90's broadcasts are the <= 256-row NB model and
    # two scalar-stat frames (train/score are equi-joins + map-side
    # groupBys, the d81/d87 shape); d91 is one corpus scan into a
    # 16-group map-side aggregate + a 1-row share join; e30 is the
    # bounded calendar-grid shape (spine x enum types) with a
    # constant x13 lag fan-out and an hour-key equi-join.
    "d90_hashed_nb_classifier",
    "d91_shard_manifest",
    "e30_crosscorr_lead_lag",
    # d92 is the d49 word-spectrum shape: explode -> (source, word)
    # count -> source fold; no joins. (s22 is streaming — excluded
    # like every s*; its multi-batch contract lives in
    # tests/test_streaming.py.)
    "d92_good_turing_completeness",
    # m17 is one narrow mapInPandas (dHash) + the broadcast 10-query
    # band panel equi-join + a panel-bounded window (no CC loop, so —
    # unlike m10 — its plan audits without executing); d93 is one
    # corpus scan into a source fold + two 1-row broadcast joins.
    "m17_image_query_retrieval",
    "d93_mixture_temperature",
    # d94 is the inverted-index shape: array-native chunking, token
    # explode shuffled on term, broadcast panel term-set joins, one
    # panel-bounded window; d95 WRITES its partitioned artifact at
    # build (store-backed like d14/d58) — the audited plan is the
    # read-back scan + lang fold.
    "d94_chunk_retrieval_eval",
    "d95_partitioned_roundtrip_audit",
    # d96 = d12's inverted-index pair machinery paid once, then a
    # constant x3 threshold fan-out over the bounded pair set and
    # <= #cuts-row broadcast rollup joins.
    "d96_dedup_threshold_calibration",
    # d97 rides _d90_scored_frame (two token scans + 256-row broadcast
    # model) plus a x3 constant cut fan-out folded map-side to 3 rows.
    # (s23 is streaming — excluded like every s*; its multi-batch
    # equivalence to the batch scorer lives in test_pipeline_round8.)
    "d97_classifier_threshold_calibration",
    # d98 = the d05 fingerprint groupBy + a multiplicity-keyed fold
    # (output bounded by distinct cluster sizes) + a 1-row share join.
    "d98_duplication_profile",
    # r9/r10 governance releases: bounded cell tables through
    # small_cell_suppress windows; hq48 adds the global-stratum form
    # over hq34's member-grain fold.
    "hq46_special_status_release",
    "hq47_geo_cost_release",
    "hq48_outlier_release",
    # d100: the one-sided incremental band probe (delta x corpus);
    # audits fine (no loop at build). d99/d101 run CC at build and are
    # covered by LOOP_EXECUTES_AT_BUILD.
    "d100_incremental_neardup_ingest",
    # r11: the batch twin of bench slot s01 — audited so the streaming
    # slot's per-batch plan note below has a concrete section to cite.
    "e01_tumbling_window",
]

# Queries whose BroadcastNestedLoopJoin is a BOUNDED broadcast by
# design (not a scalar stats row, not a cartesian risk), with the
# label explaining WHICH bounded set is broadcast: d09's contract IS
# "score a small broadcast query set against the whole corpus"; the
# IVF/k-means family broadcasts the ~sqrt(N)-capped centroid table for
# nearest-centroid assignment — the standard IVF cost (N x n_cells
# distance evaluations, no shuffle), bounded by MAX_CENTROID_BITS.
_CENTROID_BNLJ = "BroadcastNestedLoopJoin(bounded-centroid-broadcast ~sqrt(N), by design)"
BOUNDED_BNLJ_OK = {
    "d09_cosine_topk_bruteforce": "BroadcastNestedLoopJoin(bounded-query-broadcast, by design)",
    "d14_ann_ivf": _CENTROID_BNLJ,
    "d37_ann_ivf_nprobe2": _CENTROID_BNLJ,
    "d44_semantic_cluster_profile": _CENTROID_BNLJ,
    # r6: the IVF-PQ query path and SemDeDup both assign corpus (and,
    # for d58, query) vectors via ivf_assign's bounded centroid
    # broadcast — the same nearest-centroid cost as d14.
    "d58_ivfpq_adc_topk": _CENTROID_BNLJ,
    "d60_semdedup": _CENTROID_BNLJ,
    # the upper-triangle pairing of the per-source size table with
    # itself: both sides are <= #sources rows (driver-scale metadata),
    # so the nested loop is sources^2 — bounded by design.
    "d48_source_overlap_matrix": "BroadcastNestedLoopJoin(bounded-source-pair-broadcast <= sources^2, by design)",
    # r8: d83/d85/d86 are d09's contract — a bounded 10-query panel
    # broadcast against the streaming corpus (d86 additionally probes
    # centroid-free exact top-k, so no centroid BNLJ appears).
    "d83_hard_negative_mining": "BroadcastNestedLoopJoin(bounded-query-broadcast, by design)",
    "d85_embedding_alignment_eval": "BroadcastNestedLoopJoin(bounded-query-broadcast, by design)",
    "d86_knn_label_probe": "BroadcastNestedLoopJoin(bounded-query-broadcast, by design)",
    # d82 runs two ADC arms (centroid assignment per arm) plus the
    # broadcast ground-truth panel — both bounded by design.
    "d82_ivfpq_recall": _CENTROID_BNLJ,
    "d84_cluster_balanced_sampling": _CENTROID_BNLJ,
    # e27's dense grid: enum-small type dimension x the calendar-
    # bounded day spine (the e15/p72 shape as a cross join).
    "e27_cusum_changepoint": "BroadcastNestedLoopJoin(bounded calendar-grid: types x day spine, by design)",
}

# Hand-pinned notes that must survive regeneration — keyed by query.
NOTES = {
    "s01_stream_tumbling_hour": (
        "Note (round 12): this section is captured from the finished "
        "streaming query's lastExecution — the final micro-batch's "
        "EXECUTED IncrementalExecution plan, with the "
        "StateStoreRestore/Save pair around the windowed aggregate "
        "and the REQUIRED_BY_STATEFUL_OPERATOR exchange — replacing "
        "the previous citation to batch twin e01. The 'post-loop "
        "tail' is the memory-sink table the driver reads."
    ),
    "s25_stream_cluster_maintenance": (
        "Note (round 12): the per-batch captures below are the CC "
        "merge rounds of each foreachBatch invocation (same hook as "
        "the batch lane) plus the source-side last micro-batch plan "
        "from lastExecution; the post-loop tail is the final cluster "
        "rollup over the merged standing state."
    ),
    "d07_dedup_minhash_lsh": (
        "Note (round 9): the scan/exchange jump vs r8 (6→24 static "
        "scans, 16→33 printed exchanges) is the skew-guard's "
        "persisted banded set re-printing its upstream chain per "
        "consumer — a printer artifact, same class as d56's. At "
        "runtime the adaptive guard's hot-key probe is one map-side "
        "aggregate over the cached banded rows, and with no bucket "
        "over HOT_BAND_CAP (the case here) the pair join is the same "
        "plain two-exchange self-join as before the guard; measured "
        "idle-box steady state is 1.80 s vs the 1.55 s pin. The same "
        "artifact explains d12/d29's printed-count jumps."
    ),
    "d99_weighted_neardup_clusters": (
        "Note: the production near-dup cluster default — exact "
        "collapse sizes every downstream structure by DISTINCT "
        "content; the SMJ is the rep-collapse groupBy feeding the "
        "banding, the BHJ the token join back. Duplication-invariance "
        "and d65 parity are pytest-pinned; 100× duplication measured "
        "FLAT (6.5→6.8 s, SCALING.md)."
    ),
    "m10_image_neardup_clusters": (
        "Note (round 9, accepted trade): m10's dHash band (3, 0) — "
        "the top-16-bits-zero band short texts produce — holds 3161 "
        "members at sf0.1, OVER the hot-band cap, so the skew guard "
        "fires on stock data and splits it into a salted 2×2 grid: "
        "~1.4× the r8 pin at bench scale buys the task-size bound "
        "that survives the decade (the band grows linearly with the "
        "corpus; unguarded, its single task goes quadratic). Pair "
        "set bit-identical either way (pytest-pinned)."
    ),
    "d56_end_to_end_curation": (
        "Note: the static scan count is an InMemoryRelation-printing "
        "artifact — the five-stage DAG persists three intermediates "
        "(the distinct shingle set, the leaky train-doc set and the "
        "final kept-doc set), and "
        "the printer re-prints each cached branch's documents scan "
        "once per consumer. At runtime the corpus is scanned a "
        "handful of times (shingles once via the cache, the "
        "clean/redact/chunk pass, and the mixture stats), all served "
        "through InMemoryTableScan; there is no per-stage rescan and "
        "no nested-loop join anywhere (the min-across-sources "
        "threshold is a window over the <= #sources-row aggregate). "
        "Persisting the leaky set raised the printed counts (each "
        "consumer re-prints it) while the test x train overlap "
        "aggregate now runs once: 41 completed stages at sf0.1, 59 "
        "when it was inlined per consumer."
    ),
    "d48_source_overlap_matrix": (
        "Note: the static plan prints the documents scan once per "
        "consumer of the cached distinct (source, shingle) set "
        "(`tracked_persist`); at runtime the InMemoryTableScan serves "
        "all three consumers (sizes + both join sides), so the corpus "
        "is scanned ONCE. The BNLJ is the upper-triangle pairing of "
        "the <= #sources-row size table with itself."
    ),
    "d47_chunk_substring_dedup": (
        "Note: the two documents scans are deliberate (occurrence "
        "totals + survivor-per-chunk branches). Caching the exploded "
        "chunk table to save a scan would persist an intermediate "
        "LARGER than the corpus — the same scans-beat-caching trade "
        "the BM25 path pins (`retrieval.py`). Both branches collapse "
        "map-side; no window over the chunk key anywhere, so a viral "
        "chunk never serializes through one task."
    ),
    "e12_event_transition_matrix": (
        "Note: the static plan prints the events scan once per "
        "consumer of the cached <= types^2-row transition rollup "
        "(`tracked_persist`); at runtime the InMemoryTableScan serves "
        "both the output and the normalizing totals — the lead-window "
        "pass over events runs ONCE."
    ),
    "e11_event_rate_anomalies": (
        "Note: the static plan prints the events scan once per "
        "consumer of the cached hourly rollup (`tracked_persist`); at "
        "runtime the InMemoryTableScan serves both the stats build "
        "and the probe side — events is scanned ONCE."
    ),
    "d42_domain_mixture_downsample": (
        "Note: the static plan prints the documents scan once per "
        "consumer of the cached (source x 65536)-bucket histogram "
        "(`tracked_persist`); at runtime the InMemoryTableScan serves "
        "all three consumers, so the corpus is scanned ONCE. The "
        "min-across-sources threshold is a window over the <= "
        "#sources-row aggregate (no nested-loop join); the thr/kept "
        "joins are source-cardinality broadcasts."
    ),
    "e15_hourly_gap_fill": (
        "Note: the flagged BNLJ is the bounded calendar-grid cross "
        "join — the dense hour spine (calendar-sized, generated from "
        "the 1-row min/max span aggregate via SEQUENCE) x the "
        "broadcast distinct-event-type dimension, the same grid "
        "e24/e25 reuse. Spine rows ∝ elapsed hours and the type "
        "dimension is enum-small; neither side scales with event "
        "volume, so the product is calendar x types, not a data "
        "cartesian."
    ),
    "p72_calendar_gap_fill": (
        "Note: the flagged BNLJ is the bounded calendar-grid cross "
        "join — the generated month spine (SEQUENCE over the 1-row "
        "min/max order-date span) x the nation-joined customer "
        "dimension. Spine rows ∝ elapsed months (dozens); the grid is "
        "months x customers, then LEFT-joined to the monthly order "
        "rollup — the standard dense-report-grid shape, not a data "
        "cartesian (no side scales with order volume)."
    ),
    "e25_seasonal_rebaseline": (
        "Note: the five flagged BNLJs are ONE bounded cross join — "
        "e24's calendar-spine x broadcast-type-dimension grid "
        "(shared `_dense_hourly_grid`), re-printed per consumer of "
        "the persisted grid (the flat stats, the seasonal stats, the "
        "probe, and the n_hours branch); at runtime the "
        "InMemoryTableScan serves every consumer, so the grid and "
        "the events scan beneath it materialize ONCE. Neither cross "
        "join side scales with event volume."
    ),
    "e24_diurnal_autocorrelation": (
        "Note: the three flagged BNLJs are ONE bounded cross join — "
        "the dense hour spine (calendar-sized, from the 1-row span "
        "aggregate) x the broadcast distinct-type dimension, the same "
        "grid e15 pins — printed three times because the persisted "
        "grid's lineage re-prints per consumer (n_hours + the lag-1 "
        "and lag-24 correlation branches); at runtime the "
        "InMemoryTableScan serves all three, so the grid (and the "
        "events scan beneath it) materializes ONCE. Neither side of "
        "the cross join scales with event volume."
    ),
    "q11_important_part_value": (
        "Note: the static plan prints the natline→per_part subtree "
        "twice (probe rows + the scalar cutoff broadcast), but the "
        "adaptive EXECUTED plan replaces the duplicate with a "
        "`ReusedExchange` of the per_part shuffle — lineitem is "
        "scanned once at runtime. Verified via "
        "`queryExecution().executedPlan()` (isFinalPlan=true)."
    ),
    "d09_cosine_topk_bruteforce": (
        "Note (perf trade, pinned deliberately): the two-phase "
        "`grouped_topk` rewrite costs ~0.4 s extra at sf0.1 versus the "
        "old single-window form, but removes the single-reducer-per-"
        "group window bottleneck — at cluster scale the old plan "
        "serialized each query-group's candidates through one task. "
        "The regression is accepted by design; see `operators/topk.py`."
    ),
}

JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
)


def _node_depth(line: str) -> int:
    """Column where the operator name starts in a plan-tree line
    (the tree prefix is drawn with spaces, ':', '+', '-' and '*')."""
    m = re.match(r"[\s:+\-]*(?:\*\(\d+\)\s*)?", line)
    return m.end()


def _subtree(lines: list[str], i: int) -> list[str]:
    """Plan-tree lines strictly below node ``i`` (deeper indent, until
    the next sibling/ancestor)."""
    d = _node_depth(lines[i])
    sub = []
    for nxt in lines[i + 1 :]:
        if nxt.strip() and _node_depth(nxt) <= d:
            break
        sub.append(nxt)
    return sub


def classify_bnlj(plan: str) -> dict[str, int]:
    """Split BroadcastNestedLoopJoin occurrences into scalar-broadcast
    (the BUILD side is a 1-row global aggregate — ``keys=[]`` — i.e. a
    broadcast of corpus statistics, cost O(rows), benign) vs NON-SCALAR
    (a genuine nested-loop over a multi-row side — the cartesian risk
    the audit exists to catch).

    The scalar check looks only under the BroadcastExchange/
    BroadcastQueryStage node that is the join's own BUILD side — a
    DIRECT child of the BNLJ node, not merely the first broadcast
    anywhere in the subtree (the streamed side may contain broadcast
    dim joins of its own, as in q11). A multi-row nested loop whose
    STREAMED side contains a global aggregate must still be flagged.
    If no direct-child broadcast node is visible (e.g. a
    ReusedExchange pointer), the check conservatively falls back to
    the whole subtree."""
    lines = plan.splitlines()
    out = {"scalar": 0, "non_scalar": 0}
    agg = re.compile(r"Aggregate\((?:keys|key)=\[\]")
    for i, ln in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in ln:
            continue
        subtree = _subtree(lines, i)
        build_side: list[str] | None = None
        if subtree:
            child_depth = min(
                _node_depth(s) for s in subtree if s.strip()
            )
            for j, s in enumerate(subtree):
                if _node_depth(s) != child_depth:
                    continue  # not a direct child of the join
                if "BroadcastExchange" in s or "BroadcastQueryStage" in s:
                    # the build side = the broadcast child + what feeds it
                    build_side = [s] + _subtree(subtree, j)
                    break
        scope = build_side if build_side is not None else subtree
        scalar = any(agg.search(s) for s in scope)
        out["scalar" if scalar else "non_scalar"] += 1
    return out


def _guard_lines(log_start: int) -> list[str]:
    """Render skew-guard probe records appended since ``log_start``
    (guard observability, round-10): which consumers probed, whether
    the hot-bucket grid fired, and how hard."""
    from data_engineer_project_spark.operators.dedup import GUARD_STATS_LOG

    recs = GUARD_STATS_LOG[log_start:]
    if not recs:
        return []
    rendered = ", ".join(
        f"{r['consumer'] or 'anon'}: {r['path']}"
        + (
            f" (hot_buckets={r['hot_buckets']}, max_nsplit={r['max_nsplit']})"
            if r["path"] == "grid"
            else ""
        )
        for r in recs
    )
    return [f"- skew guard: {rendered}"]


def summarize_plan(plan: str, name: str, indent: str = "") -> list[str]:
    """The scale-relevant plan facts as markdown bullets — shared by
    the lazy-query audit and the captured per-iteration plans."""
    lines: list[str] = []
    scans = [ln.strip() for ln in plan.splitlines() if "FileScan parquet" in ln]
    lines.append(f"{indent}- scans: {len(scans)}")
    # Identical scan lines collapse to one entry with a multiplicity:
    # the static printer re-prints a cached branch's scan once per
    # consumer (tracked_persist lineage inside InMemoryRelation), so a
    # deep cached DAG would otherwise list one runtime scan 100+ times.
    scan_counts: dict[str, int] = {}
    for s in scans:
        table = re.search(r"FileScan parquet \[?([^\]\s]*)", s)
        # no closing-] requirement: Spark truncates long scan lines
        pushed = re.search(r"PushedFilters: \[([^\]]*)", s)
        schema = re.search(r"ReadSchema: struct<([^>]*)", s)
        ncols = len(schema.group(1).split(",")) if schema and schema.group(1) else 0
        pushed_txt = (
            pushed.group(1).split(", ReadSchema")[0][:120] if pushed else ""
        )
        key = f"{indent}  - cols read: {ncols}; pushed: [{pushed_txt}]"
        scan_counts[key] = scan_counts.get(key, 0) + 1
    for key, n in scan_counts.items():
        lines.append(key if n == 1 else f"{key} ×{n} static prints")
    joins = {k: plan.count(k) for k in JOIN_KINDS if plan.count(k)}
    bnlj = classify_bnlj(plan)
    if bnlj["scalar"]:
        joins["BroadcastNestedLoopJoin(scalar-stats-broadcast, benign)"] = bnlj["scalar"]
    if bnlj["non_scalar"]:
        label = BOUNDED_BNLJ_OK.get(
            name, "BroadcastNestedLoopJoin(NON-SCALAR — cartesian risk!)"
        )
        joins[label] = bnlj["non_scalar"]
    lines.append(f"{indent}- joins: {joins if joins else 'none'}")
    lines.append(f"{indent}- exchanges (shuffles): {plan.count('Exchange ')}")
    py = [k for k in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas") if k in plan]
    lines.append(f"{indent}- python stages: {py if py else 'none (fully JVM/codegen)'}")
    lines.append(f"{indent}- adaptive: {'yes' if 'AdaptiveSparkPlan' in plan else 'no'}")
    if "partial_" in plan:
        lines.append(f"{indent}- map-side partial aggregation: yes")
    # streaming micro-batch plans (grab_stream captures): surface the
    # stateful-operator evidence the batch lane never shows
    stateful = {
        k: plan.count(k)
        for k in (
            "StateStoreRestore",
            "StateStoreSave",
            "SessionWindowStateStore",
            "StreamingDeduplicate",
            "StreamingSymmetricHashJoin",
            "FlatMapGroupsWithState",
        )
        if plan.count(k)
    }
    if stateful:
        lines.append(f"{indent}- stateful streaming operators: {stateful}")
        m = re.search(r"REQUIRED_BY_STATEFUL_OPERATOR", plan)
        if m:
            lines.append(
                f"{indent}- state-store partitioning exchange: yes "
                "(REQUIRED_BY_STATEFUL_OPERATOR)"
            )
    return lines


def audit_one(spark, name: str, sf_dir: str) -> list[str]:
    from data_engineer_project_spark.operators.dedup import GUARD_STATS_LOG

    log_start = len(GUARD_STATS_LOG)
    df = QUERIES[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines: list[str] = [f"## {name}", ""]
    doc = (QUERIES[name].doc or "").strip().splitlines()
    if doc:
        lines += [f"> {doc[0].strip()}", ""]
    if name in NOTES:
        lines += [NOTES[name], ""]
    lines += summarize_plan(plan, name)
    lines += _guard_lines(log_start)
    lines.append("")
    return lines


def audit_loop_at_build(spark, name: str, sf_dir: str) -> list[str]:
    """Audit a query whose iterative loop executes while the DataFrame
    is BUILT: enable the plancap hook, build the query (this runs the
    loop), then render every captured per-iteration stage plan through
    the same summarizer — the pair join feeding CC, one pointer-jump
    round, one power-iteration round — plus the final (post-loop)
    plan and the guard probes."""
    from data_engineer_project_spark.operators import plancap
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.operators.dedup import GUARD_STATS_LOG

    log_start = len(GUARD_STATS_LOG)
    plancap.enable()
    try:
        df = QUERIES[name].fn(spark, sf_dir)
        final_plan = df._jdf.queryExecution().executedPlan().toString()
        captures = list(plancap.CAPTURES)
    except Exception as e:  # keep the audit best-effort
        release_all()
        return [f"## {name}", "", f"- build failed ({type(e).__name__})", ""]
    finally:
        plancap.disable()
    release_all()

    lines: list[str] = [f"## {name}", ""]
    doc = (QUERIES[name].doc or "").strip().splitlines()
    if doc:
        lines += [f"> {doc[0].strip()}", ""]
    if name in NOTES:
        lines += [NOTES[name], ""]
    lines += [
        "Loop-at-build query: the iteration executes during DataFrame",
        "construction, so each captured stage below is one",
        "representative iteration's plan (frozen by the plancap hook),",
        "followed by the post-loop tail the lazy audit would show.",
        "Scan counts inside iteration captures are the usual static-",
        "printer artifact: the persisted edge/input set's lineage",
        "re-prints once per consumer (at runtime every consumer reads",
        "the one InMemoryTableScan / checkpointed block).",
        "",
    ]
    totals: dict[str, int] = {}
    for label, _ in captures:
        totals[label] = totals.get(label, 0) + 1
    seen: dict[str, int] = {}
    for label, plan in captures:
        seen[label] = seen.get(label, 0) + 1
        suffix = f" #{seen[label]}" if totals[label] > 1 else ""
        lines.append(f"### captured: {label}{suffix}")
        lines.append("")
        lines += summarize_plan(plan, name)
        lines.append("")
    lines.append("### post-loop tail (returned frame)")
    lines.append("")
    lines += summarize_plan(final_plan, name)
    lines += _guard_lines(log_start)
    lines.append("")
    return lines


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    if "--sf" in argv:
        sf_dir = argv[argv.index("--sf") + 1]
    if "-o" in argv:
        out = argv[argv.index("-o") + 1]

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    body = [
        "# PLANS — physical-plan audit of the benchmark queries",
        "",
        f"Generated by `python tools/plan_audit.py` at {sf_dir}. Asserted",
        "invariants live in `tests/test_plans.py`; this file is the full",
        "inventory for review. Streaming (s*) queries are excluded —",
        "their micro-batch plans are exercised in `tests/test_streaming.py`.",
        "",
    ]
    # dict.fromkeys: a query promoted into the bench list stays listed
    # in EXTRA_QUERIES history without being audited (and printed) twice.
    # Iterative-loop queries (connected components, power iteration)
    # EXECUTE while their DataFrame is built — explaining the returned
    # frame would run the whole query and record only the
    # post-localCheckpoint tail, so they go through audit_loop_at_build
    # below (plancap hook: one representative iteration's plan each).
    LOOP_EXECUTES_AT_BUILD = {
        "m10_image_neardup_clusters",
        # r10: both run CC (and d101 builds/reads its store) at build
        "m18_image_neardup_verified",
        "d101_incremental_cluster_merge",
        "d73_power_iteration_top_pc",
        "d74_pagerank_canonical_doc",
        "d75_bpe_encode_compression",
        "d77_ivfpq_rerank_topk",
        "d89_weighted_pagerank_canonical",
    }
    for name in dict.fromkeys(BENCH_QUERIES + EXTRA_QUERIES):
        if name.startswith("s") or name in LOOP_EXECUTES_AT_BUILD:
            continue
        body += audit_one(spark, name, sf_dir)

    # Loop-at-build queries (CC / power iteration / training loops):
    # full sections via the plancap hook — one representative
    # iteration's plan each, plus the post-loop tail and guard probes
    # (round 11; previously only the guard probe line was recordable).
    for name in sorted(LOOP_EXECUTES_AT_BUILD):
        if name not in QUERIES:
            continue
        body += audit_loop_at_build(spark, name, sf_dir)

    # Streaming bench slots (round 12): the stream EXECUTES while the
    # query function runs, and run_to_memory_table / the foreachBatch
    # runner hand the finished StreamingQuery to plancap.grab_stream —
    # so these sections carry the REAL last-micro-batch
    # IncrementalExecution plan (StateStoreRestore/Save pair, the
    # REQUIRED_BY_STATEFUL_OPERATOR exchange, map-side partial
    # aggregation), not a citation to the batch twin. s25's section
    # additionally captures one batch's CC merge rounds via the same
    # hook the batch lane uses.
    body += [
        "# Streaming bench slots — micro-batch executed plans",
        "",
        "Each section below is captured from the finished streaming",
        "query's lastExecution (the final micro-batch's EXECUTED plan),",
        "via the plancap grab_stream hook inside the runners.",
        "",
    ]
    for name in ("s01_stream_tumbling_hour", "s25_stream_cluster_maintenance"):
        if name in QUERIES:
            body += audit_loop_at_build(spark, name, sf_dir)

    with open(out, "w") as f:
        f.write("\n".join(body))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
