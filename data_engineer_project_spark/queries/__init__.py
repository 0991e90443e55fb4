from data_engineer_project_spark.queries.catalog import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
)

# Import modules for their registration side effects.
from data_engineer_project_spark.queries import tpch  # noqa: F401,E402
from data_engineer_project_spark.queries import practice  # noqa: F401,E402
from data_engineer_project_spark.queries import windows  # noqa: F401,E402
from data_engineer_project_spark.queries import llm_pipeline  # noqa: F401,E402
from data_engineer_project_spark.queries import healthcare  # noqa: F401,E402
from data_engineer_project_spark.queries import streaming_queries  # noqa: F401,E402
from data_engineer_project_spark.queries import multimodal_queries  # noqa: F401,E402

# The driver's correctness gate walks ``queries()`` in dict order and
# records only a prefix of it per round (~50 entries in round 1).
# Re-rank so queries with the fewest driver-verified green rows across
# ALL past CORRECTNESS_r*.json files come first — each round the gate
# then automatically covers the never-verified families (hq*
# reference parity, then d/e/s/m extensions, then untested p*) before
# re-checking already-green ones.  Names are frozen; only the
# iteration order changes.
import json as _json
from pathlib import Path as _Path

_FAMILY_RANK = {"h": 0, "d": 1, "e": 2, "s": 3, "m": 4, "p": 5, "q": 6}

# Queries whose result CONTRACT changed in a given round: driver-green
# rows recorded BEFORE that round verified the old contract, so they
# don't count toward "already checked" — the query re-enters the gate
# prefix until a fresh green row lands in round >= the listed one.
# (Round 4: d17 was promoted from a rows-only contract to a bounded
# hash-checkable one — its round-2 "green" verified only row
# production. Round 5: d31/d32 inherit the co-scaled LSH bands /
# sharded packing rewrites; d14/d37's centroid count is now
# corpus-derived.  Round 6: q12's oracle SUMs gained the explicit
# BIGINT cast every sibling already had — DuckDB typed the uncast
# SUM(int) as HUGEINT, so every prior driver row fingerprinted a
# superseded contract and q12 must lead the gate prefix.)
_CONTRACT_CHANGED_ROUND = {
    "d17_approx_aggregates": 4,
    "d14_ann_ivf": 5,
    "d31_semantic_decontamination": 5,
    "d32_sequence_packing": 5,
    "d37_ann_ivf_nprobe2": 5,
    "q12_late_shipment_priority": 6,
    # Round 8: m10 swapped its 16-bit block-mean hash for the 64-bit
    # difference hash (4×16-bit bands, Hamming ≤ 3) — clusters, hashes
    # and the oracle all changed, so prior greens verified the
    # superseded bucket-collapsing contract.
    "m10_image_neardup_clusters": 8,
    # Round 8: m04 emits sum_px (exact-integer pixel mass) alongside
    # the stats — the decode contract widened when the real
    # PNM/BMP decode path landed.
    "m04_decoded_pixel_stats": 8,
    # Round 9: d94 deduplicates query terms (BM25 query-as-set — a
    # word repeated in the 4-word query slice previously doubled the
    # joined document tf); scores/hashes changed in both engines.
    "d94_chunk_retrieval_eval": 9,
    # Round 10: the container rotation grew to SIX arms over doc_id %
    # 6 — pgm, bmp, png, lossless JPEG, gray-palette GIF, and TIFF —
    # so every m15/m16 row's container labels, verdict splits and size
    # arithmetic changed. (Round 9's pgm/bmp/png %3 rotation note is
    # subsumed; a duplicate-key literal here used to silently reset
    # these markers back to 9 — last key wins in a dict literal.)
    "m15_real_container_decode": 10,
    "m16_container_integrity_gate": 10,
}

# Gate ROTATION (distinct from a contract change): queries whose
# implementation materially changed in the listed round — same result
# contract, same hashes, but the executing code is new, so prior
# driver-green rows verified a superseded implementation and the
# driver should re-confirm on current code. Round 7: d55/d56/d60/d61
# dropped their forced broadcasts of data-dependent sets, e17 moved to
# exact integer hour division, d51 persists the Gram aggregate, and
# d14/d37/d44/d58/d60/s17 + the IVF path now read the materialized
# centroid table instead of training inline. s02–s09 rotate through
# because their only driver rows predate several rounds of shared-
# machinery changes (round-6 verdict item 6 asked for >= 5 s-family
# re-gates; the list was trimmed from s02–s15 — then to s02–s07 —
# and finally to s02–s05 + s17 (exactly five s-family regates) so
# every never-driver-gated round-7 addition (s17–s21, m14, d72–d81,
# e22–e26, hq34–hq35) fits inside the exactly-50-slot gate; s06–s15
# keep their earlier greens and rotate in a later round).
# Round 8: the deferred s06–s15 rotation lands (their only driver rows
# predate the round-5..7 shared-machinery changes — round-7 verdict
# item 2); the materialized-artifact readers re-gate because the store
# key changed (full-vector fingerprint + STORE_VERSION → every reader
# retrains once into a fresh artifact); d73 re-gates for the new
# countDistinct overflow guard and vanishing-iterate error path.
_REGATE_ROUND = {
    "d04_fingerprints": 7,  # min-shingle leg moved to the relational builder
    "d51_embedding_covariance": 7,
    "d55_clean_train_split": 7,
    "d56_end_to_end_curation": 7,
    "d61_decontamination_span_masking": 7,
    "e17_anomaly_episodes": 7,
    "s02_stream_sliding": 7,
    "s03_stream_sessionization": 7,
    "s04_stream_stateful_user_stats": 7,
    "s05_stream_static_join": 7,
    # -- round 8 --
    "s06_stream_stream_join": 8,
    "s07_stream_dedup": 8,
    "s08_stream_stream_left_outer": 8,
    "s09_incremental_rollup": 8,
    "s10_stream_quality_gate": 8,
    "s11_stream_dedup_against_corpus": 8,
    "s12_stream_append_final_windows": 8,
    "s13_stream_mixture_gate": 8,
    "s14_stream_rate_anomaly_gate": 8,
    "s15_stream_ohlc_bars": 8,
    # store-key change (full-vector fingerprint + STORE_VERSION):
    "d14_ann_ivf": 8,
    "d37_ann_ivf_nprobe2": 8,
    "d44_semantic_cluster_profile": 8,
    "d57_pq_codebook": 8,
    "d58_ivfpq_adc_topk": 8,
    "d60_semdedup": 8,
    "s17_stream_ivf_cell_ingestion": 8,
    "d77_ivfpq_rerank_topk": 8,
    "d73_power_iteration_top_pc": 8,  # new overflow-guard + loud zero-iterate path
    # -- round 9 --
    # Every banded-LSH consumer now routes its candidate self-join
    # through the hot-band skew guard (operators/dedup.py
    # skew_guarded_self_pairs): same pair set, new executing plan.
    "d07_dedup_minhash_lsh": 9,
    "d08_dedup_simhash": 9,  # simhash bucket join now skew-guarded too
    # ... and the remaining bucket self-joins (embedding sign-LSH,
    # video frame fingerprints, audio grams) routed through the same
    # guard — every intra-bucket pairing in the engine now shares it.
    "d13_embedding_near_dup": 9,
    "m11_video_neardup_pairs": 9,
    "m14_audio_neardup_pairs": 9,
    "d20_dedup_clusters": 9,
    "d26_quality_survivor": 9,
    "d29_minhash_estimator_quality": 9,
    "d65_neardup_doc_clusters": 9,
    "d74_pagerank_canonical_doc": 9,
    "d89_weighted_pagerank_canonical": 9,
    "m10_image_neardup_clusters": 9,
    # -- rounds 11+12 (latest round wins; one entry per query) --
    # Round 11 rekeyed the trained-artifact stores (corpus fingerprint
    # -> file manifest + plan), keyed d101's cluster store by manifest
    # + split geometry, and rewrote the JPEG/GIF/TIFF entropy decode
    # paths behind the m-family container slots. Round 12 rebuilt the
    # store keys again on plan_identity (semanticHash was not
    # cross-JVM-stable, so r11 keys were session-local), restored
    # palette-keyed GIF grayscale collapse (the round-10 contract),
    # and added progressive-JPEG end-of-scan truncation checks — so
    # the store readers and container-decode consumers regate at 12,
    # and the r11-only changes (WAV decode rework) at 11.
    "m20_wav_audio_neardup": 11,
    "d100_incremental_neardup_ingest": 12,
    "d101_incremental_cluster_merge": 12,
    "s25_stream_cluster_maintenance": 12,
    "m04_decoded_pixel_stats": 12,
    "m05_resize_metadata": 12,
    "m15_real_container_decode": 12,
    "m16_container_integrity_gate": 12,
    "m19_gif_animation_neardup": 12,
}
# store readers whose r8/r9 entries above are superseded by the r12
# plan_identity rekeying
_REGATE_ROUND.update(
    {
        "d14_ann_ivf": 12,
        "d37_ann_ivf_nprobe2": 12,
        "d44_semantic_cluster_profile": 12,
        "d57_pq_codebook": 12,
        "d58_ivfpq_adc_topk": 12,
        "d60_semdedup": 12,
        "d77_ivfpq_rerank_topk": 12,
        "s17_stream_ivf_cell_ingestion": 12,
    }
)
# -- round 13 --
# The real-container attach paths now fan small scans out to the
# session's core count before the codec Arrow stage
# (fanout_small — the m22 closing run measured a 32x idle-core
# waste on single-split parquet); same rows, new executing plan, so
# the consumers regate per the round-9 skew-guard precedent. (m22 is
# round-13-new and has no prior green to supersede.)
_REGATE_ROUND.update(
    {
        "m15_real_container_decode": 13,
        "m16_container_integrity_gate": 13,
        "m21_native_container_decode": 13,
    }
)
# -- round 14 --
# The streaming media gates now ride the guarded stream fan-out
# (fanout_small, sized by a batch scan of the stream's source — a
# micro-batch inherits the file source's single split, so the VP8L
# codec Arrow stages ran on one of 32 cores; measured: s27 10.33 s ->
# 4.56 s in headline context).
# s26's executing plan gained the exchange, so it regates per the
# round-9/13 precedent; s27 is round-14-new (no prior green).
_REGATE_ROUND.update({"s26_stream_media_integrity_gate": 14})
# Otherwise no regates: the r13 verdict's item-4 follow-up (extend
# fanout_small to the FAKE-payload attach_media path) was
# A/B-measured and REVERTED — the fake-decode Arrow stages are
# microseconds per payload, so the guarded exchange cost more than
# the parallelism bought (m02 idle min-of-6 0.573 s without vs
# 0.809 s with; m10 a wash). Negative result recorded in BASELINE.md
# so later rounds don't retry it; the executing plans are unchanged,
# so no consumer regates and the r14 gate drains the round-3 backlog
# (m06 + the p rows + the remaining q rows) as the r13 verdict
# item 5 prescribes.
# The 24 hq rows below were last driver-greened in ROUND 4; eight
# rounds of shared-machinery churn (fixture plumbing, oracle helpers,
# plan-capture hooks) sat between that green and today's code, and at
# eff=2 they could never outrank the 135-deep eff=1 pool through the
# 50-slot gate. The r12 verdict (item 5) prescribes regating the
# family the way rounds 8-12 did for s/d/m: a marker here makes their
# pre-13 greens historical-only, so they surface at the front of the
# r13 sample alongside the round-1 q*/p* rows. The hq oracles
# recompute the entire star/snowflake ETL in SQL, so each re-green is
# a full end-to-end pipeline proof, not just a SELECT check.
_REGATE_ROUND.update(
    {
        name: 13
        for name in (
            "hq01_row_counts",
            "hq02_active_enrollment_march",
            "hq03_special_status_members",
            "hq04_claims_member_plan",
            "hq05_lines_primary_proc_payment",
            "hq06_billed_allowed_paid_by_plan",
            "hq07_encounter_los",
            "hq08_open_gaps_by_program_measure",
            "hq09_tasks_interventions_per_user",
            "hq10_members_program_manager",
            "hq11_gap_closure_vs_interventions",
            "hq12_interventions_with_task",
            "hq13_claim_npi_provider",
            "hq14_cpt_contract_rate",
            "hq15_network_status_by_month",
            "hq16_contracts_per_plan",
            "hq17_icd_referential_check",
            "hq18_cpt_referential_check",
            "hq19_pos_referential_check",
            "hq20_dw_rowcount_dashboard",
            "hq21_unknown_sk_audit",
            "hq22_fact_rollup_by_plan",
            "hq23_active_membership_by_month",
            "hq24_gap_closure_by_measure",
        )
    }
)


def _green_counts_both(repo_root=None, cutoffs=None):
    """One pass over every CORRECTNESS_r*.json under ``repo_root``
    (default: this repo's root) producing BOTH tallies rank_names
    needs: (effective, historical, last_green). ``effective`` ignores
    green rows older than a query's _CONTRACT_CHANGED_ROUND /
    _REGATE_ROUND entry (they verified a superseded contract or
    implementation); ``historical`` counts every green row — the key
    that, when the zero-effective pool outgrows the driver's 50-slot
    gate, makes the slot that falls off a regate with a superseded
    green on record, never a query the driver has NEVER seen;
    ``last_green`` is the most recent round with an EFFECTIVE green —
    the staleness key (round 12): among equal effective counts, the
    row the driver has not re-proved for the longest ranks first, so
    a query green only in round 1 outranks one re-greened last round
    instead of losing the tie on family rank forever. Pure given a
    root — tests exercise future-round shapes via a tmp dir; pass
    ``cutoffs`` ({name: round}) to freeze the contract/regate view as
    of a past round instead of reading the live tables (the r14 fix
    for historical-prefix pins)."""
    effective: dict[str, int] = {}
    historical: dict[str, int] = {}
    last_green: dict[str, int] = {}
    if repo_root is None:
        repo_root = _Path(__file__).resolve().parents[2]
    for f in sorted(_Path(repo_root).glob("CORRECTNESS_r*.json")):
        try:
            file_round = int(f.stem.split("_r")[-1])
        except ValueError:
            file_round = 0
        try:
            recorded = _json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(recorded, dict):
            continue
        for name, res in recorded.items():
            if not isinstance(res, dict):
                continue
            # A declared rows-only query (err == "no_oracle") can never
            # hash-match; the driver ran it and it produced rows, which is
            # the strongest signal it will ever get.  Count it as checked
            # so it stops outranking hash-checkable queries every round.
            ok = (
                res.get("err") is None
                and res.get("rows_match", False)
                and res.get("schema_match", True) is not False
                and res.get("hash_match", True) is not False
            ) or (
                # "the driver ran it and recorded a row count" — 0 rows
                # still counts as checked (rows-only is a weaker
                # contract by design; what matters is that it executed).
                res.get("err") == "no_oracle"
                and res.get("spark_rows") is not None
            )
            if not ok:
                continue
            historical[name] = historical.get(name, 0) + 1
            cutoff = (
                cutoffs.get(name, 0)
                if cutoffs is not None
                # live view: the current contract/regate tables
                else max(
                    _CONTRACT_CHANGED_ROUND.get(name, 0),
                    _REGATE_ROUND.get(name, 0),
                )
            )
            if file_round >= cutoff:
                effective[name] = effective.get(name, 0) + 1
                if file_round > last_green.get(name, 0):
                    last_green[name] = file_round
    return effective, historical, last_green


def _green_counts(repo_root=None, respect_cutoffs=True) -> dict[str, int]:
    """Back-compat single-tally view of ``_green_counts_both`` (kept:
    tests and tools call it with either cutoff mode)."""
    eff, hist, _ = _green_counts_both(repo_root)
    return eff if respect_cutoffs else hist


def rank_names(names, greens, historical=None, last_green=None) -> list[str]:
    """Gate order for ``names`` given per-name green counts: fewest
    effective greens first; within the zero-effective block, queries
    the driver has NEVER seen (zero HISTORICAL greens too) precede
    regates/contract-changes whose superseded green at least proves
    the driver ran them — this guarantees that when the zero pool
    outgrows the driver's 50-slot gate, every slot that falls off has
    a driver row on record. STALENESS breaks count ties (round 12):
    the query whose latest effective green is OLDEST ranks first, so
    rows last proved in round 1 surface ahead of rows re-greened last
    round instead of losing on family rank forever (the r11 sample
    drew only recently-touched families while 34 p-rows sat at a
    round-1 green). Family rank, historical count, and registry index
    break remaining ties. The same keys whether the counts came from
    real round files or a test's synthetic ones."""
    hist = historical or {}
    last = last_green or {}
    return [
        n
        for _, n in sorted(
            ((i, n) for i, n in enumerate(names)),
            key=lambda item: (
                greens.get(item[1], 0),
                1 if hist.get(item[1], 0) > 0 else 0,
                last.get(item[1], 0),
                _FAMILY_RANK.get(item[1][0], 7),
                hist.get(item[1], 0),
                item[0],
            ),
        )
    ]


_GREENS, _HIST, _LAST_GREEN = _green_counts_both()
_reordered = {
    name: QUERIES[name]
    for name in rank_names(list(QUERIES), _GREENS, _HIST, _LAST_GREEN)
}
QUERIES.clear()
QUERIES.update(_reordered)
