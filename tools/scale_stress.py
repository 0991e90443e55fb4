"""10x pressure harness (round 6): iterative/stateful operators beyond
sf0.1.

The per-round SCALING.md table stops at sf0.1; the operators whose cost
model is ITERATIVE (m10's connected components) or STATEFUL (s04's
per-user state) deserve a direct look at the next decade. This tool
synthesizes an sf1-equivalent corpus from sf0.1 — documents replicated
``factor`` times with shifted doc_ids (10x images, 10x chunk mass,
replica cliques for the near-dup graph), events replicated with shifted
event/user ids and time-shifted stamps (10x distinct users => 10x
streaming state; 10x distinct hours) — then measures:

- m10_image_neardup_clusters: wall time + CC path and rounds (graph.LAST_RUN_STATS),
  asserting rounds stay in the O(log diameter) regime;
- d47_chunk_substring_dedup: wall time (keep-first min(struct) under 10x
  hot-chunk multiplicity);
- d45_epoch_shuffle: wall time + shard count (corpus-derived shards must
  grow so per-shard rank windows stay bounded);
- s04 stateful_user_stats: wall time + state rows / state memory from the
  streaming progress stateOperators metrics.

Usage: python tools/scale_stress.py [factor] [sf_dir]
Prints one JSON line per (op, scale) measurement; paste into SCALING.md.
Synthesized data lives in a temp dir and is removed on exit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def synth(sf_dir: str, out_dir: str, factor: int) -> None:
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    stride = pc.max(docs["doc_id"]).as_py() + 1
    i_doc = docs.schema.get_field_index("doc_id")
    pq.write_table(
        pa.concat_tables(
            docs.set_column(
                i_doc, "doc_id", pc.add(docs["doc_id"], k * stride)
            )
            for k in range(factor)
        ),
        f"{out_dir}/documents.parquet",
    )

    ev = pq.read_table(f"{sf_dir}/events.parquet")
    e_stride = pc.max(ev["event_id"]).as_py() + 1
    u_stride = pc.max(ev["user_id"]).as_py() + 1
    tmin = pc.min(ev["ts"]).as_py()
    tmax = pc.max(ev["ts"]).as_py()
    span_us = int((tmax - tmin).total_seconds() * 1_000_000) + 3_600_000_000
    i_eid = ev.schema.get_field_index("event_id")
    i_uid = ev.schema.get_field_index("user_id")
    i_ts = ev.schema.get_field_index("ts")
    parts = []
    for k in range(factor):
        t = ev.set_column(i_eid, "event_id", pc.add(ev["event_id"], k * e_stride))
        t = t.set_column(i_uid, "user_id", pc.add(ev["user_id"], k * u_stride))
        shifted = pc.add(
            ev["ts"].cast(pa.timestamp("us")),
            pa.scalar(k * span_us, type=pa.duration("us")),
        )
        t = t.set_column(i_ts, "ts", shifted)
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/events.parquet")

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    v_stride = pc.max(emb["vec_id"]).as_py() + 1
    i_vid = emb.schema.get_field_index("vec_id")
    pq.write_table(
        pa.concat_tables(
            emb.set_column(i_vid, "vec_id", pc.add(emb["vec_id"], k * v_stride))
            for k in range(factor)
        ),
        f"{out_dir}/embeddings.parquet",
    )

    for t in TABLES:
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"), dst)


def measure(spark, sf_dir: str, scale_label: str, runs: int = 2) -> list[dict]:
    from data_engineer_project_spark.operators import graph as G
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES
    from data_engineer_project_spark.streaming import read_event_stream
    from data_engineer_project_spark.streaming.events import stateful_user_stats

    out = []

    def emit(rec):
        # Print as soon as measured: a crash in a later op must not
        # lose earlier rows (round-7 lesson — the first fifth-wave
        # sweep died on its LAST extractor with zero rows printed).
        print(json.dumps(rec), flush=True)
        out.append(rec)

    def timed(fn):
        best, extra = None, {}
        for _ in range(runs):
            t0 = time.time()
            extra = fn() or {}
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            release_all()
        return best, extra

    def run_query(name, extract=None):
        def go():
            rows = QUERIES[name].fn(spark, sf_dir).collect()
            return extract(rows) if extract else {}

        sec, extra = timed(go)
        emit({"op": name, "scale": scale_label, "sec": round(sec, 2), **extra})

    run_query(
        "m10_image_neardup_clusters",
        lambda rows: {
            "cc_path": G.LAST_RUN_STATS.get("path"),
            "cc_rounds": G.LAST_RUN_STATS.get("rounds"),
            "converged": G.LAST_RUN_STATS.get("converged"),
            "n_clusters": len(rows),
        },
    )
    run_query("d47_chunk_substring_dedup")
    run_query("d45_epoch_shuffle", lambda rows: {"n_shards": len(rows)})

    # Round-7 addition: the composed curation DAGs. d56 chains five
    # audited stages with two persisted intermediates — measure wall
    # AND the peak persisted footprint (memory + disk across all
    # cached RDDs, read before release_all) so the shingle
    # tracked_persist's growth is a recorded number, not an assumption.
    def d56():
        def go():
            rows = QUERIES["d56_end_to_end_curation"].fn(spark, sf_dir).collect()
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            cached = sum(i.memSize() + i.diskSize() for i in infos)
            return {
                "n_shards": len(rows),
                "persisted_mb": round(cached / 1e6, 1),
            }

        sec, extra = timed(go)
        emit(
            {
                "op": "d56_end_to_end_curation",
                "scale": scale_label,
                "sec": round(sec, 2),
                **extra,
            }
        )

    d56()
    # s16 — the streaming front door: the registered fn runs the
    # availableNow stream to completion; its only state is the bounded
    # (source x lang) complete-mode tally.
    run_query(
        "s16_stream_curation_front_door",
        lambda rows: {"out_rows": len(rows)},
    )
    # d64 — the incremental rebuild: prices the between-rebuilds path
    # (frozen-artifact door + metadata re-shard) at the same scales as
    # the full d56 rebuild above.
    run_query(
        "d64_incremental_curation_rebuild",
        lambda rows: {"n_shards": len(rows)},
    )
    # d65 — doc-level near-dup clustering: the text twin of m10's CC
    # measurement (replica corpora grow the dup cliques 10x).
    run_query(
        "d65_neardup_doc_clusters",
        lambda rows: {
            "cc_path": G.LAST_RUN_STATS.get("path"),
            "cc_rounds": G.LAST_RUN_STATS.get("rounds"),
            "converged": G.LAST_RUN_STATS.get("converged"),
            "n_clusters": len(rows),
        },
    )

    def s04():
        name = f"stress_s04_{scale_label}_{int(time.time() * 1000)}"
        q = (
            stateful_user_stats(read_event_stream(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state_rows = state_bytes = 0
        for p in q.recentProgress:
            for so in p.get("stateOperators", []):
                state_rows = max(state_rows, so.get("numRowsTotal", 0))
                state_bytes = max(state_bytes, so.get("memoryUsedBytes", 0))
        n_out = spark.table(name).count()
        return {
            "state_rows": state_rows,
            "state_mb": round(state_bytes / 1e6, 1),
            "out_rows": n_out,
        }

    sec, extra = timed(s04)
    emit(
        {"op": "s04_stateful_user_stats", "scale": scale_label, "sec": round(sec, 2), **extra}
    )

    # Round-7 second wave: the sketches must stay SIZE-INVARIANT under
    # 10x data (that is their entire value proposition), the iterative
    # operators must keep their fixed round counts, and d73's int64
    # headroom guard must hold at the synthesized decade.
    run_query(
        "d72_hll_distinct_sketch",
        lambda rows: {
            "registers_used": rows[0].registers_used,
            "exact_distinct": rows[0].exact_distinct,
            "rel_error": round(rows[0].rel_error, 4),
        },
    )
    run_query(
        "d73_power_iteration_top_pc",
        lambda rows: {"rounds": 3, "eigval": round(rows[0].eigval_quantized, 1)},
    )
    run_query(
        "d74_pagerank_canonical_doc",
        lambda rows: {
            "cc_path": G.LAST_RUN_STATS.get("path"),
            "cc_rounds": G.LAST_RUN_STATS.get("rounds"),
            "n_clusters": len(rows),
            "agree_pct": round(
                100.0 * sum(r.same_pick for r in rows) / len(rows), 1
            ),
        },
    )
    run_query(
        "s19_stream_bloom_gate",
        lambda rows: {"survivors": len(rows), "bitset_words": 2048},
    )

    # Round-7 fifth wave. e25's grid is calendar x types — the 10x
    # synthesis time-shifts replicas so the SPAN grows 10x and the
    # grid must grow linearly in wall-clock hours (not in events);
    # d80's cost is the corpus-linear docfreq fold (output fixed at
    # 3 x 20 rows); s21's counter grid must stay <= d*w = 3072 rows
    # at ANY event volume (the CMS size-invariance claim), read back
    # from the memory sink after the run.
    run_query(
        "e25_seasonal_rebaseline",
        lambda rows: {
            "n_types": len(rows),
            "n_hours": rows[0].n_hours,
            "flat_flags": sum(r.n_flag_flat for r in rows),
            "seasonal_flags": sum(r.n_flag_seasonal for r in rows),
        },
    )
    run_query(
        "d80_tfidf_doc_keywords",
        lambda rows: {"out_rows": len(rows)},
    )

    def s21():
        from data_engineer_project_spark.queries.streaming_queries import (
            s21_cms_grid,
        )
        from data_engineer_project_spark.sources.registry import (
            normalize_event_ts,
        )

        def go():
            rows = QUERIES["s21_stream_countmin_heavy_users"].fn(
                spark, sf_dir
            ).collect()
            # Counter-row count via the batch-identical fold (the
            # multibatch pin proves grid equality with the stream).
            grid_rows = s21_cms_grid(
                normalize_event_ts(
                    spark.read.parquet(f"{sf_dir}/events.parquet")
                )
            ).count()
            return {
                "counter_rows": grid_rows,
                "max_overestimate": max(r.overestimate for r in rows),
            }

        sec, extra = timed(go)
        emit(
            {
                "op": "s21_stream_countmin_heavy_users",
                "scale": scale_label,
                "sec": round(sec, 2),
                **extra,
            }
        )

    s21()

    # Round-7 sixth wave. d81's lean table must stay <= 256 rows at
    # ANY corpus size (the hashed-feature-space bound — DSIR's whole
    # point is that the model is fixed-size) while wall tracks the
    # corpus-linear tokenize+tally; e26's life table is CALENDAR-
    # bounded: the 10x synthesis time-shifts replicas so the span
    # (and the table) may grow ~10x in days while the per-day work is
    # a cohort-wide rollup — rows must stay tiny either way, and the
    # risk-set telescoping invariant (first n_risk == cohort) must hold
    # at both scales.
    run_query(
        "d81_dsir_hashed_importance",
        lambda rows: {
            "out_rows": len(rows),
            "lean_rows_bound": 256,
            "top_share": round(rows[0].vote_share, 4),
        },
    )
    run_query(
        "e26_km_conversion_survival",
        lambda rows: {
            "table_days": len(rows),
            "cohort": rows[0].n_risk,
            "final_survival": round(rows[-1].survival, 4),
        },
    )
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from data_engineer_project_spark.session import get_spark

    spark = get_spark("scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    results = measure(spark, sf_dir, "1x")
    tmp = tempfile.mkdtemp(prefix="stress_sf1_")
    try:
        synth(sf_dir, tmp, factor)
        results += measure(spark, tmp, f"{factor}x")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # rows were emitted as measured; nothing further to print
    assert results


if __name__ == "__main__":
    main()
