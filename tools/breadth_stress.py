"""Corpus-BREADTH decade harness (round 10).

Every prior SCALING.md decade multiplies DUPLICATION: scale_stress.synth
replicates documents verbatim (shifted ids), so 10x data meant 10x
multiplicity inside the same near-dup cliques and the same band-key
space. That stresses the guard and the cluster contracts, but NOT the
axis that dominates at 100 TB: 10x more DISTINCT content — 10x the
band-key population, 10x the shuffle volume, 10x the cluster count,
with per-bucket populations unchanged.

This tool synthesizes a breadth decade from sf0.1:

- documents: replica k shifts doc_id by k*stride AND applies a
  per-replica AFFINE bijection over printable non-space characters
  (c -> 33 + ((c-33) * m_k + 7k) mod 94, m_k a unit mod 94). A
  char-wise bijection on tokens preserves WITHIN-replica pairwise
  Jaccard exactly (token equality is preserved), while making every
  shingle — hence every MinHash band key, exact-md5 fingerprint, AND
  every image byte the multimodal pipeline derives from the text —
  distinct across replicas. Two earlier transforms FAILED the image
  axis and are kept as cautionary notes: a token-suffix transform left
  byte statistics close enough that dHash matched replicas to their
  originals, and a pure Caesar shift (m=1) is a uniform BRIGHTNESS
  shift — dHash compares adjacent pixels, so it is invariant to
  constant offsets by construction. The multiplicative term scrambles
  byte ORDER, which is what the gradient hash actually sees.
  Expected: near-dup pairs / clusters scale x10 (output linear in
  corpus breadth), band buckets multiply, bucket populations hold.
- embeddings: replica k shifts vec_id and ROLLS the embedding vector by
  k*7+3 components — same norm, generically unrelated direction, so the
  ANN corpus gains 10x distinct vectors (not 10x copies).
- events: reuses scale_stress.synth's event logic (shifted event/user
  ids, time-shifted stamps — already a breadth transform).

Measured slots (>= 6 per the round-9 verdict "done" bar), each with the
invariants that certify linear behavior: wall time, output rows,
CC path and rounds (graph.LAST_RUN_STATS), candidate-pair volume (d07), and
skew-guard probe records (dedup.GUARD_STATS_LOG).

Usage: python tools/breadth_stress.py [factor] [sf_dir] [runs]
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
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_stress import TABLES, synth  # noqa: E402 (events/doc synth reuse)


def synth_breadth(sf_dir: str, out_dir: str, factor: int) -> None:
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    stride = pc.max(docs["doc_id"]).as_py() + 1
    i_doc = docs.schema.get_field_index("doc_id")
    i_txt = docs.schema.get_field_index("text")
    i_nch = docs.schema.get_field_index("n_chars")
    base_text = docs["text"].to_pylist()
    parts = [docs]
    # multipliers must be units mod 94 (= 2 x 47): odd, not a multiple
    # of 47. Pool sized to the factor; (m_k, shift_k) pairs stay
    # pairwise distinct (shifts cycle mod 94 but the multiplier pool
    # never repeats in the same position).
    units = [m for m in range(3, 9 + 4 * factor, 2) if m % 47][: factor]
    for k in range(1, factor):
        mult, shift = units[k - 1], (k * 7) % 94
        table = str.maketrans(
            {
                chr(c): chr(33 + ((c - 33) * mult + shift) % 94)
                for c in range(33, 127)
            }
        )
        texts = [t.translate(table) if t is not None else None for t in base_text]
        t = docs.set_column(i_doc, "doc_id", pc.add(docs["doc_id"], k * stride))
        t = t.set_column(i_txt, "text", pa.array(texts, type=pa.string()))
        # char-count-preserving bijection: n_chars carries over unchanged
        parts.append(t)
    del i_nch  # silence lint: schema index kept for symmetry/debugging
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/documents.parquet")

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    v_stride = pc.max(emb["vec_id"]).as_py() + 1
    i_vid = emb.schema.get_field_index("vec_id")
    i_vec = emb.schema.get_field_index("embedding")
    vecs = emb["embedding"].to_pylist()
    eparts = [emb]
    for k in range(1, factor):
        r = (k * 7 + 3) % (len(vecs[0]) if vecs and vecs[0] else 1)
        rolled = [v[r:] + v[:r] if v is not None else None for v in vecs]
        t = emb.set_column(i_vid, "vec_id", pc.add(emb["vec_id"], k * v_stride))
        t = t.set_column(
            i_vec, "embedding", pa.array(rolled, type=emb.schema.field(i_vec).type)
        )
        eparts.append(t)
    pq.write_table(pa.concat_tables(eparts), f"{out_dir}/embeddings.parquet")

    # events: scale_stress.synth's transform is already breadth (new
    # users, new hours). Run it into a scratch dir and take events only.
    with tempfile.TemporaryDirectory() as ev_tmp:
        synth(sf_dir, ev_tmp, factor)
        shutil.copy(f"{ev_tmp}/events.parquet", f"{out_dir}/events.parquet")

    for t in TABLES:
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"), dst)


def synth_breadth_media(sf_dir: str, out_dir: str, factor: int) -> None:
    """MEDIA-axis replica transform (round 11, closes the m18 breadth
    caveat): replica k maps every character's HIGH NIBBLE cyclically —
    h -> (h + k) mod 8, low nibble kept — so the byte map respects the
    verify's 16 histogram bins exactly.

    Why this shape (and why the round-10 affine bijection could not
    pin m18): the verify compares 16-bin byte histograms, so

    - WITHIN a replica, the map relabels bins injectively: every
      pair's histogram L1 distance and byte counts are BIT-IDENTICAL
      to the base pair's — verify decisions cannot flip (the affine
      map scattered byte values ACROSS bins, which perturbed
      borderline decisions — the round-10 footnote);
    - ACROSS replicas, the cyclic shifts pairwise agree on NO nibble,
      so a cross-replica pair of the same doc has fully disjoint bins
      (L1 = 2n, maximally far from the 0.25 threshold) — the verify
      rejects every cross pair, which position-only transforms
      (byte rotations) fundamentally cannot achieve: they keep the
      multiset, so same-doc cross pairs sit at distance 0 and any
      dHash coincidence merges replicas (measured: 35 clusters where
      75 are real on the first cut of this harness);
    - the dHash stage stays within its design bound: a pair differing
      in j block adjacencies has transformed Hamming <= j just like
      the base pair (the differing positions are the same bytes).

    The cyclic family caps at EIGHT pairwise-nowhere-agreeing maps
    (printable ASCII occupies 6 of 8 sub-0x80 high nibbles; at each
    nibble the family's images must be pairwise distinct), so factor
    <= 8 — the price of exactness at the verify, stated rather than
    silently degraded.

    For factor <= 3 an even STRONGER family exists and is used: the
    affine byte shifts c -> c - 16k (valid while printable ASCII stays
    >= 0, i.e. k <= 2). A uniform shift preserves every block-sum
    COMPARISON, so the dHash is bit-identical across replicas too —
    BOTH stages are exact within a replica, and the measured m10/m18
    contrast becomes the whole point: cross-replica copies of a doc
    share the hash (Hamming 0), so the hash-only diagnostic m10
    cross-merges every replica while m18's bin-shifted histograms
    reject the cross pairs."""
    if factor > 8:
        raise ValueError(
            "media breadth factor caps at 8: the bin-respecting cyclic "
            "family has exactly 8 pairwise-nowhere-agreeing members"
        )
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    stride = pc.max(docs["doc_id"]).as_py() + 1
    i_doc = docs.schema.get_field_index("doc_id")
    i_txt = docs.schema.get_field_index("text")
    base_text = docs["text"].to_pylist()
    parts = [docs]
    for k in range(1, factor):
        if factor <= 3:
            table = str.maketrans(
                {chr(c): chr(c - 16 * k) for c in range(16 * k, 128)}
            )
        else:
            table = str.maketrans(
                {
                    chr(c): chr(((((c >> 4) + k) % 8) << 4) | (c & 15))
                    for c in range(128)
                }
            )
        texts = [t.translate(table) if t is not None else None for t in base_text]
        t = docs.set_column(i_doc, "doc_id", pc.add(docs["doc_id"], k * stride))
        t = t.set_column(i_txt, "text", pa.array(texts, type=pa.string()))
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/documents.parquet")
    for t in TABLES:
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"), dst)


def measure_media(spark, sf_dir: str, scale_label: str, runs: int = 2) -> None:
    from data_engineer_project_spark.operators import graph as G
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    for name in ("m10_image_neardup_clusters", "m18_image_neardup_verified"):
        best, extra = None, {}
        for _ in range(runs):
            t0 = time.time()
            rows = QUERIES[name].fn(spark, sf_dir).collect()
            dt = time.time() - t0
            extra = {
                "n_clusters": len(rows),
                "cc_path": G.LAST_RUN_STATS.get("path"),
                "cc_rounds": G.LAST_RUN_STATS.get("rounds"),
            }
            best = dt if best is None else min(best, dt)
            release_all()
        print(
            json.dumps(
                {"op": name, "scale": scale_label, "sec": round(best, 2), **extra}
            ),
            flush=True,
        )


def measure(
    spark, sf_dir: str, scale_label: str, runs: int = 2, slots=None
) -> None:
    from data_engineer_project_spark.operators import dedup as DD
    from data_engineer_project_spark.operators import graph as G
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    def emit(rec):
        print(json.dumps(rec), flush=True)

    def run_query(name, extract=None):
        if slots is not None and not any(name.startswith(s) for s in slots):
            return
        best, extra = None, {}
        for _ in range(runs):
            g0 = len(DD.GUARD_STATS_LOG)
            t0 = time.time()
            rows = QUERIES[name].fn(spark, sf_dir).collect()
            dt = time.time() - t0
            guards = [
                {k: r[k] for k in ("consumer", "path", "hot_buckets", "max_nsplit")}
                for r in DD.GUARD_STATS_LOG[g0:]
            ]
            extra = extract(rows) if extract else {}
            if guards:
                extra["guards"] = guards
            best = dt if best is None else min(best, dt)
            release_all()
        emit({"op": name, "scale": scale_label, "sec": round(best, 2), **extra})

    run_query("d07_dedup_minhash_lsh", lambda rows: {"verified_pairs": len(rows)})
    run_query(
        "d99_weighted_neardup_clusters",
        lambda rows: {
            "n_clusters": len(rows),
            "cc_path": G.LAST_RUN_STATS.get("path"),
            "cc_rounds": G.LAST_RUN_STATS.get("rounds"),
            "converged": G.LAST_RUN_STATS.get("converged"),
        },
    )
    run_query(
        "m10_image_neardup_clusters",
        lambda rows: {
            "n_clusters": len(rows),
            "cc_path": G.LAST_RUN_STATS.get("path"),
            "cc_rounds": G.LAST_RUN_STATS.get("rounds"),
            "converged": G.LAST_RUN_STATS.get("converged"),
        },
    )
    run_query(
        "d89_weighted_pagerank_canonical",
        lambda rows: {
            "n_clusters": len(rows),
            "cc_path": G.LAST_RUN_STATS.get("path"),
            "cc_rounds": G.LAST_RUN_STATS.get("rounds"),
        },
    )
    run_query(
        "d74_pagerank_canonical_doc",
        lambda rows: {
            "n_clusters": len(rows),
            "cc_path": G.LAST_RUN_STATS.get("path"),
            "cc_rounds": G.LAST_RUN_STATS.get("rounds"),
        },
    )

    def d56():
        best, extra = None, {}
        for _ in range(runs):
            t0 = time.time()
            rows = QUERIES["d56_end_to_end_curation"].fn(spark, sf_dir).collect()
            dt = time.time() - t0
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            cached = sum(i.memSize() + i.diskSize() for i in infos)
            extra = {"n_shards": len(rows), "persisted_mb": round(cached / 1e6, 1)}
            best = dt if best is None else min(best, dt)
            release_all()
        emit(
            {
                "op": "d56_end_to_end_curation",
                "scale": scale_label,
                "sec": round(best, 2),
                **extra,
            }
        )

    if slots is None or any("d56".startswith(s) or s.startswith("d56") for s in slots):
        d56()
    run_query(
        "d100_incremental_neardup_ingest", lambda rows: {"verdict_rows": len(rows)}
    )
    run_query("e03_sessionization", lambda rows: {"n_sessions": len(rows)})
    run_query("d10_ann_lsh_bucketed", lambda rows: {"out_rows": len(rows)})


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--media" and not a.startswith("--slots")]
    media = "--media" in sys.argv[1:]
    slots = None
    for a in sys.argv[1:]:
        if a.startswith("--slots="):
            slots = tuple(s for s in a.split("=", 1)[1].split(",") if s)
    factor = int(args[0]) if len(args) > 0 else 10
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    runs = int(args[2]) if len(args) > 2 else 2

    from data_engineer_project_spark.session import get_spark

    spark = get_spark("breadth-stress")
    spark.sparkContext.setLogLevel("ERROR")

    print(json.dumps({"harness": "breadth-media" if media else "breadth",
                      "factor": factor, "base": sf_dir,
                      "runs": runs, "loadavg": round(os.getloadavg()[0], 2)}),
          flush=True)
    if media:
        def meas(sp, d, label, r):
            measure_media(sp, d, label, r)
    else:
        def meas(sp, d, label, r):
            measure(sp, d, label, r, slots)

    synth = synth_breadth_media if media else synth_breadth
    meas(spark, sf_dir, "base", runs)
    tmp = tempfile.mkdtemp(prefix="breadth_")
    try:
        t0 = time.time()
        synth(sf_dir, tmp, factor)
        print(json.dumps({"synth_sec": round(time.time() - t0, 1)}), flush=True)
        meas(spark, tmp, f"breadth{factor}", runs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
