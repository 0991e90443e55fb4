"""Semantic pin tests for the round-6 additions, beyond oracle parity:
the composed curation DAG (d56), its streaming twin (s16), the PQ
codebook (d57), and IVF-PQ ADC search (d58). Each test re-derives an
invariant independently of the query's own machinery, so a regression
that happens to drift both engine and oracle the same way still fails.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineer_project_spark.queries import QUERIES

def _rows(spark, name, sf):
    return QUERIES[name].fn(spark, sf).collect()


# ------------------------------------------------------------- d56


def test_d56_conserves_docs_and_respects_upstream_stages(spark, sf_dir):
    """Cross-stage accounting: the per-shard doc counts must sum to a
    total that is (a) no more than the train-split size minus the
    d55-leaky removals, and (b) consistent with d42-style per-source
    keep thresholds — every surviving doc's bucket clears its source's
    threshold by construction, so re-deriving the bucket from doc_id
    via the shard count must place every shard within range."""
    rows = _rows(spark, "d56_end_to_end_curation", sf_dir)
    assert rows, "pipeline must keep at least one doc on the fixture"
    total = sum(r.n_docs for r in rows)
    # stage-1/2 bound: d55 reports the decontaminated train split
    d55 = {r.lang: r for r in _rows(spark, "d55_clean_train_split", sf_dir)}
    n_clean_train = sum(r.n_clean for r in d55.values())
    assert 0 < total <= n_clean_train
    # shard ids form a dense power-of-two range (d45's corpus-derived
    # shard count), and every shard is nonempty with a valid checksum
    shards = sorted(r.shard for r in rows)
    n_shards = len(shards)
    assert n_shards & (n_shards - 1) == 0  # power of two
    assert shards == list(range(n_shards))
    for r in rows:
        assert r.n_docs >= 1
        # order_checksum = sum(rank * doc_id) >= sum of its doc ids
        # (every rank >= 1), with equality only if all ranks are 1
        assert r.order_checksum >= r.first_doc
        assert r.kept_tokens > 0


def test_d56_epoch_seed_changes_permutation_not_membership(spark, sf_dir):
    """The epoch seed must re-deal order/shards while keeping the
    SURVIVING DOC SET fixed: membership is decided by the five
    curation stages, the shuffle only permutes. Re-run the final stage
    with a different seed via the d45 helper on the same fixture and
    compare: total docs equal, per-shard checksums differ."""
    from data_engineer_project_spark.operators.curation import shard_deal
    from data_engineer_project_spark.sources.registry import load_tables

    docs = load_tables(spark, sf_dir).documents.select("doc_id", "source")
    a = shard_deal(docs, "pinA|").collect()
    b = shard_deal(docs, "pinB|").collect()
    assert sum(r.n_docs for r in a) == sum(r.n_docs for r in b)
    assert {r.shard: r.order_checksum for r in a} != {
        r.shard: r.order_checksum for r in b
    }


# ------------------------------------------------------------- s16


def test_s16_multibatch_stream_equals_single_batch(spark, tmp_path, sf_dir):
    """The front door's per-(source, lang) tallies must not depend on
    micro-batch slicing: splitting the arriving documents into 3 part
    files with one-file triggers must produce the same final complete-
    mode tally as the single-batch run (stateless stages + one
    complete-mode agg => slicing-invariant by design; this pins it)."""
    import os

    import pyarrow.parquet as pq

    from data_engineer_project_spark.queries.streaming_queries import (
        s16_door_tally,
    )
    from data_engineer_project_spark.streaming import (
        read_document_stream,
        run_to_memory_table,
    )
    from data_engineer_project_spark.sources.registry import load_tables

    d = tmp_path / "doc_parts"
    d.mkdir()
    tbl = pq.read_table(f"{sf_dir}/documents.parquet")
    step = (tbl.num_rows + 2) // 3
    for i in range(3):
        p = d / f"part-{i:03d}.parquet"
        pq.write_table(tbl.slice(i * step, step), p)
        os.utime(p, (1_700_000_000 + i * 10,) * 2)

    t = load_tables(spark, sf_dir)
    sliced = run_to_memory_table(
        s16_door_tally(
            t,
            read_document_stream(
                spark, str(d), glob="*.parquet", max_files_per_trigger=1
            ),
        ),
        "s16_sliced",
        "complete",
    )
    single = run_to_memory_table(
        s16_door_tally(t, read_document_stream(spark, sf_dir)),
        "s16_single",
        "complete",
    )
    assert sorted(map(tuple, sliced.collect())) == sorted(
        map(tuple, single.collect())
    )


# ------------------------------------------------------------- d57


def test_d57_codes_partition_the_corpus_and_are_nearest(spark, sf_dir):
    """Every vector must receive exactly one code per subspace, codes
    lie in [0, K), and — re-derived with plain numpy, independently of
    the Spark assign machinery — each vector's assigned code is the
    argmax-cosine centroid (ties to lowest cid)."""
    import numpy as np

    from data_engineer_project_spark.operators.pq import (
        PQ_DLEN as _PQ_DLEN,
        PQ_K as _PQ_K,
        PQ_M as _PQ_M,
        pq_train as _pq_train,
    )
    from data_engineer_project_spark.sources.registry import load_tables

    t = load_tables(spark, sf_dir)
    n_vecs = t.embeddings.count()
    rows = _rows(spark, "d57_pq_codebook", sf_dir)
    per_sub: dict[int, int] = {}
    for r in rows:
        assert 0 <= r.code < _PQ_K
        per_sub[r.subspace] = per_sub.get(r.subspace, 0) + r.n_vecs
    assert set(per_sub) == set(range(_PQ_M))
    assert all(v == n_vecs for v in per_sub.values())

    cbook, codes, _ = _pq_train(t.embeddings)
    cb = {(r["m"], r["cid"]): np.asarray(r["cvec"]) for r in cbook.collect()}
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in t.embeddings.limit(40).collect()
    }
    got = {
        (r["m"], r["vec_id"]): r["cid"]
        for r in codes.filter(F.col("vec_id").isin(*emb)).collect()
    }
    for vid, v in emb.items():
        for m in range(_PQ_M):
            sv = v[m * _PQ_DLEN : (m + 1) * _PQ_DLEN]
            best, best_cs = None, -2.0
            for (cm, cid), cv in sorted(cb.items()):
                if cm != m:
                    continue
                cs = float(
                    sv @ cv / (np.linalg.norm(sv) * np.linalg.norm(cv))
                )
                if cs > best_cs + 1e-12:
                    best, best_cs = cid, cs
            assert got[(m, vid)] == best, (vid, m)


# ------------------------------------------------------------- d58


def test_d58_adc_scores_and_topk_re_derive_with_numpy(spark, sf_dir):
    """Re-derive the ENTIRE ADC path with plain numpy — codebook
    cosines, floor quantization, 4-lookup integer sums, in-cell
    candidate set, (score desc, id) top-3 — and demand exact agreement
    with the query's output, scores included. This pins the mechanics
    (LUT build, code joins, integer arithmetic, ranking) independently
    of Spark; approximation QUALITY is deliberately not asserted
    (random synthetic vectors have near-zero cosines, so PQ rank
    agreement with exact cosine is not a guarantee of this corpus)."""
    import numpy as np

    from data_engineer_project_spark.operators import similarity as SIM
    from data_engineer_project_spark.operators.pq import (
        ADC_SCALE as _ADC_SCALE,
        PQ_DLEN as _PQ_DLEN,
        PQ_M as _PQ_M,
        pq_train as _pq_train,
    )
    from data_engineer_project_spark.sources.registry import load_tables

    t = load_tables(spark, sf_dir)
    rows = _rows(spark, "d58_ivfpq_adc_topk", sf_dir)
    assert rows
    for r in rows:
        assert -_PQ_M <= r.adc_score <= _PQ_M

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in t.embeddings.collect()
    }
    cents = SIM.kmeans_centroids(t.embeddings)
    asg = {
        r["vec_id"]: r["cid"]
        for r in SIM.ivf_assign(t.embeddings, cents).collect()
    }
    cbook, codes_df, _ = _pq_train(t.embeddings)
    cb = {(r["m"], r["cid"]): np.asarray(r["cvec"]) for r in cbook.collect()}
    codes = {}
    for r in codes_df.collect():
        codes.setdefault(r["vec_id"], {})[r["m"]] = r["cid"]

    def iscore(qid, nid):
        qv = emb[qid]
        s = 0
        for m in range(_PQ_M):
            sv = qv[m * _PQ_DLEN : (m + 1) * _PQ_DLEN]
            cv = cb[(m, codes[nid][m])]
            cs = float(sv @ cv / (np.linalg.norm(sv) * np.linalg.norm(cv)))
            s += int(np.floor(cs * _ADC_SCALE))
        return s

    by_query: dict[int, list] = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    assert set(by_query) == {q for q in asg if q < 10}
    for qid, hits in by_query.items():
        cand = [v for v, c in asg.items() if c == asg[qid] and v != qid]
        want = sorted(cand, key=lambda v: (-iscore(qid, v), v))[:3]
        got = sorted(hits, key=lambda r: (-r.adc_score, r.neighbor_id))
        assert [r.neighbor_id for r in got] == want, qid
        for r in got:
            assert r.adc_score == iscore(qid, r.neighbor_id) / _ADC_SCALE


# ------------------------------------------------------------- s17


def test_s17_ivf_ingestion_multibatch_equals_batch(spark, tmp_path, sf_dir):
    """The in-stream literal-argmax cell assignment must be slicing-
    invariant and equal the batch k-means assignment: stream the
    embeddings as 3 one-file micro-batches and compare the final
    per-cell tally against both the single-batch stream and the batch
    ivf_assign rollup."""
    import os

    import pyarrow.parquet as pq

    from data_engineer_project_spark.operators import similarity as SIM
    from data_engineer_project_spark.operators.similarity import cosine
    from data_engineer_project_spark.sources.registry import load_tables
    from data_engineer_project_spark.streaming import (
        read_embedding_stream,
        run_to_memory_table,
    )

    d = tmp_path / "emb_parts"
    d.mkdir()
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    step = (tbl.num_rows + 2) // 3
    for i in range(3):
        p = d / f"part-{i:03d}.parquet"
        pq.write_table(tbl.slice(i * step, step), p)
        os.utime(p, (1_700_000_000 + i * 10,) * 2)

    t = load_tables(spark, sf_dir)
    cents_df = SIM.kmeans_centroids(t.embeddings)
    cents = cents_df.collect()
    scored = F.array(
        *[
            F.struct(
                cosine(
                    F.col("embedding"),
                    F.array(*[F.lit(float(x)) for x in r["cvec"]]),
                ).alias("cs"),
                F.lit(-int(r["cid"])).cast("long").alias("ncid"),
            )
            for r in cents
        ]
    )

    def tally(stream):
        return stream.withColumn(
            "cid", -F.array_max(scored)["ncid"]
        ).groupBy("cid").agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_id").alias("id_checksum"),
        )

    sliced = run_to_memory_table(
        tally(
            read_embedding_stream(
                spark, str(d), glob="*.parquet", max_files_per_trigger=1
            )
        ),
        "s17_sliced",
        "complete",
    )
    single = run_to_memory_table(
        tally(read_embedding_stream(spark, sf_dir)), "s17_single", "complete"
    )
    want = (
        SIM.ivf_assign(t.embeddings, cents_df)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_id").alias("id_checksum"),
        )
    )
    s = sorted(map(tuple, sliced.collect()))
    assert s == sorted(map(tuple, single.collect()))
    assert s == sorted(map(tuple, want.collect()))
