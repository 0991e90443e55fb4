"""The shared near-dup pieces (operators/neardup.py) against their
DuckDB CTE twins from the same module on a hand-built corpus.

The corpus has one of each case the weighted chain must get right:
- a near-dup chain 1 ~ 2 ~ 3 whose ends are NOT near-dups of each
  other (J(1,2) = 0.52, J(2,3) = 0.55, J(1,3) < 0.5), so only the
  component walk joins 1 and 3; doc 21 is an exact copy of doc 2;
- an exact-dup clique (7, 8, 9) with no near-dup neighbour;
- docs with fewer than 3 tokens: an exact-dup pair (4, 5) and a single
  doc (6), all shingle-less;
- a unique long doc (10) with no neighbour.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from data_engineer_project_spark.functions import text as T
from data_engineer_project_spark.operators import dedup as DD
from data_engineer_project_spark.operators import graph as GR
from data_engineer_project_spark.operators import neardup as ND
from data_engineer_project_spark.queries import QUERIES
from tools.check_correctness import result_fingerprint


def _corpus() -> list[tuple[int, str]]:
    chain = [f"a{i}" for i in range(40)]
    second = chain[:]
    for k in (4, 14, 24, 34):
        second[k] = "x" + second[k]
    third = second[:]
    for k in (9, 19, 29, 38):
        third[k] = "y" + third[k]
    clique = " ".join(f"q{i}" for i in range(40))
    return [
        (1, " ".join(chain)),
        (2, " ".join(second)),
        (3, " ".join(third)),
        (21, " ".join(second)),
        (7, clique),
        (8, clique),
        (9, clique),
        (4, "hello world"),
        (5, "hello world"),
        (6, "solo"),
        (10, " ".join(f"u{i}" for i in range(40))),
    ]


def _duck(docs):
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    return con


def _fingerprint_sql(con, sql):
    cur = con.execute(sql)
    return result_fingerprint([d[0] for d in cur.description], cur.fetchall())


def _fingerprint_df(df):
    return result_fingerprint(df.columns, [tuple(r) for r in df.collect()])


def test_collapse_pairs_rollup_match_oracle_sql(spark):
    docs = _corpus()
    reps = ND.collapse_exact(
        spark.createDataFrame(docs, "doc_id long, text string"), rep="doc_id"
    ).select("doc_id", "text", "wt")
    pairs = DD.minhash_lsh_pairs(
        reps, num_hashes=8, bands=4, jaccard_threshold=0.5
    )
    comps = GR.connected_components(
        pairs.select("doc_a", "doc_b"), pairs_unique=True
    )
    tk = reps.select(
        F.col("doc_id").alias("node"), "wt", T.token_count("text").alias("n_tok")
    )
    rollup = ND.weighted_rollup(tk, comps)

    con = _duck(docs)
    pairs_sql = f"""
    WITH {ND.reps_sql()},
    {ND.shingles_sql("reps")},
    {ND.minhash_sql()},
    {ND.verify_self_sql(0.5)}
    SELECT doc_a, doc_b, jaccard FROM ver
    """
    assert _fingerprint_df(pairs) == _fingerprint_sql(con, pairs_sql)
    # d99's oracle is neardup's reps -> shingles -> MinHash ->
    # verify -> components chain plus the weighted rollup in SQL
    rollup_sql = QUERIES["d99_weighted_neardup_clusters"].oracle
    assert _fingerprint_df(rollup) == _fingerprint_sql(con, rollup_sql)

    got = {
        r.component: (r.n_reps, r.total_docs, r.canonical_doc)
        for r in rollup.collect()
    }
    assert sorted((r.doc_a, r.doc_b) for r in pairs.collect()) == [(1, 2), (2, 3)]
    assert got == {1: (3, 4, 1), 7: (1, 3, 7), 4: (1, 2, 4)}


def test_set_jaccard_pairs_match_oracle_sql(spark):
    """``set_jaccard_pairs`` against ``set_jaccard_sql``: (1, 2) sits
    exactly at 2·n_common = |A∪B| (kept), (1, 3) and (2, 3) one below
    it (dropped), 4 and 5 are single-key docs, key "a" is shared by
    three docs, and doc 6 shares nothing."""
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"), (2, "d"),
        (3, "a"), (3, "b"), (3, "e"), (3, "f"),
        (4, "z"),
        (5, "z"),
        (6, "y"), (6, "w"),
    ]
    sets = spark.createDataFrame(rows, "doc_id long, gram string")
    pairs = ND.set_jaccard_pairs(sets, "gram", "grams", "test_set_jaccard")
    assert DD.LAST_GUARD_STATS["consumer"] == "test_set_jaccard"

    con = duckdb.connect()
    con.register("sets", pd.DataFrame(rows, columns=["doc_id", "gram"]))
    sql = f"""
    WITH {ND.set_jaccard_sql("sets", "gram", "grams")}
    SELECT * FROM sj ORDER BY doc_a, doc_b
    """
    assert _fingerprint_df(pairs) == _fingerprint_sql(con, sql)
    assert [tuple(r) for r in pairs.collect()] == [
        (1, 2, 2, 3, 3, 0.5),
        (4, 5, 1, 1, 1, 1.0),
    ]
    assert pairs.columns == [
        "doc_a", "doc_b", "n_common", "n_grams_a", "n_grams_b", "jaccard"
    ]


def test_d101_store_rebuilds_missing_artifact_and_reuses_complete(
    spark, monkeypatch
):
    """d101's standing store as a unit. Each artifact is published by an
    atomic rename, so a crash between two publishes leaves whole
    artifacts missing: the next run must rebuild the missing one (and
    only it) and still equal d99 from scratch. A warm run over a
    complete store rewrites nothing."""
    import shutil

    from data_engineer_project_spark.operators.cache import release_all

    sf = "/root/testdata/sf0.001"
    stores = []
    state_store = ND.state_store

    def recording_state_store(corpus):
        stores.append(state_store(corpus))
        return stores[-1]

    monkeypatch.setattr(ND, "state_store", recording_state_store)

    def run(name):
        rows = sorted(tuple(r) for r in QUERIES[name].fn(spark, sf).collect())
        release_all()
        return rows

    def markers(store):
        return {
            a: (store / a / "_SUCCESS").stat().st_mtime_ns
            for a in ND.STATE_ARTIFACTS
        }

    want = run("d99_weighted_neardup_clusters")
    run("d101_incremental_cluster_merge")  # primes the store
    store = stores[-1]
    assert ND.state_complete(store)
    kept = {a: t for a, t in markers(store).items() if a != "sh"}

    shutil.rmtree(store / "sh")
    assert not ND.state_complete(store)
    assert run("d101_incremental_cluster_merge") == want
    assert ND.state_complete(store) and stores[-1] == store
    assert {a: t for a, t in markers(store).items() if a != "sh"} == kept

    before = markers(store)
    assert run("d101_incremental_cluster_merge") == want
    assert markers(store) == before and len(want) > 0
