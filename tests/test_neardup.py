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
