"""The curation stages (operators/curation.py) against their DuckDB CTE
twins from the same module, on a hand-built corpus.

Doc ids are chosen by their split bucket (md5 hex digits % 100): doc 1
is in the test split (>= 90), docs 2, 3 and 4 in train (< 80). The
corpus has one of each case the stages must get right:
- doc 2 shares exactly 2 informative shingles with test doc 1 (leaky);
  doc 3 shares only 1 (not leaky);
- "s1 s2 s3" is in 51 docs (df 51, not informative): doc 4 shares it
  and one informative shingle with doc 1, so it is not leaky although
  its raw overlap is 2;
- doc 5 has fewer than 3 words (no shingle, one short chunk);
- docs 6 and 7 start with the same 8-word chunk; doc 7 has 11 words;
- source "big" (70 docs) carries more than 65536x the token mass of
  source "tiny", so its keep threshold floors at 1;
- two seeds deal the corpus in different orders.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_engineer_project_spark.operators import curation as CUR
from data_engineer_project_spark.operators import dedup as DD
from data_engineer_project_spark.operators.cache import release_all
from data_engineer_project_spark.operators import neardup as ND
from data_engineer_project_spark.queries import QUERIES
from tools.check_correctness import result_fingerprint

_SCHEMA = "doc_id long, lang string, source string, text string"
_COLS = ["doc_id", "lang", "source", "text"]


def _corpus() -> list[tuple[int, str, str, str]]:
    filler = [
        (100 + i, "de", "web", f"s1 s2 s3 f{i} g{i}") for i in range(49)
    ]
    # 70 x 1,000 tokens: more than 65536x the 1-token "tiny" source
    big = [(200 + i, "en", "big", " ".join(["zzzzzzz"] * 500)) for i in range(70)]
    return [
        (1, "en", "web", "k1 k2 k3 k4 x1 m1 m2 m3 x2 n1 n2 n3 x3 s1 s2 s3"),
        (2, "en", "web", "k1 k2 k3 k4 y1"),
        (3, "en", "web", "m1 m2 m3 y2"),
        (4, "de", "web", "s1 s2 s3 y3 n1 n2 n3"),
        (5, "en", "web", "hi there"),
        (6, "en", "web", "c1 c2 c3 c4 c5 c6 c7 c8"),
        (7, "de", "web", "c1 c2 c3 c4 c5 c6 c7 c8 e1 e2 e3"),
        (9, "en", "tiny", "x"),
    ] + filler + big


@pytest.fixture(scope="module")
def engines(spark):
    docs = _corpus()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=_COLS))
    yield spark.createDataFrame(docs, _SCHEMA), con
    con.close()
    release_all()


def _same(df, con, sql):
    cur = con.execute(sql)
    want = result_fingerprint([d[0] for d in cur.description], cur.fetchall())
    got = result_fingerprint(df.columns, [tuple(r) for r in df.collect()])
    assert got["cols"] == want["cols"]
    assert (got["rows"], got["hash"]) == (want["rows"], want["hash"]), (
        got["sample"],
        want["sample"],
    )


def test_overlap_and_leaky_match_sql(engines):
    docs, con = engines
    sh = DD.exploded_shingles(docs, "doc_id", "text", 3).distinct()
    overlap = CUR.overlap(sh)
    prefix = f"WITH {ND.shingles_sql()},\n{CUR.overlap_sql()}\n"
    _same(overlap, con, prefix + "SELECT * FROM overlap")
    _same(CUR.leaky(sh), con, prefix + "SELECT * FROM leaky")
    assert sorted(map(tuple, overlap.collect())) == [(2, 1, 2), (3, 1, 1), (4, 1, 1)]
    assert [r.train_doc for r in CUR.leaky(sh).collect()] == [2]


def test_pii_inject_and_redact_match_sql(engines):
    docs, con = engines
    both = docs.select(
        "doc_id",
        CUR.pii_injected().alias("pii"),
        CUR.redacted(CUR.pii_injected()).alias("ctext"),
    )
    _same(
        both,
        con,
        f"SELECT doc_id, {CUR.PII_INJECTED_SQL} AS pii,"
        f" {CUR.PII_REDACTED_SQL} AS ctext FROM documents",
    )
    r = both.filter("doc_id = 3").first()
    assert r.ctext == "m1 m2 m3 y2 contact <EMAIL> call <PHONE>"
    assert r.pii.endswith("contact user3@mail-3.example.com call 555-003-0003")


def test_redacted_stays_fast_on_long_runs_without_at(spark):
    """A 200,000-character run of email-class characters with no '@' (a
    base64 or hex blob in crawled text) redacts in seconds: with the
    local part bounded, Java's backtracking matcher gives up 64
    characters past each start, so its work is linear in the run. A
    65-character local part keeps its first character, in Spark and in
    DuckDB alike."""
    import time

    rows = [
        (1, "x" * 200_000 + " mail bob@example.com now"),
        (2, "a" * 65 + "@example.com tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.monotonic()
    got = dict(df.select("doc_id", CUR.redacted(F.col("text"))).collect())
    assert time.monotonic() - t0 < 60
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = dict(
        con.execute(f"SELECT doc_id, {CUR.redacted_sql('text')} FROM docs").fetchall()
    )
    con.close()
    assert got == want
    assert got[1] == "x" * 200_000 + " mail <EMAIL> now"
    assert got[2] == "a<EMAIL> tail"


def test_chunks_and_first_chunks_match_sql(engines):
    docs, con = engines
    ch = CUR.chunks(docs, "text", ("lang",))
    sql = f"WITH {CUR.chunks_sql('documents', 'text', ('lang',))}\n"
    _same(ch, con, sql + "SELECT doc_id, lang, pos, chunk, n_words FROM chunks")
    firsts = CUR.first_chunks(ch, "lang").select(
        "first.doc_id", "first.lang", "first.n_words"
    )
    _same(firsts, con, sql + "SELECT doc_id, lang, n_words FROM cranked WHERE rn = 1")
    got = {(r.doc_id, r.pos): r.n_words for r in ch.filter("doc_id IN (5, 7)").collect()}
    assert got == {(5, 0): 2, (7, 0): 8, (7, 1): 3}
    # the first chunk docs 6 and 7 share survives once, as doc 6's
    kept = sorted((r.doc_id, r.n_words) for r in firsts.collect() if r.doc_id in (6, 7))
    assert kept == [(6, 8), (7, 3)]


def test_mixture_matches_sql_and_floors_at_one(engines):
    docs, con = engines
    hist = (
        docs.select(
            "source",
            F.expr(CUR.SPARK_BUCKET64K).alias("bkt"),
            F.ceil(F.length("text") / 4).cast("long").alias("tok"),
        )
        .groupBy("source", "bkt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("tok").alias("tokens"))
    )
    report = CUR.mixture_report(hist, "source")
    _same(
        report,
        con,
        f"""WITH hist AS (
          SELECT source, {CUR.ORACLE_BUCKET64K} AS bkt, COUNT(*) AS n,
                 SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS tokens
          FROM documents GROUP BY 1, 2
        ),
        {CUR.mixture_report_sql("source")}
        SELECT * FROM report""",
    )
    thr = {r.source: r.keep_thr for r in report.collect()}
    assert thr["big"] == 1 and thr["tiny"] == 65536

    src = docs.groupBy("source").agg(
        F.sum(F.ceil(F.length("text") / 4).cast("long")).alias("orig_tokens")
    )
    kept = CUR.mixture_keep(docs, src)
    _same(
        kept.select("doc_id", "source"),
        con,
        f"""WITH toks AS (
          SELECT source, SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS orig_tokens
          FROM documents GROUP BY source
        ),
        {CUR.mixture_keep_sql("documents", "toks")}
        SELECT doc_id, source FROM kept""",
    )
    assert kept.columns == docs.columns
    kept_sources = {r.source for r in kept.collect()}
    assert "tiny" in kept_sources and "big" not in kept_sources


def test_shard_deal_matches_sql_and_seed_reorders(engines):
    docs, con = engines
    deals = {}
    for seed in ("seedA|", "seedB|"):
        deal = CUR.shard_deal(
            docs.select("doc_id", "source"),
            seed,
            F.countDistinct("source").alias("n_sources"),
        )
        sql = CUR.shard_deal_sql(
            "documents", seed, "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources"
        )
        _same(deal, con, f"WITH {sql}\nSELECT * FROM deal")
        deals[seed] = [tuple(r) for r in deal.collect()]
    a, b = deals.values()
    assert [r[1] for r in a] == [r[1] for r in b]  # same docs per shard
    assert a != b  # different first doc / checksum


def _overlap_aggregates(spark, plan) -> int:
    """Final HashAggregates grouped by (train_doc, test doc) that the
    physical plan ``plan`` computes: each cached relation's plan is
    walked once and reused exchanges are not walked again."""
    ident = spark._jvm.System.identityHashCode
    seen, n, stack = set(), 0, [plan]
    while stack:
        p = stack.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if kind in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue
        if kind == "InMemoryTableScanExec":
            builder = ident(p.relation().cacheBuilder())
            if builder not in seen:
                seen.add(builder)
                stack.append(p.relation().cacheBuilder().cachedPlan())
            continue
        if kind == "HashAggregateExec":
            keys = p.groupingExpressions()
            names = [keys.apply(i).name() for i in range(keys.size())]
            aggs = p.aggregateExpressions()
            modes = {aggs.apply(i).mode().toString() for i in range(aggs.size())}
            if names == ["train_doc", "doc_id"] and modes == {"Final"}:
                n += 1
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


def test_d56_computes_the_overlap_aggregate_once(spark, sf_dir):
    """d56's leaky set feeds three branches (the chunks, the survivors,
    and through them the thresholds and the deal). It is persisted, so
    its test x train overlap aggregate is computed once, not once per
    branch."""
    try:
        df = QUERIES["d56_end_to_end_curation"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan()
        assert _overlap_aggregates(spark, plan) == 1
    finally:
        release_all()
