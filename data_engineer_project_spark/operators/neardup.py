"""The near-dup chain's shared pieces, in both engines.

Spark side: the exact-dup collapse every weighted near-dup query runs
first (``collapse_exact``) and the weighted cluster rollup it ends with
(``weighted_rollup``). The middle of the chain — shingles, MinHash
signatures, band keys, candidates, exact-Jaccard verify — is
``operators/dedup.py``; connected components is ``operators/graph.py``.

DuckDB side: the oracle CTE functions. Each returns comma-joinable
CTE text (no ``WITH`` keyword) for one stage of the same chain, so an
oracle is a composition of stage calls instead of a hand-pasted copy:

    WITH {reps_sql()},
    {shingles_sql("reps")},
    {minhash_sql()},
    {verify_self_sql(0.5)}
    SELECT doc_a, doc_b, jaccard FROM ver

Oracles keep reading base tables by their registered names
(``documents``, ...); the harness binds those names. The source
relation is a parameter, and the per-side stages (words, shingles,
MinHash) suffix every CTE they define, so one oracle can build the
chain twice — the incoming batch and the corpus of the one-sided probe
(``verify_probe_sql``). The inverted-index tier (``informative_sql``,
``inverted_pairs_sql``) is the exact-Jaccard alternative to MinHash
banding.

The values match the Spark stages exactly: shingles are the
posexplode + lead word n-grams of ``dedup.exploded_shingles``, the
signature is ``dedup.minhash_signatures``' per-salt ``md5('k:' ||
shingle)`` minimum, the band key is ``dedup.band_key_rows``' md5 of the
``|``-joined slice, and Jaccard is one double division of exact integer
shingle counts (``dedup.exact_jaccard``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ------------------------------------------------------------------ Spark


def collapse_exact(
    docs: DataFrame, rep: str = "node", weight: str = "wt"
) -> DataFrame:
    """One representative per distinct text: (fp, ``rep``, text,
    ``weight``) with fp = md5(text), rep id = min(doc_id), text =
    min(text) and weight = the copy count. One map-side-combined
    groupBy on the fingerprint; callers drop the columns they do not
    need and the optimizer prunes the matching aggregates."""
    return docs.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias(rep),
        F.min("text").alias("text"),
        F.count(F.lit(1)).alias(weight),
    )


def weighted_rollup(reps: DataFrame, comps: DataFrame) -> DataFrame:
    """Per near-dup component, in uncollapsed units: ``reps`` is
    (node, wt, n_tok) per representative, ``comps`` is (node,
    component) from connected components. Exact-dup groups (wt > 1)
    with no near-dup neighbour surface as singleton components, so the
    rollup never loses a cluster the uncollapsed corpus would report.
    dup_tokens is total_tokens minus one copy of the canonical (min
    node) text."""
    singles = (
        reps.filter(F.col("wt") > 1)
        .join(comps.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    allc = comps.select("node", "component").union(singles)
    canon_tok = F.min(
        F.struct(F.col("node").alias("i"), F.col("n_tok").alias("t"))
    )["t"]
    return (
        allc.join(reps, "node")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_reps"),
            F.sum("wt").cast("long").alias("total_docs"),
            F.min("node").alias("canonical_doc"),
            F.sum(F.col("wt") * F.col("n_tok")).cast("long").alias("total_tokens"),
            (F.sum(F.col("wt") * F.col("n_tok")) - canon_tok)
            .cast("long")
            .alias("dup_tokens"),
        )
        .orderBy("component")
    )


# ------------------------------------------------------- DuckDB oracles


def reps_sql(source: str = "documents", name: str = "reps") -> str:
    """``name``(fp, doc_id, text, wt): ``collapse_exact`` over
    ``source`` — one row per distinct text, doc_id = the lowest id (the
    keep-first survivor), wt = the copy count."""
    return f"""{name} AS (
      SELECT md5(text) AS fp, MIN(doc_id) AS doc_id, MIN(text) AS text,
             CAST(COUNT(*) AS BIGINT) AS wt
      FROM {source} GROUP BY 1
    )"""


def words_sql(
    source: str = "documents", carry: tuple[str, ...] = (), suffix: str = ""
) -> str:
    """``w{suffix}``(doc_id, *carry, wd, i): one row per
    space-separated word of ``source``.text, i its 1-based position."""
    cols = "".join(f"{c}, " for c in carry)
    return f"""w{suffix} AS (
      SELECT doc_id, {cols}unnest(string_split(text,' ')) AS wd,
             generate_subscripts(string_split(text,' '),1) AS i
      FROM {source}
    )"""


def shingles_sql(
    source: str = "documents",
    n: int = 3,
    carry: tuple[str, ...] = (),
    suffix: str = "",
) -> str:
    """``w{suffix}`` plus ``sh{suffix}``(doc_id, *carry, i, shingle):
    every n-word window of each doc, with i the position of its first
    word. Docs with fewer than n words have no shingle. Occurrences,
    not distinct: consumers that need the set select DISTINCT."""
    cols = "".join(f"{c}, " for c in carry)
    gram = " || ' ' || ".join(
        ["wd"] + [f"lead(wd,{j}) OVER win" for j in range(1, n)]
    )
    return f"""{words_sql(source, carry, suffix)},
    sh{suffix} AS (
      SELECT doc_id, {cols}i, {gram} AS shingle
      FROM w{suffix} WINDOW win AS (PARTITION BY doc_id ORDER BY i)
      QUALIFY lead(wd,{n - 1}) OVER win IS NOT NULL
    )"""


def minhash_sql(num_hashes: int = 8, bands: int = 4, suffix: str = "") -> str:
    """``sig{suffix}``(doc_id, mh0..) over ``sh{suffix}`` and
    ``bands{suffix}``(doc_id, band, key): the salted-md5 MinHash
    signature and the md5 of each ``num_hashes // bands`` slice."""
    r = num_hashes // bands
    mins = ", ".join(
        f"min(md5('{k}:' || shingle)) AS mh{k}" for k in range(num_hashes)
    )
    rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(f"mh{b * r + j}" for j in range(r))
        + f") AS key FROM sig{suffix}"
        for b in range(bands)
    )
    return f"""sig{suffix} AS (SELECT doc_id, {mins} FROM sh{suffix} GROUP BY doc_id),
    bands{suffix} AS ({rows})"""


def informative_sql(max_df: int = 50) -> str:
    """``shd``(doc_id, shingle), the distinct shingle set over ``sh``,
    and ``informative``(shingle): shingles in more than one and at most
    ``max_df`` docs — the document-frequency cap of the inverted-index
    tier (``dedup.ngram_jaccard_pairs``)."""
    return f"""shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    informative AS (
      SELECT shingle FROM shd GROUP BY shingle
      HAVING COUNT(*) <= {max_df} AND COUNT(*) > 1
    )"""


def inverted_pairs_sql(max_df: int = 50) -> str:
    """``informative_sql`` plus ``shf``(doc_id, shingle) restricted to
    informative shingles, ``sizes``(doc_id, n_sh) and ``pstats``(doc_a,
    doc_b, n_inter, n_a, n_b): every doc pair (doc_a < doc_b) sharing
    an informative shingle, with the integer statistics each exact pair
    scorer derives from — ``dedup._inverted_index_pair_stats``."""
    return f"""{informative_sql(max_df)},
    shf AS (SELECT shd.doc_id, shd.shingle FROM shd JOIN informative USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id),
    pstats AS (
      SELECT i.doc_a, i.doc_b, i.n_inter, za.n_sh AS n_a, zb.n_sh AS n_b
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
    )"""


def _shingle_sets(suffix: str) -> str:
    return f"""shd{suffix} AS (SELECT DISTINCT doc_id, shingle FROM sh{suffix}),
    sizes{suffix} AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd{suffix} GROUP BY doc_id)"""


def _verified(
    a: str, b: str, left: str, right: str, threshold: float | None
) -> str:
    """inter + ver over ``cand``(a, b): |A∩B| by shingle equi-join,
    jaccard = |A∩B| / (|A|+|B|−|A∩B|), kept at ``threshold`` (all
    candidates when None)."""
    jac = "CAST(i.n_inter AS DOUBLE) / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE)"
    keep = "" if threshold is None else f"\n      WHERE {jac} >= {threshold}"
    return f"""inter AS (
      SELECT c.{a}, c.{b}, COUNT(*) AS n_inter
      FROM cand c
      JOIN shd{left} xa ON xa.doc_id = c.{a}
      JOIN shd{right} xb ON xb.doc_id = c.{b} AND xb.shingle = xa.shingle
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT i.{a}, i.{b}, {jac} AS jaccard
      FROM inter i
      JOIN sizes{left} za ON za.doc_id = i.{a}
      JOIN sizes{right} zb ON zb.doc_id = i.{b}{keep}
    )"""


def verify_self_sql(threshold: float | None = 0.5) -> str:
    """The self-join form over ``sh``/``bands``: candidate
    pairs (doc_a < doc_b) sharing any band key, exact-Jaccard verified
    into ``ver``(doc_a, doc_b, jaccard) — ``dedup.minhash_lsh_pairs``.
    Also defines ``shd``/``sizes`` (distinct shingles, set sizes) and
    ``cand``/``inter``."""
    return f"""{_shingle_sets("")},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    {_verified("doc_a", "doc_b", "", "", threshold)}"""


def verify_probe_sql(
    new: str = "i", corpus: str = "c", threshold: float | None = 0.5
) -> str:
    """The one-sided form: side ``new``'s band keys probe side
    ``corpus``'s (no corpus self-pairs), verified into
    ``ver``(new_doc, corpus_doc, jaccard)."""
    return f"""{_shingle_sets(new)},
    {_shingle_sets(corpus)},
    cand AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
      FROM bands{new} a JOIN bands{corpus} b
        ON a.band = b.band AND a.key = b.key
    ),
    {_verified("new_doc", "corpus_doc", new, corpus, threshold)}"""


def components_sql(pairs: str = "ver") -> str:
    """``edges``/``nodes``/``walk``/``lab``(node, component): min-id
    connected components of the undirected graph over ``pairs``(doc_a,
    doc_b) by recursive walk — ``graph.connected_components``. The
    enclosing WITH must be ``WITH RECURSIVE``."""
    return f"""edges AS (
      SELECT doc_a AS e_src, doc_b AS e_dst FROM {pairs}
      UNION SELECT doc_b, doc_a FROM {pairs}
    ),
    nodes AS (SELECT DISTINCT e_src AS node FROM edges),
    walk(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.e_dst, wk.comp FROM walk wk JOIN edges e ON e.e_src = wk.node
    ),
    lab AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node)"""
