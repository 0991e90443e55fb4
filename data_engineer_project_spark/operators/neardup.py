"""The near-dup chain's shared pieces, in both engines.

Spark side: the exact-dup collapse every weighted near-dup query runs
first (``collapse_exact``), the weighted cluster rollup it ends with
(``weighted_rollup``), and the pair stages the consumers compose:
``verified_pairs`` (d07's MinHash pairs at the ``NUM_HASHES``/``BANDS``
operating point), ``rank_edges`` (the checkpointed edge set PageRank
and connected components share), ``set_jaccard_pairs`` (guarded
set-overlap pairs at Jaccard >= 0.5, the media frame and gram sets) and
``dhash_band_pairs`` (banded dHash pairs within Hamming 3). They are
built from the kernels in ``operators/dedup.py``; connected components
is ``operators/graph.py``.

The standing cluster state: the incremental consumers (d101, s25 and
``durable_cluster_merge_sink``) keep the corpus's clusters as four
artifacts, named in ``STATE_ARTIFACTS`` — reps (fp, node, wt, n_tok),
comps (node, component), sh (node, shingle) and bands (node, band,
key). ``cluster_state`` builds them from a corpus, ``merge_delta``
folds a delta into them without re-pairing the corpus, and
``publish_state`` / ``read_state`` / ``state_complete`` store them as
one unit under the directory ``state_store`` keys by the corpus's file
manifest. ``NUM_HASHES``/``BANDS`` (the d07 operating point) and
``DELTA_SPLIT`` (the md5 bucket where the delta starts) are the
geometry every consumer of the state shares, d100 and s24 included.

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
banding; ``set_jaccard_sql`` is ``set_jaccard_pairs``' twin.

The values match the Spark stages exactly: shingles are the
posexplode + lead word n-grams of ``dedup.exploded_shingles``, the
signature is ``dedup.minhash_signatures``' per-salt ``md5('k:' ||
shingle)`` minimum, the band key is ``dedup.band_key_rows``' md5 of the
``|``-joined slice, and Jaccard is one double division of exact integer
shingle counts (``dedup.exact_jaccard``).
"""

from __future__ import annotations

import pathlib
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineer_project_spark.functions import text as T
from data_engineer_project_spark.operators import dedup as DD
from data_engineer_project_spark.operators import graph as GR
from data_engineer_project_spark.operators import similarity as SIM
from data_engineer_project_spark.operators.cache import tracked_persist
from data_engineer_project_spark.operators.fanout import fanout_small

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


# ------------------------------------------------------ pair stages

# The d07 operating point: 8 salted-md5 MinHashes in 4 bands of 2.
NUM_HASHES, BANDS = 8, 4


def set_jaccard_pairs(
    sets: DataFrame, key: str, size_name: str, consumer: str
) -> DataFrame:
    """Near-dup pairs by set overlap over a distinct (doc_id, ``key``)
    set: every doc pair sharing a key (skew-guarded self-join on
    ``key``, verdicts cached and logged under ``consumer``), |A∩B| as
    n_common, kept when 2·n_common >= |A∪B| (Jaccard >= 0.5, integer
    cross-multiplied). Returns (doc_a, doc_b, n_common,
    n_<size_name>_a, n_<size_name>_b, jaccard) ordered by (doc_a,
    doc_b); jaccard is one double division of the integer counts.
    ``sets`` is persisted: the guard's probe, the sizes and both join
    sides read it."""
    sets = tracked_persist(sets)
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        DD.skew_guarded_self_pairs(sets, [key], "doc_id", consumer=consumer)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    n_a, n_b = f"n_{size_name}_a", f"n_{size_name}_b"
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias(n_a))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias(n_b))
    union_n = F.col(n_a) + F.col(n_b) - F.col("n_common")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(2 * F.col("n_common") >= union_n)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            n_a,
            n_b,
            (F.col("n_common").cast("double") / union_n.cast("double")).alias(
                "jaccard"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


def dhash_bands() -> Column:
    """One (bi, bk) struct row per 16-bit band of the 64-bit dHash
    ``phash`` (explode it, then select ``band.bi``/``band.bk``): bit 63
    rides the sign, and shift-then-mask gives the logical band value.
    Two hashes within Hamming radius 3 share at least one band."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(bi).alias("bi"),
                    F.shiftright("phash", 16 * bi).bitwiseAND(F.lit(65535)).alias("bk"),
                )
                for bi in range(4)
            ]
        )
    )


def dhash_band_pairs(
    hashes: DataFrame, id_col: str, carry: tuple[str, ...], consumer: str
) -> DataFrame:
    """Pairs (doc_a < doc_b) of ``hashes`` rows whose 64-bit dHash
    ``phash`` differ in at most 3 bits. Candidates come from the
    skew-guarded self-join on the four 16-bit bands (bit 63 rides the
    sign; shift-then-mask gives the logical band value), which cannot
    miss a radius-3 pair: its ≤3 differing bits leave one band equal.
    The guard salts a degenerate band value (the all-zero band of
    blank-ish images) into ≤cap² cells instead of one quadratic task.
    ``phash`` and the ``carry`` columns come back from both sides as
    ``{c}_a``/``{c}_b``; a pair sharing several bands appears once per
    shared band."""
    bands = hashes.select(id_col, "phash", *carry, dhash_bands().alias("band")).select(
        id_col, "phash", *carry, "band.bi", "band.bk"
    )
    return DD.skew_guarded_self_pairs(
        bands, ["bi", "bk"], id_col, carry=("phash", *carry), consumer=consumer
    ).filter(F.bit_count(F.col("phash_a").bitwiseXOR(F.col("phash_b"))) <= 3)


def verified_pairs(docs: DataFrame) -> DataFrame:
    """d07's verified near-dup pairs (doc_a, doc_b, jaccard) over
    ``docs`` (doc_id, text): MinHash at the ``NUM_HASHES``/``BANDS``
    operating point, exact Jaccard >= 0.5, over the fan-out guarded
    scan."""
    return DD.minhash_lsh_pairs(
        fanout_small(docs),
        num_hashes=NUM_HASHES,
        bands=BANDS,
        jaccard_threshold=0.5,
    )


def rank_edges(pairs: DataFrame) -> DataFrame:
    """The persisted undirected edge set (e_src, e_dst) of verified
    ``pairs`` (doc_a < doc_b), hash-partitioned by e_src, that the
    PageRank rounds and connected components share (d74, d89): each
    round's edge join reuses the partitioning, so only the node-sized
    rank table shuffles per round. The pairs are localCheckpointed
    first, not persisted: every round re-references them, and a
    persist leaves the full LSH and verify lineage in each consumer's
    plan (d89's composed rollup plan printed 4.1 MB and was re-planned
    per job). Verified pairs are unique with doc_a < doc_b, so the
    mirrored union is distinct (the CC contract)."""
    p = pairs.select("doc_a", "doc_b").localCheckpoint()
    return tracked_persist(
        p.selectExpr("doc_a AS e_src", "doc_b AS e_dst")
        .union(p.selectExpr("doc_b AS e_src", "doc_a AS e_dst"))
        .repartition(F.col("e_src"))
    )


# ----------------------------------------- the standing cluster state

# md5(doc_id) bucket (0-99, ``curation.SPARK_BUCKET``) at which the
# crawl delta starts: the top decile is the delta, the rest the corpus.
DELTA_SPLIT = 90

STATE_ARTIFACTS = ("reps", "comps", "sh", "bands")

# Folded into every ``state_store`` key: bump it when the artifacts'
# names or meaning change. write_store_atomic keeps an existing target
# directory, so a store of the old layout must never be found.
STATE_VERSION = 3


def cluster_state(corpus: DataFrame) -> dict:
    """The cold build of the standing state over ``corpus`` (doc_id,
    text): collapse exact copies, shingle the reps, MinHash-band and
    verify their pairs, connected components, and the reps' band keys.
    Returns the four artifacts by name (``STATE_ARTIFACTS``)."""
    reps = tracked_persist(collapse_exact(corpus))
    sh = tracked_persist(
        DD.exploded_shingles(reps.select("node", "text"), id_col="node").distinct()
    )
    pairs = DD.minhash_lsh_pairs_from_shingles(
        sh,
        id_col="node",
        num_hashes=NUM_HASHES,
        bands=BANDS,
        jaccard_threshold=0.5,
    ).select("doc_a", "doc_b")
    comps = GR.connected_components(pairs, pairs_unique=True)
    sig = DD.minhash_signatures(sh, id_col="node", num_hashes=NUM_HASHES)
    return {
        "reps": reps.select(
            "fp", "node", "wt", T.token_count("text").alias("n_tok")
        ),
        "comps": comps.select("node", "component"),
        "sh": sh,
        "bands": DD.band_key_rows(
            sig, id_col="node", num_hashes=NUM_HASHES, bands=BANDS
        ),
    }


def merge_delta(delta: DataFrame, st: dict) -> dict:
    """Merge a crawl delta (doc_id, text) into the standing state ``st``
    without ever re-pairing the corpus with itself, returning the
    UPDATED state. Its ``weighted_rollup`` is hash-equal to d99 run
    from scratch on corpus + delta. The returned dict has the same
    shape, with renames applied to the shingle/band node keys, so
    merges CHAIN: state merged batch by batch equals one merge of the
    concatenated delta (s25 relies on exactly this — each
    micro-batch's novels join the band/shingle tables the next batch
    probes, and weight bumps/renames land on reps keyed by fp).

    The corpus is never re-scanned, let alone self-joined: the work is
    sized by the DELTA (its shingles/signatures, a one-sided probe into
    ``bands``, verify joins into ``sh``) plus the star-edge CC pass
    over the standing components. Why this is exact, case by case (all
    pinned by the d99-parity pytest):
    - exact dups: a delta fingerprint matching a corpus rep bumps the
      rep's weight; identical text means identical signatures, so the
      rep's connectivity is already encoded in the standing
      components. If the delta brings a SMALLER doc_id, the rep (and
      every component label it may have anchored) is relabeled via a
      rename map — from-scratch reps take min(doc_id) over the full
      set.
    - near dups: only NOVEL delta fingerprints are paired — one-sided
      band probe (delta x corpus, the d100 shape) plus a delta x delta
      guarded self-join. ALL verified pairs are kept (not d100's best
      match): a delta doc near TWO standing components is a BRIDGE
      whose edges must merge them, exactly as from-scratch would.
    - connectivity: connected components re-runs over (standing
      membership star edges) ∪ (delta edges) — star edges are
      already-converged pointer trees, so rounds stay at the log
      diameter of the NEW merges.
    - rollup: d99's weighted_rollup over the merged rep set (bumped
      weights, relabeled nodes, novel singletons with wt > 1
      surfacing as components)."""
    stored_reps, stored_comps, shc, bc = (
        st["reps"],
        st["comps"],
        st["sh"],
        st["bands"],
    )
    dfp = collapse_exact(delta).select(
        "fp",
        F.col("node").alias("d_doc"),
        "text",
        F.col("wt").alias("wt_d"),
    )
    matched = stored_reps.join(dfp.select("fp", "d_doc", "wt_d"), "fp")
    # no broadcast hint: the rename map is sized by the DELTA's
    # exact-dup fingerprints — delta-proportional, not query-bounded —
    # so AQE picks the strategy (it broadcasts when genuinely small).
    rename = matched.filter(F.col("d_doc") < F.col("node")).select(
        F.col("node").alias("_old"), F.col("d_doc").alias("_new")
    )
    novel = dfp.join(stored_reps.select("fp"), "fp", "left_anti").select(
        "fp",
        F.col("d_doc").alias("node"),
        "text",
        F.col("wt_d").alias("wt"),
        T.token_count("text").alias("n_tok"),
    )
    merged_reps = (
        stored_reps.join(dfp.select("fp", "d_doc", "wt_d"), "fp", "left")
        .select(
            "fp",
            F.least(F.col("node"), F.coalesce("d_doc", "node")).alias("node"),
            (F.col("wt") + F.coalesce("wt_d", F.lit(0))).alias("wt"),
            "n_tok",
        )
        .union(novel.select("fp", "node", "wt", "n_tok"))
    )

    def ren(df, col):
        return (
            df.join(rename, df[col] == rename["_old"], "left")
            .withColumn(col, F.coalesce("_new", col))
            .drop("_old", "_new")
        )

    # delta shingles over novels only; the corpus side (shc, bc) comes
    # from the standing store — nothing corpus-sized is recomputed.
    shn = tracked_persist(
        DD.exploded_shingles(novel, id_col="node").distinct()
    )
    sign = DD.minhash_signatures(shn, id_col="node", num_hashes=NUM_HASHES)
    bn = DD.band_key_rows(sign, id_col="node", num_hashes=NUM_HASHES, bands=BANDS)
    cand_dc = (
        bn.select(F.col("node").alias("doc_a"), "band", "key")
        .join(bc.select(F.col("node").alias("doc_b"), "band", "key"), ["band", "key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    # prefilter=True: cand_dc is DELTA-sized while sh_all unions the
    # FULL corpus shingle artifact — the size-gated §3.2 semi-join
    # prunes the corpus side to candidate docs before exact_jaccard's
    # by-node exchanges once the store clears the gate (a plan no-op
    # at bench scale, where the gate keeps the measured-faster shape).
    sh_all = shn.union(shc)
    e_dc = (
        DD.exact_jaccard(cand_dc, sh_all, id_col="node", prefilter=True)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    e_dd = DD.minhash_lsh_pairs_from_shingles(
        shn, id_col="node", num_hashes=NUM_HASHES, jaccard_threshold=0.5
    ).select("doc_a", "doc_b")
    # Star edges drop the root self-loops (node == component): they
    # carry no connectivity — every root of a ≥2-node standing cluster
    # still appears as the doc_b of its members' edges — and removing
    # them makes the mirrored edge union DISTINCT by construction, so
    # CC can skip its full-edge-set dedup aggregate (r15, §2.4):
    # each unordered pair appears in exactly ONE source (star pairs
    # corpus×corpus, e_dc pairs novel×corpus, e_dd pairs novel×novel)
    # and in one orientation, and the rename map is injective over
    # disjoint id spaces, so no two pairs collide after relabeling.
    # pairs_unique is performance-only either way — duplicate edges
    # could not change the labels (see connected_components).
    star = stored_comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_a"), F.col("component").alias("doc_b")
    )
    all_edges = (
        ren(ren(star, "doc_a"), "doc_b")
        .union(ren(e_dc, "doc_b"))
        .union(e_dd)
    )
    comps = GR.connected_components(all_edges, pairs_unique=True)
    return {
        "reps": merged_reps,
        "comps": comps.select("node", "component"),
        "sh": ren(shn.union(shc), "node"),
        "bands": ren(bn.union(bc), "node"),
    }


def _docs_fingerprint(docs: DataFrame) -> tuple[int, int, int]:
    """(row count, id checksum, text checksum): the text checksum sums
    the first 8 md5 hex digits of every text as int (order-free
    integer addition, partition-invariant; 2^32 x 10^7 rows stays far
    inside int64). The identity of a frame not backed by files
    (unit-test fixtures); it scans the whole text column."""
    fp = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("s"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        ).alias("v"),
    ).collect()[0]
    return int(fp["n"]), int(fp["s"]), int(fp["v"])


def corpus_key(docs: DataFrame) -> str:
    """Identity of the corpus a state is built from. A file-backed frame
    is keyed without scanning its data by
    ``similarity.source_manifest_key`` (the files' (uri, size, mtime)
    manifest plus the plan identity, so a differently filtered frame
    over the same files gets another key); any other frame by its
    content fingerprint."""
    return SIM.source_manifest_key(docs) or "n{}_s{}_v{}".format(
        *_docs_fingerprint(docs)
    )


def state_store(corpus: DataFrame) -> pathlib.Path:
    """Warehouse directory of the standing state built from ``corpus``,
    keyed by ``corpus_key`` and the geometry. The ``*_store`` family
    name puts it under ``similarity.sweep_stores``' keep-latest-N."""
    key = (
        f"a{STATE_VERSION}_{corpus_key(corpus)}"
        f"_p{DELTA_SPLIT}_h{NUM_HASHES}_b{BANDS}"
    )
    return SIM.WAREHOUSE / "neardup_cluster_store" / key


def state_complete(root) -> bool:
    """True when all four artifacts under ``root`` carry their
    ``_SUCCESS`` marker (write_store_atomic's commit record)."""
    return all(
        (pathlib.Path(root) / a / "_SUCCESS").exists() for a in STATE_ARTIFACTS
    )


def read_state(spark, root) -> dict:
    """The state published under ``root``, one parquet scan each."""
    return {
        a: spark.read.parquet(str(pathlib.Path(root) / a)) for a in STATE_ARTIFACTS
    }


def publish_state(state: dict, root) -> None:
    """Write each artifact missing under ``root`` through
    write_store_atomic (temp write, rename, ``_SUCCESS``). Each
    publish is atomic, so a crash between two leaves some artifacts
    complete and the rest absent; the next publish writes only the
    absent ones."""
    for a in STATE_ARTIFACTS:
        path = pathlib.Path(root) / a
        if not (path / "_SUCCESS").exists():
            SIM.write_store_atomic(state[a], path)


def _complete_batches(root) -> list[int]:
    return sorted(
        int(d.name.split("=", 1)[1])
        for d in pathlib.Path(root).glob("batch=*")
        if state_complete(d)
    )


def latest_batch(root) -> int | None:
    """Highest batch id with a complete state under the batch-versioned
    ``root`` (``root``/batch=<id>/), or None before the initial state
    is published."""
    done = _complete_batches(root)
    return done[-1] if done else None


def durable_cluster_merge_sink(store_root):
    """foreachBatch sink keeping the standing state DURABLY — the
    100 TB form of s25's localCheckpoint chain: every micro-batch is
    merged (``merge_delta``) into the latest complete state and
    published under ``store_root``/batch=<id>/, so a crash at any
    point leaves the last COMPLETE batch state readable. The three
    newest complete batches are kept.

    Exactly-once across restarts is the standard foreachBatch
    idempotent-write recipe: the stream checkpoint replays any batch
    whose commit did not land, and the sink SKIPS a replayed batch
    whose state is already complete (its merge is already in the
    store) — publish-then-crash and crash-then-publish both converge.
    On restart the sink reloads the latest complete state, so driver
    memory holds nothing the store does not.

    Each publish is a full snapshot of the four artifacts; at 100 TB
    the shingle/band tables are append-dominant (novel rows only) and
    reps compact periodically — the same artifacts, written
    incrementally, behind this sink signature.

    The initial (corpus) state must already be published as batch -1
    (``publish_state(cluster_state(corpus), store_root + "/batch=-1")``)
    before the stream starts."""
    root = pathlib.Path(store_root)

    def sink(batch_df, batch_id):
        if batch_df.isEmpty() or state_complete(root / f"batch={batch_id}"):
            return  # nothing to merge, or a replay of a published batch
        prev = latest_batch(root)
        if prev is None:
            raise ValueError(
                "durable_cluster_merge_sink: no complete initial state "
                f"under {root} (publish it as batch -1 first)"
            )
        st = read_state(batch_df.sparkSession, root / f"batch={prev}")
        # the publish materializes the merge: the store IS the lineage cut
        publish_state(
            merge_delta(batch_df.select("doc_id", "text"), st),
            root / f"batch={batch_id}",
        )
        for bid in _complete_batches(root)[:-3]:
            shutil.rmtree(root / f"batch={bid}", ignore_errors=True)

    return sink


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


def set_jaccard_sql(sets: str, key: str, size_name: str) -> str:
    """``set_jaccard_pairs`` over the distinct relation ``sets``(doc_id,
    ``key``): ``sizes``(doc_id, n), ``inter``(doc_a, doc_b, n_common)
    and ``sj``(doc_a, doc_b, n_common, n_<size_name>_a,
    n_<size_name>_b, jaccard), the pairs with 2·n_common >= |A∪B|.
    Unordered; the oracle ends ``SELECT * FROM sj ORDER BY doc_a,
    doc_b``."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM {sets} GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM {sets} a JOIN {sets} b ON a.{key} = b.{key} AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sj AS (
      SELECT i.doc_a, i.doc_b, i.n_common,
             za.n AS n_{size_name}_a, zb.n AS n_{size_name}_b,
             CAST(i.n_common AS DOUBLE)
               / CAST(za.n + zb.n - i.n_common AS DOUBLE) AS jaccard
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE 2 * i.n_common >= za.n + zb.n - i.n_common
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


def probe_sql() -> str:
    """d07's chain at the standing state's operating point, built over
    ``rem`` (the incoming survivors, suffix i) and ``corp`` (the
    corpus, suffix c), then the one-sided band probe and verify into
    ``ver``(new_doc, corpus_doc, jaccard) — the oracle side of d100's
    and s24's probe."""
    return f"""{shingles_sql("rem", suffix="i")},
    {minhash_sql(NUM_HASHES, BANDS, suffix="i")},
    {shingles_sql("corp", suffix="c")},
    {minhash_sql(NUM_HASHES, BANDS, suffix="c")},
    {verify_probe_sql("i", "c", 0.5)}"""


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
