"""Connected components over a pair/edge list — the step that turns
near-duplicate PAIRS (MinHash-LSH / SimHash output) into duplicate
CLUSTERS with one canonical survivor each. Spark has no graph operator
in the DataFrame API; this is iterative min-label propagation built
from joins + aggregates (SURVEY custom-operator tier (a)).

Each iteration does two label moves: (1) every node takes the minimum
label among itself and its neighbors (one equi-join + one groupBy-min,
plain shuffles on the node key), then (2) POINTER JUMPING — every node
replaces its label with its label's label (labels are node ids, so one
more self-join; labels only ever decrease). Step 2 doubles the
distance a minimum has travelled, so convergence needs O(log diameter)
rounds instead of O(diameter) — the same idea as Kiveris et al.'s
large-star/small-star alternation ("Connected Components in MapReduce
and Beyond", SoCC'14) and classic PRAM path halving. Hamming-chain
near-dup graphs (m10) reach diameters in the tens where plain
propagation would exhaust its round budget and silently mislabel;
with jumping, 20 rounds cover any diameter up to ~2²⁰, and running
out anyway RAISES rather than returning unconverged labels.

The driver-side loop only checks a scalar convergence checksum per
round; all data movement is distributed. ``localCheckpoint`` truncates
the lineage each round so the plan does not grow with iterations.

Shuffle layout (r14, guide §2.4): the undirected edge set is
hash-partitioned by ``e_src`` ONCE, up front, and persisted that way.
Every round's neighbor join then reuses that partitioning — only the
node-sized label table moves per round — where the previous layout
(partitioned by (e_src, e_dst) as a side effect of ``distinct``)
re-exchanged the whole edge set inside EVERY round. The dedup still
costs exactly one exchange: ``repartition(e_src)`` followed by
``dropDuplicates([e_src, e_dst])`` plans the aggregate WITHOUT its own
exchange because hash(e_src) already clusters equal (e_src, e_dst)
rows. Callers whose pair set has no duplicate unordered pair, no
self-loop, and one orientation per pair by construction (verified
near-dup pairs, standing-cluster star edges) pass ``pairs_unique=True``
and skip the dedup aggregate entirely — the mirrored union of such
pairs cannot contain duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineer_project_spark.operators import plancap

# Diagnostics of the most recent connected_components call (rounds
# taken, converged flag). The loop's cost model is O(log diameter)
# rounds — scale tooling (tools/scale_stress.py, tests) reads this to
# assert the logarithmic claim empirically instead of trusting the
# docstring. Overwritten per call; no extra Spark actions.
LAST_RUN_STATS: dict = {}

_INTEGRAL_ID_TYPES = ("byte", "short", "integer", "long", "decimal")


def connected_components_from_edges(
    und: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label propagation over a PREBUILT undirected edge set —
    the shared-exchange entry point for callers that already hold the
    mirrored edge table for their own use (d89/d74 reuse it across
    the PageRank rounds, so building it twice would double the edge
    materialization).

    ``und`` must have columns ``e_src``/``e_dst`` with BOTH directions
    of every edge present and no duplicate rows; it should be
    persisted by the caller (it is read every round; this function
    never unpersists it) and ideally hash-partitioned by ``e_src`` so
    the per-round neighbor join adds no edge-set exchange. Returns
    (node, component).
    """
    for col in ("e_src", "e_dst"):
        id_type = und.schema[col].dataType.typeName()
        if id_type not in _INTEGRAL_ID_TYPES:
            raise ValueError(
                f"connected_components requires integral node ids, got "
                f"{id_type} for {col!r}"
            )
    # plan-audit hook: the edge pipeline is consumed HERE, inside the
    # loop-at-build operator, so this is where its plan is visible
    plancap.grab("cc input pair join", und)

    # und is partitioned by e_src, so this distinct plans with no
    # fresh exchange (hash(e_src) already clusters equal nodes).
    # Checkpoints are LAZY (r14): the convergence checksum that
    # follows every (re)labeling is the action that materializes the
    # checkpoint, so each round runs ONE job instead of two (eager
    # checkpoint + separate checksum collect) — at bench scale the
    # loop is job-overhead-bound, and at cluster scale it halves the
    # number of scheduling waves per round.
    labels = und.select(F.col("e_src").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    ).localCheckpoint(eager=False)

    def _checksum(df: DataFrame) -> int:
        # exact decimal sum: labels only ever decrease, so the total is
        # strictly monotone until the fixpoint — a scalar convergence
        # probe with no extra join/shuffle
        return df.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]

    prev = _checksum(labels)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neighbor = und.join(labels, und.e_src == labels.node).select(
            F.col("e_dst").alias("node"), "comp"
        )
        hop = (
            labels.union(neighbor)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp is itself a node id, so look up ITS label
        # and adopt it (always <= comp). Left join + coalesce keeps the
        # row even if a label were not a labeled node (cannot happen —
        # labels are min() over node ids — but cheap insurance).
        # (A second jump per round was measured in round 6 and
        # REJECTED: rounds stayed exactly 13 on m10's sf0.1 graphs —
        # after one jump the pointer graph is already flat, so the
        # frontier is edge-propagation-bound and the extra label
        # self-join only added ~60% wall time.)
        lut = hop.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        nxt_labels = hop.join(lut, hop.comp == lut.p_node, "left").select(
            "node",
            F.coalesce("p_comp", "comp").alias("comp"),
        )
        if rounds == 2:
            # plan-audit hook: one representative STEADY-STATE round
            # (edge propagation + min fold + pointer jump) — round 2,
            # where the previous checkpoint has truncated the lineage,
            # so the captured plan is what every subsequent round pays
            # (round 1's plan would re-print the whole pair pipeline)
            plancap.grab("cc pointer-jump round", nxt_labels)
        labels = nxt_labels.localCheckpoint(eager=False)
        cur = _checksum(labels)
        if cur == prev:
            converged = True
            break
        prev = cur

    LAST_RUN_STATS.clear()
    LAST_RUN_STATS.update({"rounds": rounds, "converged": converged})
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(with pointer jumping that needs diameter > ~2^max_iter); "
            "raise max_iter"
        )
    return labels.select("node", F.col("comp").alias("component"))


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    pairs_unique: bool = False,
) -> DataFrame:
    """Label every node that appears in ``pairs`` with the minimum node
    id of its connected component. Returns (node, component).

    Only nodes present in at least one edge are labeled (singletons
    trivially form their own component and are cheap to union back in
    if needed).

    ``pairs_unique=True`` asserts the caller's pair set has no
    duplicate unordered pair, no self-loop, and one orientation per
    pair (``src < dst`` is one way to guarantee that, but d101's
    ``(member, root)`` star edges need not satisfy it) — then the
    mirrored union is distinct by construction and the dedup aggregate
    is skipped (performance only; duplicate edges would not change the
    labels, just the per-round cost).
    """
    # The convergence probe sums labels as decimal; a non-numeric id
    # type would cast to NULL, make every checksum None, and stop the
    # loop after one round with wrong components. Enforce the contract
    # instead of silently mislabeling (string ids: map to dense ints
    # first, e.g. xxhash64 or a zipWithIndex-style dimension).
    for col in (src, dst):
        id_type = pairs.schema[col].dataType.typeName()
        if id_type not in _INTEGRAL_ID_TYPES:
            raise ValueError(
                f"connected_components requires integral node ids, got "
                f"{id_type} for {col!r}"
            )
    # The undirected union scans ``pairs`` TWICE in one materialization
    # — persist it through the union so expensive upstream pair plans
    # (banded LSH with the skew-guard grid, Jaccard verification)
    # compute once, then release the handle: ``und`` is the persisted
    # edge set every round actually reads.
    lvl = pairs.storageLevel
    caller_cached = lvl.useMemory or lvl.useDisk
    plancap.grab("cc input pair join", pairs)
    pairs_c = pairs if caller_cached else pairs.persist()
    fwd = pairs_c.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    und = fwd.union(
        pairs_c.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst"))
    ).repartition(F.col("e_src"))
    if not pairs_unique:
        und = und.dropDuplicates(["e_src", "e_dst"])
    und = und.persist()
    try:
        labels = connected_components_from_edges(und, max_iter)
    finally:
        und.unpersist()
        if not caller_cached:
            pairs_c.unpersist()
    return labels
