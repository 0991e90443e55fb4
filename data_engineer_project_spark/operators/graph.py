"""Connected components over a pair/edge list — the step that turns
near-duplicate PAIRS (MinHash-LSH / SimHash output) into duplicate
CLUSTERS with one canonical survivor each: every node is labeled with
the minimum node id of its component. Spark has no graph operator in
the DataFrame API, so the plan is chosen from the edge count seen at
run time, not fixed up front (Shark's partial-DAG idea, SIGMOD 2013).

DRIVER PATH (graphs of at most ``_LOCAL_MAX_EDGES`` edges — every
bench-scale consumer). One bounded Arrow collect (``limit(bound + 1)``)
pulls the edge frame the loop would read to the driver; if it fits, a
numpy kernel labels it there — dense ids from ``np.unique``, then the
same min-label + pointer-jump iteration as the loop below, until
nothing changes — and the labels come back through
``createDataFrame(pyarrow.Table)``, which plans as a
``LocalTableScan``: no Python worker, no per-round jobs. At bench scale
the loop paid for job overhead, not graph work (d99's few hundred edges
cost 30-31 stages). The gate is the REAL edge count, never a
source-size estimate: d99's pairs come from a persisted frame with no
input files, so "no estimate = small" would send any graph to the
driver. A one-task ``repartition(1).mapInPandas`` form of this path was
measured and rejected: it brought a Python worker (and its decoder
sidecar) into d99 and slowed the codec slots that reuse the workers.

LOOP PATH (larger graphs). Iterative min-label propagation built from
joins + aggregates (SURVEY custom-operator tier (a)).

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

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from data_engineer_project_spark.operators import plancap

# Diagnostics of the most recent connected_components call: the path
# taken ("driver" or "loop"), rounds (loop rounds, or the driver
# kernel's iterations — both count the confirming last one) and the
# converged flag. Both paths cost O(log diameter) rounds — scale
# tooling (tools/scale_stress.py, tests) reads this to assert the
# logarithmic claim empirically instead of trusting the docstring.
# Overwritten per call; no extra Spark actions.
LAST_RUN_STATS: dict = {}

_INTEGRAL_ID_TYPES = ("byte", "short", "integer", "long", "decimal")

# Largest edge frame labeled on the driver. 1M int64 pairs are ~16 MB
# of Arrow; their labels (≤ 2M nodes × 16 B) stay under Spark's 48 MB
# arrow.localRelationThreshold, so the result plans as a LocalTableScan.
_LOCAL_MAX_EDGES = 1 << 20


def _require_integral(df: DataFrame, cols) -> None:
    # The loop's convergence probe sums labels as decimal; a
    # non-numeric id type would cast to NULL, make every checksum None,
    # and stop the loop after one round with wrong components. Enforce
    # the contract on both paths instead of silently mislabeling
    # (string ids: map to dense ints first, e.g. xxhash64 or a
    # zipWithIndex-style dimension).
    for col in cols:
        id_type = df.schema[col].dataType.typeName()
        if id_type not in _INTEGRAL_ID_TYPES:
            raise ValueError(
                f"connected_components requires integral node ids, got "
                f"{id_type} for {col!r}"
            )


def _min_label_kernel(a: np.ndarray, b: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """The loop's label moves on the driver, over dense ids ``0..n-1``
    and undirected edges ``(a[i], b[i])``: every node takes the minimum
    label among itself and its neighbors, then pointer-jumps (label :=
    label[label]), until an iteration changes nothing. Returns (labels,
    iterations including the confirming one) — O(log diameter)
    iterations, like the loop's rounds."""
    label = np.arange(n)
    iters = 0
    while True:
        iters += 1
        hop = label.copy()
        np.minimum.at(hop, a, label[b])
        np.minimum.at(hop, b, label[a])
        hop = hop[hop]
        if np.array_equal(hop, label):
            return label, iters
        label = hop


def _solve_on_driver(edges: DataFrame) -> DataFrame | None:
    """(node, component) for ``edges`` (two id columns of ONE type),
    labeled on the driver — or None when the frame holds more than
    ``_LOCAL_MAX_EDGES`` rows or a null id (the loop keeps its
    semantics for those). Reads at most bound + 1 rows."""
    tbl = edges.limit(_LOCAL_MAX_EDGES + 1).toArrow()
    if tbl.num_rows > _LOCAL_MAX_EDGES or any(c.null_count for c in tbl.columns):
        return None
    a, b = (c.to_numpy() for c in tbl.columns)
    # np.unique sorts, so the minimum dense id is the minimum node id
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    label, iters = _min_label_kernel(idx[: len(a)], idx[len(a):], len(nodes))
    LAST_RUN_STATS.clear()
    LAST_RUN_STATS.update({"path": "driver", "rounds": iters, "converged": True})
    id_type = edges.schema[0].dataType
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    return edges.sparkSession.createDataFrame(
        pa.table({"node": nodes, "component": nodes[label]}), schema
    )


def connected_components_from_edges(
    und: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components over a PREBUILT undirected edge set —
    the shared-exchange entry point for callers that already hold the
    mirrored edge table for their own use (d89/d74 reuse it across
    the PageRank rounds, so building it twice would double the edge
    materialization).

    ``und`` must have columns ``e_src``/``e_dst`` with BOTH directions
    of every edge present and no duplicate rows; it should be
    persisted by the caller (the driver path reads it once, the loop
    every round; this function never unpersists it) and ideally
    hash-partitioned by ``e_src`` so the per-round neighbor join adds
    no edge-set exchange. Returns (node, component); ``max_iter``
    bounds the loop's rounds only — the driver kernel always reaches
    its fixpoint.
    """
    _require_integral(und, ("e_src", "e_dst"))
    labels = _solve_on_driver(und.select("e_src", "e_dst"))
    return labels if labels is not None else _label_loop(und, max_iter)


def _label_loop(und: DataFrame, max_iter: int) -> DataFrame:
    """The distributed min-label + pointer-jump loop over ``und``
    (see the module docstring)."""
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
    LAST_RUN_STATS.update({"path": "loop", "rounds": rounds, "converged": converged})
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
    _require_integral(pairs, (src, dst))
    # The undirected union scans ``pairs`` TWICE in one materialization
    # — persist it through the union so expensive upstream pair plans
    # (banded LSH with the skew-guard grid, Jaccard verification)
    # compute once, then release the handle: the driver path reads the
    # forward edges once, and ``und`` is the persisted edge set every
    # loop round actually reads.
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
    # one orientation per pair is enough for the driver kernel; both
    # ids take the union's (widened) type, as the loop's labels do
    id_type = und.schema["e_src"].dataType
    try:
        labels = _solve_on_driver(
            fwd.select(*(F.col(c).cast(id_type) for c in ("e_src", "e_dst")))
        )
        if labels is None:
            und = und.persist()
            try:
                labels = _label_loop(und, max_iter)
            finally:
                und.unpersist()
    finally:
        if not caller_cached:
            pairs_c.unpersist()
    return labels
