"""Connected components: the driver path and the distributed loop must
label every graph identically.

``graph._LOCAL_MAX_EDGES`` is the only switch between the two paths;
monkeypatching it to 0 forces the loop on any non-empty graph. Each
shape below runs both ways and compares the (node, component) sets and
the output schema types, and ``graph.LAST_RUN_STATS["path"]`` pins
which path actually ran.
"""

from __future__ import annotations

import math
import os
import random

import numpy as np
import pytest

from data_engineer_project_spark.operators import graph as G


def _run_both(monkeypatch, fn):
    """fn() once on the driver path, once with the loop forced; returns
    {path: (rows, schema types, columns)} after checking the path taken."""
    out = {}
    for path, bound in (("driver", 1 << 20), ("loop", 0)):
        monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", bound)
        df = fn()
        rows = {(r["node"], r["component"]) for r in df.collect()}
        out[path] = (rows, [f.dataType for f in df.schema.fields], df.columns)
        if rows:  # an empty graph is solved on the driver under any bound
            assert G.LAST_RUN_STATS["path"] == path
            assert G.LAST_RUN_STATS["converged"]
    return out


def _assert_parity(out, expected=None):
    drv, loop = out["driver"], out["loop"]
    assert drv[2] == loop[2] == ["node", "component"]
    assert drv[1] == loop[1]
    assert drv[0] == loop[0]
    if expected is not None:
        assert drv[0] == expected


def _chains(n_chains, length):
    edges, expected = [], set()
    for c in range(n_chains):
        base = c * length
        edges += [(base + i, base + i + 1) for i in range(length - 1)]
        expected |= {(base + i, base) for i in range(length)}
    return edges, expected


def _stars(n_stars, size):
    edges, expected = [], set()
    for s in range(n_stars):
        hub = s * size
        edges += [(hub + i, hub) for i in range(1, size)]  # member -> root
        expected |= {(hub + i, hub) for i in range(size)}
    return edges, expected


def test_chains_200x50(spark, monkeypatch):
    edges, expected = _chains(200, 50)
    random.Random(7).shuffle(edges)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = _run_both(monkeypatch, lambda: G.connected_components(pairs, pairs_unique=True))
    _assert_parity(out, expected)


def test_stars_500x40(spark, monkeypatch):
    edges, expected = _stars(500, 40)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = _run_both(monkeypatch, lambda: G.connected_components(pairs, pairs_unique=True))
    _assert_parity(out, expected)


def test_d99_pairs_sf01(spark, sf_dir, monkeypatch):
    """d99's own pair graph at sf0.1 (verified MinHash pairs over
    exact-dup representatives), built as the query builds it."""
    from data_engineer_project_spark.operators import dedup as DD
    from data_engineer_project_spark.operators import neardup as ND
    from data_engineer_project_spark.sources.registry import load_tables

    sf01 = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.1")
    if not os.path.exists(os.path.join(sf01, "documents.parquet")):
        pytest.skip("sf0.1 test data not present")
    docs = load_tables(spark, sf01).documents
    reps = ND.collapse_exact(docs, rep="doc_id").select("doc_id", "text", "wt").persist()
    pairs = DD.minhash_lsh_pairs(
        reps, num_hashes=8, bands=4, jaccard_threshold=0.5
    ).select("doc_a", "doc_b").persist()
    try:
        assert pairs.count() > 0
        out = _run_both(monkeypatch, lambda: G.connected_components(pairs, pairs_unique=True))
        _assert_parity(out)
    finally:
        pairs.unpersist()
        reps.unpersist()


def test_duplicates_self_loops_and_both_orientations(spark, monkeypatch):
    edges = [
        (1, 2), (1, 2), (2, 1),  # one pair three times, both orientations
        (3, 3),                  # self-loop: a singleton component
        (2, 4), (4, 4),
        (9, 8), (8, 9), (8, 9),
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = _run_both(monkeypatch, lambda: G.connected_components(pairs))
    _assert_parity(out, {(1, 1), (2, 1), (4, 1), (3, 3), (8, 8), (9, 8)})


def test_empty_pair_set(spark, monkeypatch):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = _run_both(monkeypatch, lambda: G.connected_components(pairs))
    _assert_parity(out, set())


@pytest.mark.parametrize("id_type", ["int", "short", "long", "decimal(20,0)"])
def test_id_types_kept(spark, monkeypatch, id_type):
    edges = [(5, 3), (3, 7), (20, 21), (22, 21)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long").selectExpr(
        f"CAST(doc_a AS {id_type}) AS doc_a", f"CAST(doc_b AS {id_type}) AS doc_b"
    )
    out = _run_both(monkeypatch, lambda: G.connected_components(pairs))
    _assert_parity(out, {(3, 3), (5, 3), (7, 3), (20, 20), (21, 20), (22, 20)})
    assert out["driver"][1] == [pairs.schema["doc_a"].dataType] * 2


def test_mixed_id_types_widen_like_the_loop(spark, monkeypatch):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a int, doc_b long")
    out = _run_both(monkeypatch, lambda: G.connected_components(pairs))
    _assert_parity(out, {(1, 1), (2, 1), (3, 1)})
    assert [t.typeName() for t in out["driver"][1]] == ["long", "long"]


def test_from_edges_entry_point(spark, monkeypatch):
    edges, expected = _chains(20, 10)
    und = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "e_src long, e_dst long"
    ).persist()
    try:
        out = _run_both(monkeypatch, lambda: G.connected_components_from_edges(und))
        _assert_parity(out, expected)
    finally:
        und.unpersist()


def test_string_ids_rejected_on_both_paths(spark, monkeypatch):
    edges = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    und = spark.createDataFrame([("a", "b")], "e_src string, e_dst string")
    for bound in (1 << 20, 0):
        monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", bound)
        with pytest.raises(ValueError, match="integral node ids"):
            G.connected_components(edges)
        with pytest.raises(ValueError, match="integral node ids"):
            G.connected_components_from_edges(und)


def test_bound_is_the_real_edge_count(spark, monkeypatch):
    """At the bound the driver solves the graph; one edge over it, the
    loop does — whatever the source-size estimate says (a persisted
    frame has no input files to estimate from)."""
    edges, expected = _chains(3, 4)  # 9 edges
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long").persist()
    try:
        for bound, path in ((len(edges), "driver"), (len(edges) - 1, "loop")):
            monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", bound)
            rows = {tuple(r) for r in G.connected_components(pairs).collect()}
            assert rows == expected
            assert G.LAST_RUN_STATS["path"] == path
    finally:
        pairs.unpersist()


def test_null_ids_take_the_loop(spark):
    """The driver kernel has no null node; a pair set holding a null id
    keeps the loop's semantics."""
    pairs = spark.createDataFrame([(1, 2), (2, None)], "doc_a long, doc_b long")
    rows = {tuple(r) for r in G.connected_components(pairs).collect()}
    assert G.LAST_RUN_STATS["path"] == "loop"
    assert {(1, 1), (2, 1)} <= rows


def test_driver_path_plans_as_local_table_scan(spark):
    """The small path's labels are a LocalTableScan: no RDD scan, no
    Python worker stage."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    comps = G.connected_components(pairs, pairs_unique=True)
    assert G.LAST_RUN_STATS["path"] == "driver"
    plan = comps._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    for node in ("ExistingRDD", "MapInPandas", "PythonMapInArrow"):
        assert node not in plan, plan


def test_driver_kernel_iterations_grow_logarithmically():
    """The O(log D) pin of the loop's rounds, on the driver kernel:
    path graphs of diameter 8, 64, 512 and 4096."""
    iters = {}
    for d in (8, 64, 512, 4096):
        a = np.arange(d)
        label, iters[d] = G._min_label_kernel(a, a + 1, d + 1)
        assert (label == 0).all()
    for d, r in iters.items():
        assert r <= 2 * math.log2(d) + 4, (d, r, iters)
    assert iters[512] - iters[8] <= 8, iters


def test_driver_path_rounds_are_kernel_iterations(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(512)], "doc_a long, doc_b long"
    )
    labels = {r["node"]: r["component"] for r in G.connected_components(pairs).collect()}
    assert set(labels.values()) == {0} and len(labels) == 513
    a = np.arange(512)
    assert G.LAST_RUN_STATS == {
        "path": "driver",
        "rounds": G._min_label_kernel(a, a + 1, 513)[1],
        "converged": True,
    }
