"""Unit tests for the time-series operators (as-of join, range join) —
edge semantics the sf-wide oracle parity test can't isolate: exact-ts
inclusivity, no-match nulls, half-open interval boundaries, bucket
crossings."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_engineer_project_spark.operators.asof import asof_join
from data_engineer_project_spark.operators.interval import range_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_backward_semantics(spark):
    probe = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "a"),  # exact-ts ref match
            (2, _ts("2024-01-01 10:30:00"), "b"),  # between refs -> earlier one
            (3, _ts("2024-01-01 09:00:00"), "c"),  # before all refs -> null
            (4, _ts("2024-01-01 12:00:00"), "d"),  # key with no refs -> null
        ],
        "k int, ts timestamp, tag string",
    )
    ref = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100.0),
            (1, _ts("2024-01-01 11:00:00"), 200.0),
            (2, _ts("2024-01-01 10:00:00"), 10.0),
            (2, _ts("2024-01-01 10:45:00"), 20.0),
            (3, _ts("2024-01-01 09:30:00"), 1.0),
        ],
        "k int, ts timestamp, v double",
    )
    out = {
        r["tag"]: r["asof_v"]
        for r in asof_join(probe, ref, "k", "ts", "ts", ["v"]).collect()
    }
    assert out == {"a": 100.0, "b": 10.0, "c": None, "d": None}


def test_asof_preserves_legit_null_reference_value(spark):
    """A matched reference row whose value is NULL must yield NULL on
    the probe row — not leak the previous non-null value forward
    (DuckDB ASOF JOIN semantics)."""
    probe = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:30:00"), "after_null")],
        "k int, ts timestamp, tag string",
    )
    ref = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:00:00"), 50.0),
            (1, _ts("2024-01-01 10:00:00"), None),  # latest match, NULL value
        ],
        "k int, ts timestamp, v double",
    )
    rows = asof_join(probe, ref, "k", "ts", "ts", ["v"]).collect()
    assert len(rows) == 1 and rows[0]["asof_v"] is None


def test_asof_keeps_all_probe_rows_and_columns(spark):
    probe = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), "x")], "k int, ts timestamp, payload string"
    )
    ref = spark.createDataFrame([], "k int, ts timestamp, v double")
    rows = asof_join(probe, ref, "k", "ts", "ts", ["v"]).collect()
    assert len(rows) == 1
    assert rows[0]["payload"] == "x" and rows[0]["asof_v"] is None


def test_range_join_halfopen_boundaries(spark):
    iv = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00"))],
        "iv_id int, s timestamp, e timestamp",
    )
    pts = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 10:00:00")),  # == start -> in
            (11, _ts("2024-01-01 10:59:59")),  # inside -> in
            (12, _ts("2024-01-01 11:00:00")),  # == end -> out (half-open)
            (13, _ts("2024-01-01 09:59:59")),  # before -> out
        ],
        "p_id int, ts timestamp",
    )
    got = sorted(
        r["p_id"] for r in range_join(iv, pts, "s", "e", "ts", "30 minutes").collect()
    )
    assert got == [10, 11]


def test_range_join_bucket_crossing_no_duplicates(spark):
    # interval straddles 3 one-minute buckets; each matching point must
    # appear exactly once despite the interval exploding to 3 bucket ids
    iv = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:30"), _ts("2024-01-01 10:02:30"))],
        "iv_id int, s timestamp, e timestamp",
    )
    pts = spark.createDataFrame(
        [(i, _ts("2024-01-01 10:00:00") + dt.timedelta(seconds=20 * i)) for i in range(10)],
        "p_id int, ts timestamp",
    )
    rows = range_join(iv, pts, "s", "e", "ts", "1 minute").collect()
    ids = sorted(r["p_id"] for r in rows)
    assert ids == sorted(set(ids))  # no dup pairs
    assert ids == [2, 3, 4, 5, 6, 7]  # 10:00:40 .. 10:02:20


def test_range_join_left_points_keeps_unmatched(spark):
    """how_points='left' must null-extend points with no containing
    interval — including the residual-failure case where a point shares
    a bucket with an interval but falls outside its exact range (the
    path a naive residual-after-outer-join silently drops)."""
    iv = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:30:00"))],
        "iv_id int, s timestamp, e timestamp",
    )
    pts = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 10:15:00")),  # matched
            (11, _ts("2024-01-01 10:45:00")),  # same 1h bucket, outside range
            (12, _ts("2024-01-01 23:00:00")),  # no bucket candidate at all
        ],
        "p_id int, ts timestamp",
    )
    rows = range_join(iv, pts, "s", "e", "ts", "1 hour", how_points="left").collect()
    got = {r["p_id"]: r["iv_id"] for r in rows}
    assert got == {10: 1, 11: None, 12: None}
    assert len(rows) == 3


def test_range_join_left_points_preserves_duplicates_and_rejects_bad_how(spark):
    import pytest

    iv = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00"))],
        "iv_id int, s timestamp, e timestamp",
    )
    pts = spark.createDataFrame(
        [(9, _ts("2024-01-01 23:00:00")), (9, _ts("2024-01-01 23:00:00"))],
        "p_id int, ts timestamp",
    )
    rows = range_join(iv, pts, "s", "e", "ts", "1 hour", how_points="left").collect()
    assert len(rows) == 2 and all(r["iv_id"] is None for r in rows)
    with pytest.raises(ValueError):
        range_join(iv, pts, "s", "e", "ts", "1 hour", how_points="right")


def test_range_join_with_equi_key(spark):
    iv = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00")),
            ("u2", _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00")),
        ],
        "u string, s timestamp, e timestamp",
    )
    pts = spark.createDataFrame(
        [("u1", 1, _ts("2024-01-01 10:30:00")), ("u3", 2, _ts("2024-01-01 10:30:00"))],
        "u string, p_id int, ts timestamp",
    )
    rows = range_join(iv, pts, "s", "e", "ts", "1 hour", extra_keys=["u"]).collect()
    assert [(r["u"], r["p_id"]) for r in rows] == [("u1", 1)]


def test_asof_plan_is_single_window_no_join(spark):
    """The as-of rewrite must not contain any join node — one window
    over one shuffle is the whole point of the operator."""
    probe = spark.createDataFrame([(1, _ts("2024-01-01 00:00:00"))], "k int, ts timestamp")
    ref = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), 1.0)], "k int, ts timestamp, v double"
    )
    plan = (
        asof_join(probe, ref, "k", "ts", "ts", ["v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "Window" in plan


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (1-2-3-4) must collapse to one component even
    though 1 and 4 share no edge (transitive closure, not just pair
    grouping); disjoint pair (10,11) stays its own component."""
    from data_engineer_project_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    got = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark, monkeypatch):
    """A 100-edge path graph (diameter 100 >> max_iter) must still
    fully collapse: pointer jumping doubles label reach per round, so
    20 rounds cover diameters up to ~2^20. Plain one-hop min-label
    propagation would exhaust the budget and (before the fix) SILENTLY
    return a partially-merged labeling — the m10 Hamming-chain graphs
    hit exactly this at sf0.1. The driver-path bound is set to 0 so
    this graph takes the distributed loop."""
    from data_engineer_project_spark.operators import graph as G
    from data_engineer_project_spark.operators.graph import connected_components

    monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", 0)

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a bigint, doc_b bigint"
    )
    rows = connected_components(pairs).collect()
    assert G.LAST_RUN_STATS["path"] == "loop"
    assert len(rows) == 101
    assert {r["component"] for r in rows} == {0}


def test_asof_forward_semantics(spark):
    """direction='forward': each probe gets the EARLIEST reference with
    ref_ts >= probe_ts; equality matches; nothing later -> NULL; an
    invalid direction is rejected."""
    from data_engineer_project_spark.operators.asof import asof_join
    import pytest as _pytest

    probe = spark.createDataFrame(
        [(1, 10, "p10"), (1, 25, "p25"), (1, 99, "p99")],
        "k INT, ts INT, tag STRING",
    )
    ref = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, None), (1, 30, 300.0)],
        "k INT, ts INT, val DOUBLE",
    )
    out = {
        r.tag: r.next_val
        for r in asof_join(
            probe, ref, key="k", left_ts="ts", right_ts="ts",
            value_cols=["val"], prefix="next_", direction="forward",
        ).collect()
    }
    assert out["p10"] == 100.0   # equality matches
    assert out["p25"] == 300.0   # earliest at-or-after is ts=30
    assert out["p99"] is None    # nothing after -> proven NULL
    with _pytest.raises(ValueError, match="backward|forward"):
        asof_join(probe, ref, key="k", left_ts="ts", right_ts="ts",
                  value_cols=["val"], direction="sideways")


def test_asof_tiebreak_on_reference_column(spark):
    """Reference-side tiebreak: two reference rows at the same (key,
    ts) — the one latest in tiebreak order wins; a tiebreak name that
    collides with a probe column is rejected."""
    import pytest as _pytest

    from data_engineer_project_spark.operators.asof import asof_join

    probe = spark.createDataFrame([(1, 20, "p")], "k INT, ts INT, tag STRING")
    ref = spark.createDataFrame(
        [(1, 10, 5, 100.0), (1, 10, 9, 900.0)], "k INT, ts INT, rid INT, val DOUBLE"
    )
    (row,) = asof_join(
        probe, ref, key="k", left_ts="ts", right_ts="ts",
        value_cols=["val"], tiebreak_cols=["rid"],
    ).collect()
    assert row.asof_val == 900.0  # max rid at the matched ts wins
    with _pytest.raises(ValueError, match="probe side"):
        asof_join(probe, ref, key="k", left_ts="ts", right_ts="ts",
                  value_cols=["val"], tiebreak_cols=["tag"])


def test_ohlc_order_key_handles_negative_event_ids(spark):
    """Round-6 key-width fix: int64 event_ids span 2^64 values, so the
    old 2^63 slot let a NEGATIVE id at a LATER microsecond produce a
    smaller key than a huge positive id at an earlier one — open/close
    would pick the wrong event. The shared key must order strictly by
    (ts, event_id) for every int64 id."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.functions.ordering import ohlc_order_key

    rows = [
        # (event_id, ts, value): the adversarial pair from the review —
        # max-positive id at t0, negative id one microsecond later
        (2**63 - 1, "2025-01-01 00:00:00.000000", 10.0),
        (-5, "2025-01-01 00:00:00.000001", 20.0),
        # and a same-timestamp pair ordered by id (negative first)
        (-7, "2025-01-01 00:00:01.000000", 30.0),
        (4, "2025-01-01 00:00:01.000000", 40.0),
    ]
    df = spark.createDataFrame(
        [(i, t, v) for i, t, v in rows], "event_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = df.agg(
        F.min_by("value", ohlc_order_key()).alias("open"),
        F.max_by("value", ohlc_order_key()).alias("close"),
    ).first()
    assert got.open == 10.0  # earliest ts wins, not the negative id
    assert got.close == 40.0  # same-ts tie broken by id: 4 > -7


def test_connected_components_rounds_grow_logarithmically(spark, monkeypatch):
    """Round-6 scale pin: pointer jumping must converge in O(log D)
    rounds on a path graph of diameter D — the property that keeps m10
    viable on long Hamming chains. Measure rounds at D = 8, 64, 512 via
    graph.LAST_RUN_STATS: each 8x diameter step may add only a few
    rounds (log2(8) = 3), never scale with D itself. The driver-path
    bound is set to 0 so these graphs take the distributed loop (the
    driver kernel's twin pin is in test_graph_cc.py)."""
    from data_engineer_project_spark.operators import graph as G

    monkeypatch.setattr(G, "_LOCAL_MAX_EDGES", 0)
    rounds = {}
    for d in (8, 64, 512):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(d)], "doc_a long, doc_b long"
        )
        labels = {
            r["node"]: r["component"]
            for r in G.connected_components(pairs, max_iter=25).collect()
        }
        assert set(labels.values()) == {0}  # one component, min label
        assert G.LAST_RUN_STATS["converged"]
        assert G.LAST_RUN_STATS["path"] == "loop"
        rounds[d] = G.LAST_RUN_STATS["rounds"]
    import math

    for d, r in rounds.items():
        assert r <= 2 * math.log2(d) + 4, (d, r, rounds)
    # logarithmic, not linear: 64x more diameter, bounded extra rounds
    assert rounds[512] - rounds[8] <= 8, rounds
