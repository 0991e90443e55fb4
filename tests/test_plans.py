"""Physical-plan regressions: the properties that make these queries
scale are asserted, not assumed — predicate pushdown into parquet,
column pruning, broadcast (not sort-merge) dim joins, map-side partial
aggregation, and partitioned (not global) windows. A change that
silently loses one of these passes the value gate but fails here."""

from __future__ import annotations

import pytest

from data_engineer_project_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return QUERIES[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def scans(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_q1_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    (scan,) = scans(plan)
    assert "l_shipdate" in scan.split("PushedFilters")[1][:200]
    # only the 7 needed columns reach the scan, not all 11
    read = scan.split("ReadSchema")[1]
    assert "l_orderkey" not in read and "l_partkey" not in read
    # map-side partial aggregation before the exchange
    assert "partial_sum" in plan


def test_q3_broadcasts_dims_no_sort_merge(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the customer filter is pushed into its scan
    assert any("c_mktsegment" in s.split("PushedFilters")[1][:200] for s in scans(plan) if "PushedFilters" in s)


def test_q5_six_way_join_all_broadcast(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q6_all_predicates_pushed(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    (scan,) = scans(plan)
    pushed = scan.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col


def test_latest_per_group_window_is_partitioned(spark):
    plan = plan_of(spark, "p38_latest_per_group")
    assert "Window" in plan
    # distributed by the partition key — never a single global partition
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(o_custkey" in plan


def test_semi_and_anti_joins_planned_natively(spark):
    semi = plan_of(spark, "q4_priority_with_returns")
    assert "LeftSemi" in semi
    anti = plan_of(spark, "hq17_icd_referential_check")
    assert "LeftAnti" in anti


def test_topk_plans_take_ordered(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name", ["d01_token_stats", "d07_dedup_minhash_lsh", "d24_repetition_ratio", "d25_decontamination"]
)
def test_text_pipeline_has_no_python_udf(spark, name):
    """Text/dedup primitives must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython stages = no row-at-a-time or scalar Python UDFs)."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_range_join_plans_equi_not_nested_loop(spark):
    """e06's bucketed rewrite must plan as a shuffled/broadcast equi
    (hash) join — never BroadcastNestedLoopJoin/CartesianProduct, which
    is what the bare inequality join degrades to."""
    plan = plan_of(spark, "e06_range_join")
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan  # the equi join on the bucket id survives


def test_hash_split_is_scan_only_no_shuffle(spark):
    """d18's split assignment is a pure map — any Exchange in the plan
    means someone added a shuffle to a 100 TB narrow transform."""
    plan = plan_of(spark, "d18_hash_split")
    assert "Exchange" not in plan


def test_lineitem_orders_smj_keeps_aqe_skew_handling(spark):
    """The workload's only genuinely large-large shuffle is
    lineitem⋈orders. At cluster scale that is a SortMergeJoin; AQE's
    skew-join splitting must stay enabled so one hot o_orderkey cannot
    stall the stage. Asserts both the session contract (configs on) and
    the physical path (adaptive SMJ when broadcast is ruled out, as it
    is at 100 TB)."""
    from data_engineer_project_spark.sources.registry import load_tables

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = load_tables(spark, SF)
        j = (
            t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        j.collect()  # materialize so AQE finalizes the plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_no_row_at_a_time_python_udfs_in_package():
    """Policy pin: the hot path must stay JVM-side. Row-at-a-time
    F.udf / @udf never appears in the package — Python is allowed only
    through Arrow-batched mapInPandas / applyInPandas* (multimodal,
    streaming state), which plan as *EvalPython-free Arrow stages."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "data_engineer_project_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        if "F.udf(" in src or "@udf" in src or "functions.udf(" in src:
            offenders.append(str(py))
    assert not offenders, f"row-at-a-time UDFs found in: {offenders}"


def test_pagination_plans_take_ordered_not_global_sort(spark):
    """p36's page bound must come from TakeOrderedAndProject (a
    distributed partial top-k); the global single-partition window may
    only ever see page-size rows."""
    plan = plan_of(spark, "p36_offset_pagination_window")
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """The session contract enables runtime bloom-filter pushdown: a
    selective dim-side filter must inject a might_contain() pre-filter
    on the fact side of a shuffle join, pruning fact rows before the
    shuffle — at 100 TB the difference between shuffling the full fact
    table and shuffling the matching slice. Thresholds are lowered so
    the rewrite fires at test scale; the config default (10 GB
    application side) only engages it where it pays."""
    from pyspark.sql import functions as F

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )


def test_no_non_scalar_nested_loop_join_in_bench_queries(spark):
    """BroadcastNestedLoopJoin is benign when the build side is a 1-row
    stats aggregate (d30 avgdl/N, e07 funnel totals) and a cartesian
    land-mine otherwise. Pin: every BNLJ in every benchmark query is
    the scalar-stats kind, so a regression to a genuine nested loop
    over a multi-row side fails here instead of shipping."""
    from bench import BENCH_QUERIES
    from tools.plan_audit import BOUNDED_BNLJ_OK, classify_bnlj

    offenders = {}
    for name in BENCH_QUERIES:
        if name.startswith("s") or name in BOUNDED_BNLJ_OK:
            continue  # streaming → test_streaming; bounded-broadcast → by design
        bnlj = classify_bnlj(plan_of(spark, name))
        if bnlj["non_scalar"]:
            offenders[name] = bnlj
    assert not offenders, f"non-scalar nested-loop joins: {offenders}"


def test_d43_single_exchange_and_topk(spark):
    """BPE pair counting must stay: one scan, partial agg BEFORE its
    single exchange (map-side collapse to <=26^2 keys), top-k as
    TakeOrderedAndProject — never a global sort."""
    plan = plan_of(spark, "d43_bpe_pair_counts")
    assert len(scans(plan)) == 1
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_d42_no_sort_merge_join(spark):
    """Everything downstream of the bucket histogram is
    source-cardinality: the thr/kept joins must broadcast, never SMJ."""
    plan = plan_of(spark, "d42_domain_mixture_downsample")
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan  # the one-scan cached histogram


def test_materialized_centroids_reads_table_not_kmeans_lineage(spark, sf_dir):
    """The IVF coarse quantizer is trained OFFLINE: consumers (s17
    stream intake, d58 ADC coarse stage, ivf_topk) must read the
    materialized centroid table, not re-run k-means per invocation.
    Pin: after the first (training) call, a repeat call's plan is a
    parquet FileScan of the centroid store — no Window / Generate /
    aggregate lineage — and the rows are bit-equal to inline
    training."""
    from data_engineer_project_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = SIM.materialized_centroids(emb)  # trains + writes if absent
    again = SIM.materialized_centroids(emb)
    plan = again._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan and "centroid_store" in plan
    for stage in ("Window", "Generate", "HashAggregate"):
        assert stage not in plan, stage
    want = sorted(
        (r["cid"], tuple(r["cvec"])) for r in SIM.kmeans_centroids(emb).collect()
    )
    got = sorted((r["cid"], tuple(r["cvec"])) for r in again.collect())
    assert got == want
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, again.collect()))


def test_no_forced_broadcast_of_unbounded_frames():
    """Scale-review gate for ``F.broadcast()`` hints (round-6 verdict:
    the one genuine scale anti-pattern was forced broadcasts of
    data-dependent doc-id sets — d55/d56's leaky, d60's dropped,
    d61's per_doc, all corpus-proportional in the adversarial case).

    Two assertions:
    1. DENYLIST — the known data-dependent set names are never
       broadcast-hinted anywhere in the package. AQE broadcasts them
       when they are actually small; the hint would force an OOM on a
       contaminated/duplicate-heavy corpus.
    2. ALLOWLIST — every ``F.broadcast(<expr>)`` call site wraps a
       variable whose (file, root-name) pair is in the vetted registry
       below. Every entry was reviewed as bounded-cardinality: star/
       snowflake dims, TPC-H dims and filtered part/supplier slices,
       centroid/threshold/LUT/policy tables, scalar-stats aggregates,
       and query sets. Adding a NEW broadcast hint requires adding its
       pair here — i.e. consciously vetting that the frame's size is a
       property of the QUERY (schema/constants), not of the data.
    """
    import ast
    import pathlib

    DENY = {"leaky", "dropped", "per_doc"}
    ALLOW = {
        ("operators/curation.py", "thr"),  # per-group keep thresholds
        ("operators/curation.py", "kept"),  # per-group keep counts
        ("operators/linalg.py", "n_max"),  # 1-row guard aggregate
        ("operators/linalg.py", "vdir"),  # <= dim-row direction
        ("queries/llm_pipeline.py", "vdir"),  # <= dim-row direction
        ("operators/linalg.py", "sa"),  # d column sums
        ("operators/linalg.py", "sb"),
        ("operators/pq.py", "cbook"),  # M*K PQ codebook
        ("operators/pq.py", "cn"),  # M*K codebook + norms
        ("operators/pq.py", "lut"),  # queries x M x K LUT
        ("operators/retrieval.py", "stats"),  # 1-row corpus stats
        ("operators/robust.py", "stats"),  # one median/MAD row per group
        ("operators/similarity.py", "q"),  # bounded query set
        ("operators/similarity.py", "c"),  # ~sqrt(N) centroids
        ("operators/similarity.py", "q_assigned"),  # query-set-sized
        ("plans/snowflake.py", "dim_payer"),
        ("plans/snowflake.py", "dim_org"),
        ("plans/snowflake.py", "dim_provider"),
        ("plans/snowflake.py", "dim_specialty"),
        ("plans/star.py", "dims"),  # dims[...] lookups
        ("plans/star.py", "src"),  # date-dim source
        ("queries/healthcare.py", "s"),  # star dims dict
        ("queries/healthcare.py", "dw"),  # warehouse dims dict
        ("queries/healthcare.py", "c"),  # top-cohort slice
        ("queries/healthcare.py", "cr"),
        ("queries/healthcare.py", "p"),
        ("queries/healthcare.py", "ds"),
        ("queries/healthcare.py", "med"),  # hq32: per-measure medians
        ("queries/healthcare.py", "n_months"),  # 1-row month count
        ("queries/healthcare.py", "band"),  # hq35: <= #risk-tiers rows
        ("queries/healthcare.py", "pr"),  # hq35: provider dimension
        ("queries/llm_pipeline.py", "queries"),  # d86: bounded 10-query panel
        ("queries/llm_pipeline.py", "spine"),  # e27: calendar-bounded day spine
        ("queries/llm_pipeline.py", "sketch_df"),  # 1-row sketch
        ("queries/llm_pipeline.py", "s"),  # per-lang stats
        ("queries/llm_pipeline.py", "tot"),  # scalar totals
        ("queries/llm_pipeline.py", "nd"),  # per-lang doc counts
        ("queries/llm_pipeline.py", "thr"),  # d67: 1-row waterfill cap
        ("queries/llm_pipeline.py", "kept"),  # d47: per-lang keep counts
        ("queries/llm_pipeline.py", "shc"),  # per-source counts
        ("queries/llm_pipeline.py", "sa"),  # source list
        ("queries/llm_pipeline.py", "sb"),
        ("queries/llm_pipeline.py", "ov"),  # source-pair overlaps
        ("queries/llm_pipeline.py", "st"),  # per-type stats
        ("queries/llm_pipeline.py", "cut"),  # per-source cutoffs
        ("queries/llm_pipeline.py", "types"),  # event-type dim
        ("queries/llm_pipeline.py", "bitset"),  # d70: <= 2048-word Bloom
        ("queries/llm_pipeline.py", "cms"),  # d71: <= d*w = 3072 counters
        ("queries/llm_pipeline.py", "ca_a"),  # e23: per-type session counts
        ("queries/llm_pipeline.py", "ca_b"),
        ("queries/llm_pipeline.py", "flat"),  # e25: per-type stat rows
        ("queries/llm_pipeline.py", "seas"),  # e25: types x 24 stat rows
        ("queries/llm_pipeline.py", "tf"),  # d80: bounded 20-doc term set
        ("queries/llm_pipeline.py", "lean"),  # d81: <= 256 hash buckets
        ("queries/llm_pipeline.py", "model"),  # d90: <= 256 hash buckets
        ("queries/multimodal_queries.py", "qp"),  # m17: 10-query panel x4 bands
        ("queries/llm_pipeline.py", "pairs"),  # d96: <= #cuts rollup rows
        ("queries/llm_pipeline.py", "removed"),  # d96: <= #cuts rollup rows
        ("queries/llm_pipeline.py", "dfreq"),  # d94: panel-terms-bounded df
        ("queries/llm_pipeline.py", "stats"),  # d94: 1-row corpus stats
        ("queries/llm_pipeline.py", "qterms"),  # d94: 10-doc x4-term panel
        ("queries/llm_pipeline.py", "norm"),  # d93: 1-row normalizer sums
        ("queries/llm_pipeline.py", "tend"),  # e26: 1-row study end
        ("queries/llm_pipeline.py", "cent_df"),  # ~sqrt(N) centroids
        ("queries/practice.py", "t"),  # small dim tables
        ("queries/practice.py", "p"),
        ("queries/practice.py", "n"),  # 1-row counts
        ("queries/practice.py", "dim"),
        ("queries/streaming_queries.py", "cms"),  # s21: <= d*w = 3072 grid
        ("queries/streaming_queries.py", "policy"),  # per-type policy
        ("queries/tpch.py", "region"),
        ("queries/tpch.py", "nat"),
        ("queries/tpch.py", "cust"),
        ("queries/tpch.py", "sup"),
        ("queries/tpch.py", "supp"),
        ("queries/tpch.py", "parts"),  # filtered part slice
        ("queries/tpch.py", "part_type"),
        ("queries/tpch.py", "p"),
        ("queries/tpch.py", "t"),
        ("queries/tpch.py", "n1"),
        ("queries/tpch.py", "n2"),
        ("queries/tpch.py", "cutoff"),  # 1-row quantile
        ("queries/tpch.py", "total"),  # 1-row total
        ("queries/tpch.py", "flagged"),  # q21-style filtered suppliers
        ("queries/tpch.py", "dominating"),  # per-part max aggregate
    }

    pkg = pathlib.Path(__file__).resolve().parents[1] / "data_engineer_project_spark"
    offenders, denied = [], []
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(py.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                continue
            root = node.args[0]
            while True:
                if isinstance(root, ast.Call):
                    root = root.func
                elif isinstance(root, (ast.Attribute, ast.Subscript)):
                    root = root.value
                else:
                    break
            name = root.id if isinstance(root, ast.Name) else "<expr>"
            if name in DENY:
                denied.append((rel, node.lineno, name))
            elif (rel, name) not in ALLOW:
                offenders.append((rel, node.lineno, name))
    assert not denied, (
        f"forced broadcast of data-dependent sets (re-introduced the "
        f"round-6 scale defect): {denied}"
    )
    assert not offenders, (
        f"unvetted F.broadcast() sites — review that each wrapped frame "
        f"is bounded by the query, not the data, then add (file, name) "
        f"to the allowlist: {offenders}"
    )


def test_d45_window_partitioned_by_shard(spark):
    """The epoch-shuffle rank window must partition by shard (bounded
    spans), never run as one global window."""
    plan = plan_of(spark, "d45_epoch_shuffle")
    assert "Window" in plan
    import re

    wline = next(ln for ln in plan.splitlines() if re.search(r"\bWindow\b", ln))
    assert "shard" in wline


def test_explain_normalizes_lambda_suffix_not_column_names():
    """The number after a lambda variable's name counts the lambdas the
    process built before, so two checkouts print ``x_39`` and ``x_13``
    for the same plan; a column's numeric suffix is part of its name."""
    from tools.explain import normalize

    dump = (
        "Output [1]: [transform(mh_3#12, lambdafunction((lambda x_39#40L"
        " + 1), lambda x_39#40L, false)) AS mh_3#13]"
    )
    assert normalize(dump) == normalize(dump.replace("x_39", "x_13"))
    assert normalize(dump) != normalize(dump.replace("mh_3", "mh_4"))


def test_explain_normalizes_call_sites_and_landing_files():
    """Two runs of the same code print one localCheckpoint RDD's call
    site as ``NativeMethodAccessorImpl.java:0`` or ``<unknown>:0``, and
    s25's micro-batch scan names a random mkdtemp dir and whichever
    part file landed last; the RDD's operation and the rest of the path
    are part of the plan."""
    import tempfile

    from tools.explain import normalize

    rdd = "Arguments: [doc_a#12L], MapPartitionsRDD[45] at {} at {}, ExistingRDD"
    native = rdd.format("localCheckpoint", "NativeMethodAccessorImpl.java:0")
    assert normalize(native) == normalize(rdd.format("localCheckpoint", "<unknown>:0"))
    assert normalize(native) != normalize(
        rdd.format("mapPartitions", "NativeMethodAccessorImpl.java:0")
    )
    scan = (
        "Location: InMemoryFileIndex(1 paths)[file:{}/s25_delta_{}/{}/part-{}-"
        "744e0c60-b0b9-4512-958..., PartitionFilters: []"
    )
    tmp = tempfile.gettempdir()
    landed = scan.format(tmp, "pb1d5pch", "landing", "00001")
    assert normalize(landed) == normalize(scan.format(tmp, "x_9y8z7w", "landing", "00002"))
    assert normalize(landed) != normalize(scan.format(tmp, "pb1d5pch", "archive", "00001"))
