"""The reference's validation regime (SURVEY §5) as pytest: FK
anti-joins empty, key uniqueness, fact grains, Unknown-SK audits — on
the default fixture volume AND a 5× scaled fixture, proving the
generator keeps referential integrity at any n_members and the ETL
plans don't depend on seed-data accidents."""

from __future__ import annotations

import pytest

from data_engineer_project_spark import fixtures
from data_engineer_project_spark.plans.quality import run_checks
from data_engineer_project_spark.plans.snowflake import build_snowflake
from data_engineer_project_spark.plans.star import build_star


@pytest.fixture(
    scope="module",
    params=[
        fixtures.DEFAULT_MEMBERS,
        # the 100x-fixture arm re-proves volume-invariance; measured
        # ~60 s per full run -> slow lane (r15 verify-window split)
        pytest.param(1200, marks=pytest.mark.slow),
    ],
)
def model(request, spark):
    src = fixtures.dataframes(spark, request.param)
    return request.param, src, build_star(src)


def test_bench_scale_env_var_scales_hq_queries(spark, monkeypatch):
    """bench.py sets SPARK_GRAFT_HC_MEMBERS so hq06 measures ETL
    scaling; the query path must honor it (and ignore it when unset,
    keeping oracle parity at the 12-member default)."""
    from data_engineer_project_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_HC_MEMBERS", "120")
    big = QUERIES["hq01_row_counts"].fn(spark, "/root/testdata/sf0.001")
    got = {r["entity"]: r["n"] for r in big.collect()}
    assert got["members"] == 120
    monkeypatch.delenv("SPARK_GRAFT_HC_MEMBERS")
    small = QUERIES["hq01_row_counts"].fn(spark, "/root/testdata/sf0.001")
    got = {r["entity"]: r["n"] for r in small.collect()}
    assert got["members"] == fixtures.DEFAULT_MEMBERS


def test_validation_regime_all_green(model):
    n, src, dw = model
    results = run_checks(src, dw)
    assert len(results) >= 15
    bad = [r for r in results if not r.ok]
    assert not bad, f"failed checks at n_members={n}: {bad}"


def test_fixture_volumes_scale(model):
    n, src, dw = model
    assert src["s1_elig_member"].count() == n
    # every member enrolled for 3 months (reference: 12 members x 3)
    assert src["s1_elig_enrollment"].count() == 3 * n
    assert dw["dim_member"].count() == n + 1  # + Unknown row


def test_dim_surrogate_keys_dense_and_unknown(model):
    _, _, dw = model
    sks = [r.MemberSK for r in dw["dim_member"].select("MemberSK").collect()]
    assert sorted(sks) == list(range(len(sks)))  # 0 (Unknown) .. n, dense


def test_snowflake_facts_match_star(model):
    n, src, dw = model
    snow = build_snowflake(src)
    for fact in (
        "fact_claims_line",
        "fact_encounters",
        "fact_care_gaps",
        "fact_eligibility_monthly",
    ):
        assert snow[fact].count() == dw[fact].count(), fact


def test_snowflake_hierarchy_consistent(model):
    _, src, _ = model
    snow = build_snowflake(src)
    # every plan resolves to a real payer through the parent dim
    plans = snow["dim_plan"]
    payers = snow["dim_payer"]
    unresolved = plans.join(payers, "PayerSK", "left_anti")
    assert unresolved.count() == 0


def test_unknown_rows_plan_without_python_scan(spark, tmp_path, monkeypatch):
    """Each dimension's Unknown row is typed literals over a one-row
    JVM range: the schema and the SK=0 row equal what the
    createDataFrame form built from the same tuple, and no dimension
    plans a Python RDD scan. Sources are read back from parquet so
    only the Unknown branch could contribute one."""
    from data_engineer_project_spark.plans import star as S

    raw = fixtures.dataframes(spark)

    class FromParquet(dict):
        def __missing__(self, name):
            raw[name].write.parquet(str(tmp_path / name))
            self[name] = spark.read.parquet(str(tmp_path / name))
            return self[name]

    src = FromParquet()
    dim_fns = [
        S.build_dim_date,
        S.build_dim_member,
        S.build_dim_plan,
        S.build_dim_provider,
        S.build_dim_diagnosis,
        S.build_dim_procedure,
        S.build_dim_pos,
        S.build_dim_quality_measure,
    ]

    def unknown_row(dim):
        sk = dim.columns[0]
        unk = S.UNKNOWN_DATE_SK if sk == "DateSK" else 0
        return dim.filter(dim[sk] == unk).collect()

    got = {b.__name__: b(src) for b in dim_fns}
    for name, dim in got.items():
        plan = dim._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, name
    with monkeypatch.context() as m:
        m.setattr(
            S,
            "_with_unknown",
            lambda dim, row: dim.sparkSession.createDataFrame(
                [row], schema=dim.schema
            ).union(dim),
        )
        before = {b.__name__: b(src) for b in dim_fns}
    for name, dim in got.items():
        assert dim.schema == before[name].schema, name
        row = unknown_row(dim)
        assert len(row) == 1 and row == unknown_row(before[name]), name


@pytest.mark.slow
def test_write_star_partitioned_roundtrip(spark, tmp_path):
    """DW sink: dims plain parquet, fact_claims_line partitioned by
    ServiceYear — a date filter on the reloaded fact must prune
    partitions, and every table round-trips row-exact."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.plans.star import write_star

    src = fixtures.dataframes(spark)
    dw = build_star(src)
    base = str(tmp_path / "dw")
    write_star(dw, base)

    for name, df in dw.items():
        assert spark.read.parquet(f"{base}/{name}").count() == df.count(), name

    fact = spark.read.parquet(f"{base}/fact_claims_line")
    pruned = fact.filter(F.col("ServiceYear") == 2025)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ServiceYear" in plan.split("PartitionFilters")[1][:120]
    assert pruned.count() == dw["fact_claims_line"].filter(
        (F.col("ServiceDateSK") / 10000).cast("int") == 2025
    ).count()


def test_hq30_readmission_flags_planted_cases(spark):
    """The default fixture contains zero readmissions, so the oracle
    gate alone never exercises the flag; plant the cases here. Member
    1: discharge Jan-10, next admit Jan-25 (day 15 -> READMIT). Member
    2: next admit 60 days out (no). Member 3: exactly day 30 boundary
    (READMIT, inclusive). Member 4: single stay. An outpatient row
    must be ignored entirely."""
    import datetime as dt

    from data_engineer_project_spark.queries.healthcare import (
        readmission_rollup,
    )

    D = dt.date
    rows = [
        # (EncounterID, MemberID, EncounterType, AdmitDate, DischargeDate, FacilityPOSCode)
        (1, 1, "INPATIENT", D(2025, 1, 1), D(2025, 1, 10), "21"),
        (2, 1, "INPATIENT", D(2025, 1, 25), D(2025, 1, 28), "21"),
        (3, 2, "INPATIENT", D(2025, 1, 1), D(2025, 1, 5), "21"),
        (4, 2, "INPATIENT", D(2025, 3, 10), D(2025, 3, 12), "21"),
        (5, 3, "INPATIENT", D(2025, 2, 1), D(2025, 2, 3), "22"),
        (6, 3, "INPATIENT", D(2025, 3, 5), D(2025, 3, 7), "22"),  # day 30
        (7, 4, "INPATIENT", D(2025, 4, 1), D(2025, 4, 2), "22"),
        (8, 5, "OUTPATIENT", D(2025, 4, 1), None, "23"),
    ]
    enc = spark.createDataFrame(
        rows,
        "EncounterID int, MemberID int, EncounterType string, "
        "AdmitDate date, DischargeDate date, FacilityPOSCode string",
    )
    got = {r.FacilityPOSCode: r for r in readmission_rollup(enc).collect()}
    assert set(got) == {"21", "22"}  # outpatient facility absent
    # facility 21: encounters 1,2,3,4 -> discharges 4, readmits 1 (enc 1)
    assert (got["21"].n_discharges, got["21"].n_readmissions) == (4, 1)
    # facility 22: encounters 5,6,7 -> readmit 1 (enc 5, inclusive day 30)
    assert (got["22"].n_discharges, got["22"].n_readmissions) == (3, 1)
    assert got["22"].readmit_rate == 1 / 3
