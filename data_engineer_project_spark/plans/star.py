"""Star-schema DW build (EP2): 8 conformed dims + 4 facts.

Re-expresses `StarSchemaForHealthcare.sql` as pure DataFrame→DataFrame
functions: date-domain discovery from the union of all date columns
(:143-173), dim builds with Unknown-row SK=0 convention (:76-127) and
deterministic row_number surrogate keys (replacing IDENTITY, SURVEY §7
hard-part 1), and fact loads as join chains with COALESCE(sk, 0)
fallback so late/missing lookups never drop rows (:302-389).

Idempotency: the reference upserts with NOT EXISTS guards; here every
run rebuilds from source deterministically (same inputs → same SKs →
same facts), which is the pure-functional equivalent (SURVEY §7
hard-part 8).

Scale notes: dims are tiny → their single-partition row_number windows
are fine and every fact↔dim join broadcasts; facts only ever shuffle
against each other (line⋈header on ClaimID). At 100 TB the fact writes
partition by DateSK/10000 (year) — see ``write_star``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UNKNOWN_DATE_SK = 19000101


def date_sk(col):
    """Smart date key yyyy*10000+mm*100+dd (`StarSchemaForHealthcare.
    sql:167`)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.year(c) * 10000 + F.month(c) * 100 + F.dayofmonth(c)).cast("int")


def _sk(df: DataFrame, order_cols: list[str], sk_name: str) -> DataFrame:
    """Deterministic surrogate keys 1..n over the business key, with the
    Unknown row reserved at SK=0 by the caller."""
    w = Window.orderBy(*order_cols)
    return df.withColumn(sk_name, F.row_number().over(w).cast("int"))


def build_dim_date(src: dict[str, DataFrame]) -> DataFrame:
    """Date-domain discovery: distinct union of every date column that
    actually appears in the data (9 columns / 4 tables in the
    reference, :143-173), plus the Unknown date 1900-01-01 (SK
    19000101)."""
    cols = [
        src["s1_elig_enrollment"].select(F.col("EnrollmentMonth").alias("d")),
        src["s2_claims_claim_header"].select(F.col("ClaimDate").alias("d")),
        src["s2_claims_claim_line"].select(F.col("ServiceDate").alias("d")),
        src["s2_claims_claim_payment"].select(F.col("PaymentDate").alias("d")),
        src["s2_claims_encounter"].select(F.col("EncounterDate").alias("d")),
        src["s2_claims_encounter"].select(F.col("AdmitDate").alias("d")),
        src["s2_claims_encounter"].select(F.col("DischargeDate").alias("d")),
        src["s3_cca_care_gap"].select(F.col("PeriodStart").alias("d")),
        src["s3_cca_care_gap"].select(F.col("ClosedDate").alias("d")),
    ]
    dates = cols[0]
    for c in cols[1:]:
        dates = dates.union(c)
    dates = dates.filter(F.col("d").isNotNull()).distinct()
    dim = dates.select(
        date_sk("d").alias("DateSK"),
        F.col("d").alias("FullDate"),
        F.year("d").alias("Yr"),
        F.month("d").alias("Mo"),
        F.dayofmonth("d").alias("Dy"),
    )
    return _with_unknown(dim, (UNKNOWN_DATE_SK, None, 1900, 1, 1))


def _with_unknown(dim: DataFrame, unknown_row: tuple) -> DataFrame:
    """``dim`` with the Unknown row on top, typed by ``dim.schema``.
    The row is literals projected over ``spark.range(1)``, a JVM-side
    one-row scan: ``createDataFrame`` over a Python list would plan as
    ``Scan ExistingRDD`` and start Python workers on every build."""
    unknown = dim.sparkSession.range(1, numPartitions=1).select(
        *[
            F.lit(v).cast(f.dataType).alias(f.name)
            for v, f in zip(unknown_row, dim.schema.fields, strict=True)
        ]
    )
    return unknown.union(dim)


def build_dim_member(src) -> DataFrame:
    """DimMember (:177-180): dedup by business key, SK=0 Unknown."""
    m = _sk(
        src["s1_elig_member"].dropDuplicates(["MemberBK"]), ["MemberBK"], "MemberSK"
    ).select(
        "MemberSK", "MemberID", "MemberBK", "FirstName", "LastName", "DOB", "Gender"
    )
    return _with_unknown(m, (0, -1, "UNK", "Unknown", "Unknown", None, "U"))


def build_dim_plan(src) -> DataFrame:
    """DimPlan with embedded payer (star denormalization, :183-187)."""
    p = src["s1_elig_insurance_plan"].join(
        F.broadcast(src["s1_elig_payer"]), "PayerID"
    )
    p = _sk(p, ["PlanID"], "PlanSK").select(
        "PlanSK", "PlanID", "PlanName", "PlanType", "PayerName", "PayerType"
    )
    return _with_unknown(p, (0, -1, "Unknown", "UNK", "Unknown", "UNK"))


def build_dim_provider(src) -> DataFrame:
    """DimProvider (:190-193), keyed by NPI."""
    p = _sk(
        src["s4_provider_provider"].dropDuplicates(["NPI"]), ["NPI"], "ProviderSK"
    ).select("ProviderSK", "NPI", "ProviderName", "ProviderType")
    return _with_unknown(p, (0, "UNK", "Unknown", "UNK"))


def build_dim_diagnosis(src) -> DataFrame:
    d = _sk(src["s5_ref_ref_icd10"], ["ICD10Code"], "DxSK").select(
        "DxSK", "ICD10Code", "ShortDesc", "Chapter", "Category"
    )
    return _with_unknown(d, (0, "UNK", "Unknown", None, None))


def build_dim_procedure(src) -> DataFrame:
    d = _sk(src["s5_ref_ref_cpt_hcpcs"], ["CPTCode"], "ProcSK").select(
        "ProcSK", "CPTCode", "ShortDesc", "Category"
    )
    return _with_unknown(d, (0, "UNK", "Unknown", None))


def build_dim_pos(src) -> DataFrame:
    d = _sk(src["s5_ref_ref_pos"], ["POSCode"], "POSSK").select(
        "POSSK", "POSCode", "POSDescription"
    )
    return _with_unknown(d, (0, "UNK", "Unknown"))


def build_dim_quality_measure(src) -> DataFrame:
    d = _sk(src["s5_ref_ref_quality_measure"], ["MeasureID"], "QMSK").select(
        "QMSK", "MeasureID", "MeasureName", "Owner"
    )
    return _with_unknown(d, (0, "UNK", "Unknown", None))


def build_fact_claims_line(src, dims) -> DataFrame:
    """FactClaimsLine (:302-334): grain = claim line.

    ClaimLine ⋈ ClaimHeader ⟕ Payment ⟕ Procedure(seq 1) ⟕
    Diagnosis(seq 1) then dim lookups with COALESCE(sk, 0); provider
    NPI resolves line-level first, else header (COALESCE join key,
    :330). Dims broadcast — the only shuffle is line⋈header.
    """
    cl = src["s2_claims_claim_line"].alias("cl")
    ch = src["s2_claims_claim_header"].alias("ch")
    pay = src["s2_claims_claim_payment"].alias("pay")
    proc1 = src["s2_claims_claim_procedure"].filter(F.col("ProcSeq") == 1).alias("pr")
    dx1 = src["s2_claims_claim_diagnosis"].filter(F.col("DxSeq") == 1).alias("dx")

    j = (
        cl.join(ch, "ClaimID")
        .join(pay, ["ClaimID", "ClaimLineNo"], "left")
        .join(proc1, ["ClaimID", "ClaimLineNo"], "left")
        .join(dx1, "ClaimID", "left")
    )

    dm = F.broadcast(dims["dim_member"].alias("dm"))
    dp = F.broadcast(dims["dim_plan"].alias("dp"))
    dprov = F.broadcast(dims["dim_provider"].alias("dprov"))
    ddx = F.broadcast(dims["dim_diagnosis"].alias("ddx"))
    dproc = F.broadcast(dims["dim_procedure"].alias("dproc"))
    dpos = F.broadcast(dims["dim_pos"].alias("dpos"))

    out = (
        j.join(dm, dm["MemberID"] == F.col("ch.MemberID"), "left")
        .join(dp, dp["PlanID"] == F.col("ch.PlanID"), "left")
        .join(
            dprov,
            dprov["NPI"]
            == F.coalesce(F.col("cl.RenderingProviderNPI"), F.col("ch.RenderingProviderNPI")),
            "left",
        )
        .join(ddx, ddx["ICD10Code"] == F.col("dx.ICD10Code"), "left")
        .join(dproc, dproc["CPTCode"] == F.col("pr.CPTCode"), "left")
        .join(dpos, dpos["POSCode"] == F.coalesce(F.col("cl.POSCode"), F.col("ch.POSCode")), "left")
    )
    return out.select(
        F.col("ClaimID"),
        F.col("ClaimLineNo"),
        F.coalesce(date_sk("cl.ServiceDate"), F.lit(UNKNOWN_DATE_SK)).alias(
            "ServiceDateSK"
        ),
        F.coalesce(F.col("dm.MemberSK"), F.lit(0)).alias("MemberSK"),
        F.coalesce(F.col("dp.PlanSK"), F.lit(0)).alias("PlanSK"),
        F.coalesce(F.col("dprov.ProviderSK"), F.lit(0)).alias("ProviderSK"),
        F.coalesce(F.col("ddx.DxSK"), F.lit(0)).alias("DxSK"),
        F.coalesce(F.col("dproc.ProcSK"), F.lit(0)).alias("ProcSK"),
        F.coalesce(F.col("dpos.POSSK"), F.lit(0)).alias("POSSK"),
        F.col("ch.ClaimStatus").alias("ClaimStatus"),
        F.col("cl.Units").alias("Units"),
        F.col("cl.BilledAmount").alias("BilledAmount"),
        F.col("pay.AllowedAmount").alias("AllowedAmount"),
        F.col("pay.PaidAmount").alias("PaidAmount"),
        F.col("pay.PatientLiability").alias("PatientLiability"),
    )


def build_fact_encounters(src, dims) -> DataFrame:
    """FactEncounters (:338-358): grain = encounter; LOS derived via
    DATEDIFF (Spark arg order flipped, SURVEY §7 hard-part 3)."""
    e = src["s2_claims_encounter"].alias("e")
    dm = F.broadcast(dims["dim_member"].alias("dm"))
    dp = F.broadcast(dims["dim_plan"].alias("dp"))
    dprov = F.broadcast(dims["dim_provider"].alias("dprov"))
    dpos = F.broadcast(dims["dim_pos"].alias("dpos"))
    return (
        e.join(dm, dm["MemberID"] == F.col("e.MemberID"), "left")
        .join(dp, dp["PlanID"] == F.col("e.PlanID"), "left")
        .join(dprov, dprov["NPI"] == F.col("e.ProviderNPI"), "left")
        .join(dpos, dpos["POSCode"] == F.col("e.FacilityPOSCode"), "left")
        .select(
            F.col("e.EncounterID").alias("EncounterID"),
            F.coalesce(date_sk("e.EncounterDate"), F.lit(UNKNOWN_DATE_SK)).alias(
                "EncounterDateSK"
            ),
            F.coalesce(F.col("dm.MemberSK"), F.lit(0)).alias("MemberSK"),
            F.coalesce(F.col("dp.PlanSK"), F.lit(0)).alias("PlanSK"),
            F.coalesce(F.col("dprov.ProviderSK"), F.lit(0)).alias("ProviderSK"),
            F.coalesce(F.col("dpos.POSSK"), F.lit(0)).alias("POSSK"),
            F.col("e.EncounterType").alias("EncounterType"),
            F.when(F.col("e.EncounterType") == "INPATIENT", 1)
            .otherwise(0)
            .alias("IsInpatient"),
            F.datediff(F.col("e.DischargeDate"), F.col("e.AdmitDate")).alias(
                "LOSDays"
            ),
        )
    )


def build_fact_care_gaps(src, dims) -> DataFrame:
    """FactCareGaps (:362-376): grain = member–measure–period; closure
    flag derived from Status/ClosedDate."""
    g = src["s3_cca_care_gap"].alias("g")
    dm = F.broadcast(dims["dim_member"].alias("dm"))
    dq = F.broadcast(dims["dim_quality_measure"].alias("dq"))
    return (
        g.join(dm, dm["MemberID"] == F.col("g.MemberID"), "left")
        .join(dq, dq["MeasureID"] == F.col("g.MeasureID"), "left")
        .select(
            F.col("g.GapID").alias("GapID"),
            F.coalesce(F.col("dm.MemberSK"), F.lit(0)).alias("MemberSK"),
            F.coalesce(F.col("dq.QMSK"), F.lit(0)).alias("QMSK"),
            F.coalesce(date_sk("g.PeriodStart"), F.lit(UNKNOWN_DATE_SK)).alias(
                "PeriodStartSK"
            ),
            F.coalesce(date_sk("g.ClosedDate"), F.lit(UNKNOWN_DATE_SK)).alias(
                "ClosedDateSK"
            ),
            F.when(F.col("g.Status") == "CLOSED", 1).otherwise(0).alias("IsClosed"),
        )
    )


def build_fact_eligibility_monthly(src, dims) -> DataFrame:
    """FactEligibilityMonthly (:379-389): grain = member–plan–month."""
    en = src["s1_elig_enrollment"].alias("en")
    dm = F.broadcast(dims["dim_member"].alias("dm"))
    dp = F.broadcast(dims["dim_plan"].alias("dp"))
    return (
        en.join(dm, dm["MemberID"] == F.col("en.MemberID"), "left")
        .join(dp, dp["PlanID"] == F.col("en.PlanID"), "left")
        .select(
            F.coalesce(F.col("dm.MemberSK"), F.lit(0)).alias("MemberSK"),
            F.coalesce(F.col("dp.PlanSK"), F.lit(0)).alias("PlanSK"),
            F.coalesce(date_sk("en.EnrollmentMonth"), F.lit(UNKNOWN_DATE_SK)).alias(
                "MonthSK"
            ),
            F.when(F.col("en.IsActive"), 1).otherwise(0).alias("IsActive"),
        )
    )


def build_star(src: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The full EP2 pipeline: dims first (cached — reused by 4 fact
    builds), then facts."""
    dims = {
        "dim_date": build_dim_date(src),
        "dim_member": build_dim_member(src),
        "dim_plan": build_dim_plan(src),
        "dim_provider": build_dim_provider(src),
        "dim_diagnosis": build_dim_diagnosis(src),
        "dim_procedure": build_dim_procedure(src),
        "dim_pos": build_dim_pos(src),
        "dim_quality_measure": build_dim_quality_measure(src),
    }
    for d in dims.values():
        d.cache()
    facts = {
        "fact_claims_line": build_fact_claims_line(src, dims),
        "fact_encounters": build_fact_encounters(src, dims),
        "fact_care_gaps": build_fact_care_gaps(src, dims),
        "fact_eligibility_monthly": build_fact_eligibility_monthly(src, dims),
    }
    return {**dims, **facts}


def write_star(dw: dict[str, DataFrame], base_path: str) -> None:
    """Persist the DW: dims plain parquet; facts partitioned by year of
    their date SK (DateSK/10000) for partition pruning at scale."""
    for name, df in dw.items():
        writer = df.write.mode("overwrite")
        if name == "fact_claims_line":
            writer = (
                df.withColumn("ServiceYear", (F.col("ServiceDateSK") / 10000).cast("int"))
                .write.mode("overwrite")
                .partitionBy("ServiceYear")
            )
        writer.parquet(f"{base_path}/{name}")
