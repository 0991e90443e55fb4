"""Deterministic healthcare fixture generator (50 source tables).

Mirrors the reference's seed-data *structure* — referential integrity
across the 5 sources, value domains, and approximate volumes at the
default scale (12 members, ~10 claims, …; `BASELINE.md`) — using
arithmetic patterns rather than copied literals, and scaling to any
``n_members`` while keeping every FK valid (the reference's
"0 rows expected" validation queries must hold at every scale).

Two renderings of the same rows:
- ``dataframes(spark, n)`` → dict of Spark DataFrames (explicit schemas);
- ``sql_ctes(n, tables)``  → DuckDB ``WITH`` clauses inlining the rows as
  typed VALUES, so healthcare queries get first-class DuckDB oracles.

Both derive from one ``rows(n)`` dict → identical data by construction.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from functools import lru_cache

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    StructType,
)

from data_engineer_project_spark.schemas import ALL_TABLES

D = dt.date
DEFAULT_MEMBERS = 12

ICD10 = ["E11.9", "I10", "I50.9", "N18.3", "E78.5", "J45.909",
         "M54.5", "F32.9", "K21.9", "E66.9", "Z00.00"]
CPT = ["99213", "99214", "99215", "80053", "83036", "93000",
       "71046", "99285", "99221", "99238", "36415", "90471", "99397"]
POS = [("11", "Office"), ("21", "Inpatient Hospital"),
       ("22", "On Campus Outpatient Hospital"), ("23", "Emergency Room"),
       ("31", "Skilled Nursing Facility"), ("32", "Nursing Facility")]
ZIPS = ["10001", "10002", "10003", "10451", "10452", "11201",
        "11202", "11203", "11354", "11355", "10301", "10302"]
FIRST = ["Ava", "Ben", "Cara", "Dev", "Elle", "Finn", "Gia", "Hugo",
         "Iris", "Jay", "Kira", "Liam"]
LAST = ["Moss", "Nolan", "Ortiz", "Park", "Quinn", "Reyes", "Shah",
        "Tran", "Usher", "Vega", "Wong", "Young"]
LANGS = ["English", "Spanish", "Mandarin", "Russian", "Bengali"]
CLAIM_STATUS = ["Submitted", "Paid", "Denied", "Partial"]
ENC_TYPES = ["INPATIENT", "OUTPATIENT", "ER", "OFFICE"]
MEASURES = [("QM001", "HbA1c Control", "HEDIS"), ("QM002", "BP Control", "HEDIS"),
            ("QM003", "Statin Therapy", "Stars"), ("QM004", "Eye Exam", "HEDIS"),
            ("QM005", "Med Adherence", "Stars"), ("QM006", "Readmission 30d", "CMS")]
SPECIALTIES = [("IM", "Internal Medicine"), ("CAR", "Cardiology"),
               ("NEP", "Nephrology"), ("EM", "Emergency Medicine"),
               ("RAD", "Radiology"), ("FAM", "Family Medicine")]


def _npi(j: int) -> str:
    return f"1{j:09d}"


def _money(cents: int) -> Decimal:
    return (Decimal(cents) / 100).quantize(Decimal("0.01"))


@lru_cache(maxsize=4)
def rows(n_members: int = DEFAULT_MEMBERS) -> dict[str, list[tuple]]:
    """All 50 tables as {flat_name: [row tuples]}, deterministic in n."""
    n = n_members
    t: dict[str, list[tuple]] = {}

    # ---- s5_ref masters first (everything else stays inside them)
    t["s5_ref_ref_icd10"] = [
        (c, f"Desc {c}", f"Ch{idx % 5 + 1}", ["Chronic", "Acute"][idx % 2])
        for idx, c in enumerate(ICD10)
    ]
    t["s5_ref_ref_cpt_hcpcs"] = [
        (c, f"Proc {c}", ["E/M", "Lab", "Radiology", "Cardiology"][idx % 4])
        for idx, c in enumerate(CPT)
    ]
    t["s5_ref_ref_pos"] = list(POS)
    t["s5_ref_ref_ndc"] = [
        (f"0000{j:07d}", f"Generic{j}", f"Brand{j}", f"{j * 5}mg", "Tablet", "Oral")
        for j in range(1, 6)
    ]
    t["s5_ref_ref_loinc"] = [
        (f"{j}000-{j}", f"Component{j}", "Mass", "Qn", "Method", f"Common{j}")
        for j in range(1, 6)
    ]
    t["s5_ref_ref_quality_measure"] = list(MEASURES)
    t["s5_ref_ref_benefit"] = [
        (j, f"Benefit{j}", ["IP", "OP", "Rx", "Vision", "Dental", "IP", "OP"][j - 1])
        for j in range(1, 8)
    ]
    t["s5_ref_ref_plan_benefit"] = [
        ((j % 5) + 1, (j % 7) + 1, f"2025{j % 3 + 1:02d}",
         _money(1000 + j * 250), Decimal(f"{(j % 4) * 5}.00"), _money(50000 + j * 10000))
        for j in range(1, 11)
    ]
    t["s5_ref_ref_geo_zipfips"] = [
        (z, f"360{idx:02d}", f"County{idx}", "NY", ["NYC", "Upstate"][idx % 2])
        for idx, z in enumerate(ZIPS)
    ]
    t["s5_ref_ref_adjustment_code"] = [
        ("CO", "45", "Charge exceeds fee schedule", False),
        ("PR", "1", "Deductible", False),
        ("PR", "2", "Coinsurance", False),
        ("OA", "23", "Prior payer impact", False),
        ("PI", "204", "Not covered", True),
    ]

    # ---- s1_elig
    t["s1_elig_payer"] = [
        (1, "CMS Medicare", "Medicare"),
        (2, "State Medicaid", "Medicaid"),
        (3, "Acme Health", "Medicaid MCO"),
    ]
    t["s1_elig_insurance_plan"] = [
        (1, 1, "Medicare Advantage A", "Medicare", "Individual"),
        (2, 1, "Medicare Advantage B", "Medicare", "Individual"),
        (3, 2, "Medicaid Standard", "Medicaid", None),
        (4, 3, "Dual Complete", "Dual", "Individual"),
        (5, 3, "MCO Plus", "Medicaid", "Family"),
    ]
    t["s1_elig_member"] = [
        (i, f"MBI-{1000 + i}", FIRST[(i - 1) % 12], LAST[(i * 3) % 12],
         D(1940 + (i * 7) % 50, (i % 12) + 1, (i * 5) % 28 + 1),
         "MF"[i % 2], f"{100 + i:03d}-00-{1000 + i:04d}" if i % 3 else None)
        for i in range(1, n + 1)
    ]
    t["s1_elig_member_address"] = [
        (i, i, f"{i * 10} Main St", f"Apt {i}" if i % 2 else None,
         "New York", "NY", ZIPS[(i - 1) % len(ZIPS)])
        for i in range(1, n + 1)
    ]
    t["s1_elig_member_contact"] = [
        (i, i, f"212-555-{1000 + i:04d}" if i % 4 else None,
         f"m{i}@example.org" if i % 5 else None)
        for i in range(1, n + 1)
    ]

    def plan_of(member: int) -> int:
        return (member % 5) + 1

    months = [D(2025, 1, 1), D(2025, 2, 1), D(2025, 3, 1)]
    t["s1_elig_enrollment"] = [
        ((i - 1) * 3 + mi + 1, i, plan_of(i), m, not (i % 7 == 0 and mi == 2))
        for i in range(1, n + 1)
        for mi, m in enumerate(months)
    ]
    cov = [
        (i, i, plan_of(i), D(2025, 1, 1), None if i % 2 else D(2025, 3, 31))
        for i in range(1, n + 1)
    ]
    cov += [
        (n + j, j * 10, plan_of(j * 10), D(2024, 7, 1), D(2024, 12, 31))
        for j in range(1, n // 10 + 1)
    ]
    t["s1_elig_coverage_period"] = cov
    t["s1_elig_dual_status"] = [
        (k + 1, i, ["QMB", "SLMB", "FBDE"][k % 3], D(2025, 1, 1))
        for k, i in enumerate(range(6, n + 1, 6))
    ]
    t["s1_elig_subsidy_lis"] = [
        (k + 1, i, ["Full", "Partial", "None"][k % 3], D(2025, 1, 1))
        for k, i in enumerate(range(4, n + 1, 4))
    ]
    t["s1_elig_member_language_pref"] = [
        (i, i, LANGS[(i - 1) % len(LANGS)], D(2025, 1, 1))
        for i in range(1, n + 1)
    ]

    # ---- s4_provider (needed by claims for NPIs)
    n_prov = max(12, n)
    t["s4_provider_organization"] = [
        (o, f"Org {o}", f"13-{400000 + o:06d}") for o in range(1, 6)
    ]
    t["s4_provider_location"] = [
        (l, (l % 5) + 1, f"Site {l}", f"{l * 7} Care Blvd", "New York", "NY",
         ZIPS[(l + 3) % len(ZIPS)])
        for l in range(1, 9)
    ]
    t["s4_provider_provider"] = [
        (p, _npi(p), f"Dr {LAST[(p * 5) % 12]}",
         ["MD", "DO", "NP", "PA"][p % 4], p % 9 != 0)
        for p in range(1, n_prov + 1)
    ]
    t["s4_provider_provider_location"] = [
        (p, (p % 8) + 1, D(2024, ((p * 2) % 12) + 1, 1),
         None if p % 3 else D(2025, 6, 30))
        for p in range(1, n_prov + 1)
    ] + [(p, ((p + 3) % 8) + 1, D(2025, 1, 1), None) for p in range(1, n_prov // 4 + 1)]
    t["s4_provider_specialty"] = list(SPECIALTIES)
    t["s4_provider_provider_specialty"] = [
        (p, SPECIALTIES[(p - 1) % 6][0]) for p in range(1, n_prov + 1)
    ] + [(p, SPECIALTIES[(p + 2) % 6][0]) for p in range(1, n_prov // 10 + 2)]
    t["s4_provider_contract"] = [
        (c, (c % 3) + 1, plan_of(c) if c % 2 else None, f"Contract {c}",
         D(2025, 1, 1), None if c % 2 else D(2025, 12, 31),
         "ORG" if c % 2 else "PROVIDER",
         (c % 5) + 1 if c % 2 else None,
         None if c % 2 else ((c * 2) % n_prov) + 1)
        for c in range(1, 6)
    ]
    t["s4_provider_contract_rate"] = [
        (((r - 1) % 5) + 1, CPT[(r * 2) % len(CPT)], D(2025, 1, 1),
         _money(5000 + r * 750))
        for r in range(1, 12)
    ]
    t["s4_provider_network_status"] = [
        (p, plan_of(p), f"2025{(k % 3) + 1:02d}", "IN" if (p + k) % 5 else "OUT")
        for k, p in enumerate(range(1, min(n_prov, 6) + 1))
    ]
    t["s4_provider_affiliation"] = [
        (p, (p % 5) + 1, D(2024, 1, 1), None if p % 2 else D(2025, 12, 31))
        for p in range(1, min(n_prov, 10) + 1)
    ]

    # ---- s2_claims
    n_claims = max(10, (n * 5) // 6)
    headers = []
    for c in range(1, n_claims + 1):
        member = ((c * 7) % n) + 1
        headers.append(
            (c, f"CLM-{20250000 + c}", member, plan_of(member),
             D(2025, ((c * 2) % 6) + 1, ((c * 11) % 28) + 1),
             _npi(((c * 3) % n_prov) + 1) if c % 6 else None,
             POS[c % 6][0] if c % 5 else None,
             CLAIM_STATUS[c % 4])
        )
    t["s2_claims_claim_header"] = headers
    t["s2_claims_place_of_service"] = list(POS)

    lines, dxs, procs, pays, adjs = [], [], [], [], []
    pay_id = adj_id = 0
    for (c, _, member, plan, cdate, npi, pos, status) in headers:
        n_lines = (c % 3) + 1
        for ln in range(1, n_lines + 1):
            billed = _money(10000 + ((c * 37 + ln * 13) % 900) * 100 + ln * 25)
            lines.append(
                (c, ln, cdate + dt.timedelta(days=ln - 1),
                 POS[(c + ln) % 6][0], Decimal(f"{(c + ln) % 4 + 1}.00"),
                 f"0{250 + ln}" if ln % 2 else None, billed,
                 _npi(((c * 3 + ln) % n_prov) + 1) if ln % 4 else None)
            )
            procs.append(
                (c, ln, 1, CPT[(c * 5 + ln) % len(CPT)],
                 "25" if (c + ln) % 7 == 0 else None, None)
            )
            if (c + ln) % 5 == 0:
                procs.append((c, ln, 2, CPT[(c * 5 + ln + 3) % len(CPT)], None, None))
            pay_id += 1
            if status == "Denied":
                pays.append((pay_id, c, ln, _money(0), _money(0), _money(0), None))
            else:
                allowed = (billed * Decimal("0.8")).quantize(Decimal("0.01"))
                liability = _money(1000)
                pays.append(
                    (pay_id, c, ln, allowed,
                     (allowed - liability).quantize(Decimal("0.01")),
                     liability, cdate + dt.timedelta(days=14))
                )
            if (c * 3 + ln) % 4 == 0:
                adj_id += 1
                code = [("CO", "45"), ("PR", "1"), ("PR", "2"), ("OA", "23"),
                        ("PI", "204")][adj_id % 5]
                adjs.append(
                    (adj_id, c, ln, code[0], code[1], _money(500 + adj_id * 125),
                     f"N{adj_id}" if adj_id % 2 else None)
                )
        for dseq in range(1, (c % 2) + 2):
            dxs.append((c, dseq, ICD10[(c * 3 + dseq) % len(ICD10)]))
    t["s2_claims_claim_line"] = lines
    t["s2_claims_claim_diagnosis"] = dxs
    t["s2_claims_claim_procedure"] = procs
    t["s2_claims_claim_payment"] = pays
    t["s2_claims_claim_adjustment"] = adjs

    n_enc = max(10, (n * 5) // 6)
    encs, enc_dx, enc_proc = [], [], []
    for e in range(1, n_enc + 1):
        member = ((e * 5) % n) + 1
        etype = ENC_TYPES[e % 4]
        edate = D(2025, ((e * 3) % 6) + 1, ((e * 13) % 28) + 1)
        admit = edate if etype == "INPATIENT" else None
        disch = (edate + dt.timedelta(days=(e % 5) + 1)) if etype == "INPATIENT" else None
        encs.append(
            (e, member, plan_of(member), edate, etype, admit, disch,
             POS[(e + 1) % 6][0], _npi(((e * 7) % n_prov) + 1))
        )
        enc_dx.append((e, 1, ICD10[(e * 7) % len(ICD10)]))
        enc_proc.append((e, 1, CPT[(e * 11) % len(CPT)]))
        if e % 3 == 0:
            enc_proc.append((e, 2, CPT[(e * 11 + 5) % len(CPT)]))
    t["s2_claims_encounter"] = encs
    t["s2_claims_encounter_diagnosis"] = enc_dx
    t["s2_claims_encounter_procedure"] = enc_proc

    # ---- s3_cca
    t["s3_cca_quality_measure"] = list(MEASURES)
    t["s3_cca_cca_user"] = [
        (u, f"User {u}", ["RN", "Care Manager", "SW"][u % 3]) for u in range(1, 7)
    ]
    t["s3_cca_care_program"] = [
        (1, "Diabetes", "Diabetes management"),
        (2, "CHF", "Congestive heart failure"),
        (3, "CKD", "Chronic kidney disease"),
    ]
    n_cp = max(9, (n * 3) // 4)
    t["s3_cca_care_plan"] = [
        (cp, ((cp * 4) % n) + 1, (cp % 3) + 1,
         plan_of(((cp * 4) % n) + 1) if cp % 3 else None,
         D(2025, ((cp % 3) + 1), 1),
         None if cp % 2 else D(2025, 6, 30),
         "Active" if cp % 2 else "Closed",
         (cp % 6) + 1 if cp % 4 else None)
        for cp in range(1, n_cp + 1)
    ]
    goals = []
    gid = 0
    for cp in range(1, n_cp + 1):
        for g in range(1, (cp % 2) + 2):
            gid += 1
            goals.append(
                (gid, cp, f"Goal {gid} for plan {cp}",
                 D(2025, 6, ((gid * 3) % 28) + 1) if gid % 3 else None,
                 ["Open", "Met", "NotMet"][gid % 3])
            )
    t["s3_cca_care_goal"] = goals
    tasks = []
    tid = 0
    for cp in range(1, n_cp + 1):
        for k in range(1, (cp % 2) + 3):
            tid += 1
            tasks.append(
                (tid, cp, tid % gid + 1 if tid % 4 else None,
                 f"Task {tid}", D(2025, ((tid % 5) + 1), ((tid * 7) % 28) + 1),
                 ["Open", "Done", "Skipped"][tid % 3],
                 (tid % 6) + 1 if tid % 5 else None)
            )
    t["s3_cca_care_task"] = tasks
    t["s3_cca_assessment"] = [
        (a, ((a * 3) % n) + 1, (a % 3) + 1 if a % 4 else None,
         D(2025, (a % 4) + 1, ((a * 9) % 28) + 1),
         ["HRA", "PHQ9", "FallRisk"][a % 3],
         Decimal(f"{(a * 7) % 25}.50") if a % 5 else None,
         f"Note {a}" if a % 2 else None)
        for a in range(1, max(16, n + 4) + 1)
    ]
    t["s3_cca_risk_score"] = [
        (r, ((r * 5) % n) + 1, ["HCC", "Readmit", "Internal"][r % 3],
         Decimal(f"{(r * 13) % 30}.25"), ["Low", "Medium", "High"][r % 3],
         D(2025, (r % 3) + 1, 1))
        for r in range(1, max(12, n) + 1)
    ]
    gaps = []
    for g in range(1, max(16, (n * 4) // 3) + 1):
        closed = g % 3 == 0
        gaps.append(
            (g, ((g * 7) % n) + 1, MEASURES[g % 6][0],
             D(2025, 1, 1), D(2025, 12, 31),
             "CLOSED" if closed else "OPEN",
             D(2025, (g % 5) + 1, ((g * 3) % 28) + 1) if closed else None)
        )
    t["s3_cca_care_gap"] = gaps
    t["s3_cca_intervention"] = [
        (iv, ((iv * 3) % n_cp) + 1, (iv % tid) + 1 if iv % 3 else None,
         (iv % 6) + 1 if iv % 4 else None,
         D(2025, ((iv * 2) % 5) + 1, ((iv * 5) % 28) + 1),
         ["Call", "Education", "HomeVisit", "Support"][iv % 4],
         ((iv * 11) % 55) + 5 if iv % 5 else None,
         f"Intervention note {iv}" if iv % 2 else None)
        for iv in range(1, max(19, n + 7) + 1)
    ]

    missing = set(ALL_TABLES) - set(t)
    assert not missing, f"fixture generator missing tables: {missing}"
    return t


# --------------------------------------------------------- renderings


def dataframes(spark, n_members: int = DEFAULT_MEMBERS):
    """All 50 tables as Spark DataFrames with explicit schemas.

    Each table goes in as an Arrow table on purpose: Spark plans it as a
    LocalRelation (up to arrow.localRelationThreshold, 48 MB) that
    carries its size, so Catalyst constant-folds it and picks its
    broadcasts at planning time. ``createDataFrame`` over the Python
    rows would plan as ``Scan ExistingRDD`` with no size estimate: every
    join on it is then chosen by AQE at run time, and the plan depends
    on which input stage happens to finish first — hq06 ran one of two
    plans per pass (4 extra generated classes) on the same data.
    Wrapping in coalesce/repartition would demote it to an RDD scan
    too.
    """
    return {
        name: spark.createDataFrame(_arrow_table(data or [], ALL_TABLES[name]))
        for name, data in rows(n_members).items()
    }


def _arrow_table(data: list[tuple], schema: StructType) -> pa.Table:
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*data)) if data else [()] * len(schema.fields)
    return pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema, strict=True)],
        schema=arrow_schema,
    )


def register_views(spark, n_members: int = DEFAULT_MEMBERS) -> None:
    for name, df in dataframes(spark, n_members).items():
        df.createOrReplaceTempView(name)


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, Decimal)):
        return str(v)
    if isinstance(v, dt.date):
        return f"'{v.isoformat()}'"
    return "'" + str(v).replace("'", "''") + "'"


def _cast_sql(typ) -> str:
    if isinstance(typ, IntegerType):
        return "INTEGER"
    if isinstance(typ, DateType):
        return "DATE"
    if isinstance(typ, BooleanType):
        return "BOOLEAN"
    if isinstance(typ, DecimalType):
        return f"DECIMAL({typ.precision},{typ.scale})"
    return "VARCHAR"


def table_cte(name: str, n_members: int = DEFAULT_MEMBERS) -> str:
    """One table as a DuckDB CTE body: typed SELECT over inline VALUES."""
    schema: StructType = ALL_TABLES[name]
    data = rows(n_members)[name]
    cols = [f.name for f in schema.fields]
    casts = ", ".join(
        f"CAST({c} AS {_cast_sql(f.dataType)}) AS {c}"
        for c, f in zip(cols, schema.fields)
    )
    values = ",\n      ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in data
    )
    return (
        f"SELECT {casts} FROM (VALUES\n      {values}\n    ) AS _v({', '.join(cols)})"
    )


def sql_ctes(tables: list[str], n_members: int = DEFAULT_MEMBERS) -> str:
    """WITH-clause text defining the given fixture tables for DuckDB."""
    parts = [f"{name} AS (\n    {table_cte(name, n_members)}\n  )" for name in tables]
    return "WITH " + ",\n  ".join(parts)
