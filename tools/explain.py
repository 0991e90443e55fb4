"""Dump the physical plan of one or more named queries.

Usage:
    python tools/explain.py <query_name> [more names...] [--sf DIR]

Prints ``explain("formatted")`` output — the artifact to review for
pushed filters (PushedFilters), column pruning (ReadSchema), join
strategy (BroadcastHashJoin vs SortMergeJoin vs *NestedLoop*), partial
aggregation, and exchange count. The plan-quality regression suite
(tests/test_plans.py) pins the properties that must not rot; this CLI
is for eyeballing new queries while writing them.

Plans captured while the query was built (``operators/plancap``: the
connected-components loop, streaming micro-batches) follow the query's
own plan. Every dump is normalized: expression ids (``#NNN``),
``plan_id=`` and ``RDD[NNN]`` numbers, run UUIDs, JVM object hash
codes, the numeric suffix of lambda variable names (``x_39``), an
RDD's call site and a landing file's temp dir and part number
differ between two runs of the same code, so they are replaced
by fixed tokens. Two checkouts' dumps of the same query then ``diff``
clean unless the plan really changed. Naming a query twice builds it twice in one session
(e.g. d99's probe pass, then its verdict-cache hit).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_project_spark.operators import plancap  # noqa: E402
from data_engineer_project_spark.queries import QUERIES  # noqa: E402
from data_engineer_project_spark.session import get_spark  # noqa: E402

_TMP = re.escape(tempfile.gettempdir())
_VOLATILE = (
    # a landing file's mkdtemp dir and part number (s25's micro-batch
    # scan), before the UUID rule sees the part file's (often cut) UUID
    (re.compile(rf"({_TMP}/\w+?_)[a-z0-9_]{{8}}/"), r"\1X/"),
    (re.compile(r"part-\d{5}-[0-9a-f-]*"), "part-N-"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # an RDD's call site: the same localCheckpoint prints
    # ``NativeMethodAccessorImpl.java:0`` or ``<unknown>:0``
    (re.compile(r"(RDD\[N\] at \w+ at )\S+:\d+"), r"\1SITE"),
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"@[0-9a-f]{1,8}\b"), "@H"),  # JVM identity hash codes
    # lambda variables print as ``lambda x_39#N``: the suffix counts the
    # lambdas the process built before, not anything in this plan
    (re.compile(r"(lambda [A-Za-z]+)_\d+#"), r"\1_N#"),
)


def normalize(plan: str) -> str:
    """``plan`` with the run-specific numbers replaced by fixed tokens."""
    for pattern, token in _VOLATILE:
        plan = pattern.sub(token, plan)
    return plan


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for i, a in enumerate(sys.argv[1:]):
        if a == "--sf":
            sf_dir = sys.argv[1:][i + 1]
            args.remove(sf_dir) if sf_dir in args else None
    if not args:
        print(__doc__)
        print("known queries:", ", ".join(sorted(QUERIES)))
        raise SystemExit(2)

    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args:
        matches = [q for q in QUERIES if q == name or q.startswith(name)]
        if not matches:
            print(f"no query matches {name!r}")
            continue
        for m in matches:
            print(f"\n{'=' * 70}\n{m}\n{'=' * 70}")
            plancap.enable()
            try:
                df = QUERIES[m].fn(spark, sf_dir)
            finally:
                plancap.disable()
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                df.explain("formatted")
            print(normalize(out.getvalue()))
            for label, plan in plancap.CAPTURES:
                print(f"--- captured: {label}\n{normalize(plan)}")


if __name__ == "__main__":
    main()
