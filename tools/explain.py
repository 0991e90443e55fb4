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
codes and the numeric suffix of lambda variable names (``x_39``)
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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_project_spark.operators import plancap  # noqa: E402
from data_engineer_project_spark.queries import QUERIES  # noqa: E402
from data_engineer_project_spark.session import get_spark  # noqa: E402

_VOLATILE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
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
