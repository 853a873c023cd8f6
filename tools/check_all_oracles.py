"""Local replica of the driver's full correctness sweep.

Runs every registered query against its DuckDB oracle at the given
sf dir (default sf0.01, the driver's gate) through the dtype-strict
compare in tests/oracle_utils.py, and prints one line per query plus
a failing summary. Exit code 1 if any query fails.

Usage: python tools/check_all_oracles.py [sf_dir] [name ...]
       python tools/check_all_oracles.py --json OUT.json [sf_dir] [name ...]

With --json the per-query results are also written as a JSON record
(sf_dir, passed, total and name -> {ok, msg, seconds}), so a sweep can
be diffed against an earlier one rather than read from scrollback.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES
from climate_anomaly_bigdata_pipeline_spark.session import get_spark
from tests.oracle_utils import run_check


def main() -> int:
    # argparse so --json works in any position (a trailing --json used
    # to be silently consumed as the sf_dir positional; ADVICE r8).
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", help="subset of query names")
    ap.add_argument("--json", dest="json_out", default=None,
                    help="also write the per-query results here as JSON")
    ns = ap.parse_args()
    json_out = ns.json_out
    sf_dir = ns.sf_dir
    if not os.path.isdir(sf_dir):
        ap.error(f"sf_dir does not exist: {sf_dir}")
    names = ns.names or sorted(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown query names: {unknown}")
    spark = get_spark("oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[tuple[str, str]] = []
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.monotonic()
        try:
            ok, msg = run_check(spark, name, sf_dir)
        except Exception as e:  # noqa: BLE001 — sweep must report, not die
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        dt = time.monotonic() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name:40s} {dt:6.1f}s  {msg}")
        sys.stdout.flush()
        results[name] = {"ok": ok, "msg": msg, "seconds": round(dt, 2)}
        if not ok:
            failures.append((name, msg))
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    for name, msg in failures:
        print(f"  FAIL {name}: {msg}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "passed": len(names) - len(failures),
                    "total": len(names),
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
