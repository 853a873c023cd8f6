"""The verification driver builds its OWN SparkSession (Spark 4
defaults: ANSI on, no nanos handling, machine TZ). The engine must work
there — Catalog pins the required confs at runtime, before an SQL-text
query's ``spark.sql`` parses. Runs in a subprocess because the
in-process JVM already carries test configs."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: the repo root to import the engine from, then the testdata dir.
SCRIPT = r"""
import sys
repo, sf_dir = sys.argv[1:3]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .appName("vanilla").config("spark.ui.enabled", "false").getOrCreate())
assert spark.conf.get("spark.sql.ansi.enabled") == "true"  # genuine vanilla
import __spark_entry__ as E
qs = E.queries()
# An SQL-text query first: Catalog pins the confs before spark.sql parses.
assert qs["q3_shipping_priority"](spark, sf_dir).count() > 0
assert E.entry(spark).count() > 0
assert qs["zscore_anomaly"](spark, sf_dir).count() > 0
assert qs["parse_delimited_roundtrip"](spark, sf_dir).count() > 0
print("VANILLA_OK")
"""


def test_engine_under_vanilla_driver_session(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "VANILLA_OK" in proc.stdout, proc.stdout + proc.stderr


def test_python_udf_query_runs_outside_the_repo(tmp_path, sf_dir):
    """Python workers import the package to run its UDFs; started from
    another directory with no PYTHONPATH, they find it only through the
    path ``get_spark`` hands them."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "run_query.py"),
         "phash_image_dedup", sf_dir, "-n", "1"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
