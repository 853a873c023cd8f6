from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from climate_anomaly_bigdata_pipeline_spark.session import get_spark

_TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(_TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(_TESTDATA, "sf0.01")
SF_SCALE = os.path.join(_TESTDATA, "sf0.1")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        "climate-anomaly-bigdata-pipeline-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-warehouse-")
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def sf_scale_dir() -> str:
    return SF_SCALE
