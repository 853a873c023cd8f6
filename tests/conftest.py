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


@pytest.fixture
def py4j_calls(monkeypatch):
    """A one-item list counting the py4j round trips the test's thread
    makes from here on; set ``[0]`` back to 0 to start a new count."""
    import threading

    import py4j.clientserver

    send = py4j.clientserver.ClientServerConnection.send_command
    calls = [0]
    test_thread = threading.get_ident()

    def counting_send(self, command):
        # Only the test's thread: py4j releases freed proxies from a
        # thread of its own, whenever the garbage collector runs.
        if threading.get_ident() == test_thread:
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting_send
    )
    return calls
