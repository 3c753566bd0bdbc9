from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from flink_rtcef_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture
def small_arrow_batches(spark):
    """7-row Arrow batches, so keys straddle batch boundaries and the
    kernel's cross-batch carry is exercised."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, prev)


@pytest.fixture
def distributed_route(monkeypatch):
    """Send every non-empty frame of the adaptation loop and the model
    factory, and every non-empty fast-path microbatch, down their
    distributed Spark plans: a driver bound of 0 rows."""
    from flink_rtcef_spark.streaming import bounded

    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)


@pytest.fixture
def distributed_state_route(monkeypatch):
    """Send every fast-path microbatch whose touched buckets carry any
    state down the distributed route: a driver state bound of 0 rows."""
    from flink_rtcef_spark.streaming import bounded

    monkeypatch.setattr(bounded, "DRIVER_MAX_STATE_ROWS", 0)
