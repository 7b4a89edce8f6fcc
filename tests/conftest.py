"""Shared Spark session for all tests (one JVM for the whole run)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from antidb_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[*]", app_name="antidb_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def pin_batch_tier(monkeypatch):
    """``pin_batch_tier("spark")`` sends every ``query_batch`` of the
    test to its Spark tier, ``pin_batch_tier("driver")`` to its driver
    tier, whatever the batch's block fan-out."""
    from antidb_spark.operators.build import IndexBuilder

    def pin(tier: str) -> None:
        assert tier in ("driver", "spark")
        monkeypatch.setattr(
            IndexBuilder, "_batch_on_driver",
            lambda self, plan: tier == "driver",
        )

    return pin
