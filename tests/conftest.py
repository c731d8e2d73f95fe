"""Shared fixtures: one SparkSession per test run and a DuckDB connection
with the testdata views registered (plans/oracle.py holds the compare)."""

from __future__ import annotations

import os

import pytest

from kafka_streams_in_action_spark.plans import oracle
from kafka_streams_in_action_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Apply the `slow` marker from tests/slow_tests.txt (optimization
    r15, verdict r14 item 6): the full suite is ~35 min wall and the
    driver's test gate times out mid-run, so the heavyweight
    end-to-end tests (>= 3 s call time in the committed full-run
    durations, /tmp-independent) are excluded from the default run by
    pytest.ini's `-m "not slow"`. The list is a committed data file so
    re-tiering is a one-line diff, and matching is by
    file::test suffix so the split works from any invocation cwd."""
    slow_path = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(slow_path) as f:
            slow = {ln.strip() for ln in f
                    if ln.strip() and not ln.startswith("#")}
    except OSError:
        return
    for item in items:
        nodeid = item.nodeid.replace("\\", "/")
        suffix = nodeid.rsplit("/", 1)[-1]
        if suffix in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = oracle.connect(SF_DIR)
    yield con
    con.close()
