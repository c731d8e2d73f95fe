"""DuckDB-oracle golden tests (SURVEY §5.1): every declared query with an
oracle runs on sf0.001 and must pass plans/oracle.py's contract: the type
audit, the 6-decimal match and no bit drift. scripts/driver_sim.py runs the
same contract at sf0.01."""

from __future__ import annotations

import re

import pytest

from kafka_streams_in_action_spark.plans import oracle
from kafka_streams_in_action_spark.plans.queries import QUERIES

from .conftest import SF_DIR

ORACLE_QUERIES = sorted(n for n, s in QUERIES.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in QUERIES.items() if s.oracle is None)


#: A per-call view name: a prefix plus the 8-hex suffix of
#: queries._unique. Fixed-name source views (events, _gs_orders) differ.
_PER_CALL_VIEW = re.compile(r"_[0-9a-f]{8}$")


def _temp_views(spark) -> set[str]:
    # the session catalog directly: ~2 ms a call, where
    # spark.catalog.listTables() takes ~250 ms (it resolves every table)
    ids = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*")
    return {v.strip("`") for v in ids.mkString("\n").split("\n") if v}


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, duck, name):
    spec = QUERIES[name]
    before = _temp_views(spark)
    sdf = spec.fn(spark, SF_DIR)
    # a replay drops its memory sink's view once the result exists, so a
    # fleet of replays does not pile views up in the driver
    leaked = sorted(v for v in _temp_views(spark) - before
                    if _PER_CALL_VIEW.search(v))
    assert not leaked, f"{name}: per-call temp views left behind: {leaked}"
    failure, drift = oracle.compare(sdf, duck, spec.oracle)
    assert not failure, f"{name}: {failure}"
    assert not drift, f"{name}: {drift}"


def test_every_query_has_an_oracle():
    """Since round 3 every registered query is oracle-checkable (the former
    rows-only registrations re-landed in verdict form) — keep it that way:
    a new oracle-less registration must be a deliberate, documented choice,
    not a silent regression of the correctness gate."""
    assert ROWS_ONLY_QUERIES == [], ROWS_ONLY_QUERIES
