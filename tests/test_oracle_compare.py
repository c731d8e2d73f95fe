"""Spark-free tests of the oracle gate's compare contract (plans/oracle.py)
and of the test-tier list (tests/slow_tests.txt)."""

from __future__ import annotations

import ast
import math
import os

from kafka_streams_in_action_spark.plans import oracle


def test_one_ulp_passes_six_decimals_but_is_bit_drift():
    x = 0.1 + 0.2
    y = math.nextafter(x, 1.0)
    failure, drift = oracle.compare_rows(["v"], [(x,)], ["v"], [(y,)])
    assert failure is None
    assert drift and "bit" in drift


def test_a_seventh_decimal_difference_is_a_failure():
    failure, drift = oracle.compare_rows(["v"], [(1.0,)], ["v"], [(1.00001,)])
    assert failure and "value mismatch" in failure and drift is None


def test_signed_zero_and_nan_compare_equal():
    rows_s = [(-0.0, float("nan"))]
    rows_d = [(0.0, float("nan"))]
    assert oracle.compare_rows(["z", "n"], rows_s, ["z", "n"], rows_d) \
        == (None, None)


def test_columns_compare_by_name_and_rows_as_a_multiset():
    s = [(1, "a"), (2, "b")]
    d = [("b", 2), ("a", 1)]
    assert oracle.compare_rows(["k", "v"], s, ["v", "k"], d) == (None, None)
    failure, _ = oracle.compare_rows(["k"], [(1,)], ["k"], [(1,), (1,)])
    assert "row counts differ" in failure
    failure, _ = oracle.compare_rows(["k"], [(1,)], ["key"], [(1,)])
    assert "column names differ" in failure


def test_none_and_bytes_canonicalize():
    assert oracle.canonical([(None, b"\x00\xff", 1.5, 7)],
                            ["a", "b", "c", "d"]) \
        == [("\0NULL", "00ff", "1.500000", "7")]


def test_type_audit_bans_hugeint_and_checks_the_mapping():
    assert oracle.type_mismatches([("n", "bigint")], ["n"], ["BIGINT"]) == []
    banned = oracle.type_mismatches([("n", "bigint")], ["n"], ["HUGEINT"])
    assert banned and any("banned" in p for p in banned)
    assert oracle.type_mismatches([("x", "double")], ["x"],
                                  ["DECIMAL(18,3)"])
    assert oracle.type_mismatches([("n", "int")], ["n"], ["BIGINT"])


def _test_functions(path):
    tree = ast.parse(open(path).read())
    return {n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}


def test_slow_tier_names_existing_tests():
    """Every tests/slow_tests.txt entry (file::test, param id ignored)
    names a test function that exists, so a deleted or renamed test
    leaves no stale tier entry."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "slow_tests.txt")) as f:
        entries = [ln.strip() for ln in f
                   if ln.strip() and not ln.startswith("#")]
    found: dict[str, set[str]] = {}
    stale = []
    for entry in entries:
        fname, _, test = entry.partition("::")
        path = os.path.join(here, fname)
        if fname not in found:
            found[fname] = (_test_functions(path) if os.path.exists(path)
                            else set())
        if test.split("[", 1)[0] not in found[fname]:
            stale.append(entry)
    assert not stale, stale
