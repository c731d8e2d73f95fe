"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (TPC-H Q1 pricing summary, SURVEY §2C C3) at sf0.001.
queries()     — every implemented operator from SURVEY.md §2 (A-rows + C-rows).
oracle_sql()  — the DuckDB twin of every query (plans/oracle.py compares them).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_in_action_spark.plans.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["c3_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items()
            if spec.oracle is not None}
