"""``session.local_rows``: small constant frames built from Catalyst
literals, checked against their schema before any job runs."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from opentelemetry_collector_spark.session import local_rows

SCHEMA = T.StructType([
    T.StructField("name", T.StringType(), False),
    T.StructField("n", T.LongType(), True),
    T.StructField("small", T.IntegerType(), False),
    T.StructField("flag", T.BooleanType(), True),
])
# an int that fits 32 bits after a bigint one, NULLs after values, and a
# quote and backslash in a string
ROWS = [("a", 2**40, 1, True), ("b'\\", None, -2, None), ("c", 3, 0, False)]


def test_round_trips_values_nulls_and_types(spark):
    df = local_rows(spark, ROWS, SCHEMA)
    assert df.schema == SCHEMA  # names, types and nullability
    assert [tuple(r) for r in df.collect()] == ROWS
    empty = local_rows(spark, [], SCHEMA)
    assert empty.schema == SCHEMA and empty.collect() == []


@pytest.mark.parametrize("row, error, message", [
    (("a", 1, None, True), ValueError, "field small: .*not nullable"),
    (("a", "1", 1, True), TypeError, "field n: LongType.*str"),
])
def test_bad_rows_raise_before_any_job(spark, row, error, message):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "local-rows-bad")
    try:
        with pytest.raises(error, match=message):
            local_rows(spark, [ROWS[0], row], SCHEMA).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("local-rows-bad")) == []


def test_plan_has_no_python_scan(spark):
    plan = local_rows(spark, ROWS, SCHEMA)._jdf.queryExecution().executedPlan()
    assert "ExistingRDD" not in plan.toString()
