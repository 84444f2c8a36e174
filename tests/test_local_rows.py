"""``local_rows_df`` accepts every value ``createDataFrame`` accepts.

Values SQL text cannot carry (date, datetime, Decimal, bytes, nested
Row/dict) take the parallelize path; the result must equal the
``createDataFrame(rows, schema)`` twin in schema and rows.
"""

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import Row

from sea_serpent_spark.operators.util import local_rows_df

CASES = {
    "date": (
        [(1, datetime.date(2020, 1, 2)), (2, None)],
        "id long, v date",
    ),
    "datetime": (
        [(1, datetime.datetime(2020, 1, 2, 3, 4, 5, 678901)), (2, None)],
        "id long, v timestamp",
    ),
    "decimal": (
        [(1, Decimal("12.34")), (2, Decimal("-0.01")), (3, None)],
        "id long, v decimal(10,2)",
    ),
    "bytes": (
        [(1, b"\x00\xffab"), (2, bytearray(b"'\\")), (3, None)],
        "id long, v binary",
    ),
    "row": (
        [(1, Row(a=1, b="x")), (2, None)],
        "id long, v struct<a:int,b:string>",
    ),
    "dict_struct": (
        [(1, {"a": 2, "b": "y"})],
        "id long, v struct<a:int,b:string>",
    ),
    "dict_map": (
        [(1, {"k": 1, "j": 2}), (2, {})],
        "id long, v map<string,int>",
    ),
    "array_of_row": (
        [(1, [Row(a=1), Row(a=2)]), (2, [])],
        "id long, v array<struct<a:int>>",
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_local_rows_matches_create_dataframe(spark, name):
    rows, schema = CASES[name]
    got = local_rows_df(spark, rows, schema)
    exp = spark.createDataFrame(rows, schema)
    assert got.schema == exp.schema
    assert got.collect() == exp.collect()


def test_inlinable_rows_stay_a_local_relation(spark):
    got = local_rows_df(spark, [(1, "a"), (2, None)], "id long, s string")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert got.collect() == spark.createDataFrame(
        [(1, "a"), (2, None)], "id long, s string"
    ).collect()
