"""local_df (functions/localrel.py): driver-local small relations must
be value-identical to the classic ``createDataFrame`` while entering the
JVM as one Arrow batch (r13 optimization — the pickled-RDD path costs a
Python-worker round trip per defaultParallelism slice per action)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

from _data_engineering_pipeline_project_spark.functions.localrel import (
    local_df,
)

SCHEMA = (
    "s string, i int, l long, d double, b boolean, "
    "ad array<double>, as array<string>"
)
ROWS = [
    ("a", 1, 2**40, 0.1, True, [1.0, 2.5], ["x", "y"]),
    (None, None, None, None, None, None, None),
    ("b", -3, -(2**40), float("nan"), False, [], []),
]


def test_value_parity_with_classic_createdataframe(spark):
    got = local_df(spark, ROWS, SCHEMA)
    want = spark.createDataFrame(ROWS, SCHEMA)
    assert got.schema == want.schema
    g, w = got.collect(), want.collect()
    assert repr(sorted(g, key=str)) == repr(sorted(w, key=str))


def test_none_stays_null_in_double_lane(spark):
    # the pandas route would coerce None -> NaN in a float64 column;
    # the pyarrow route must keep it NULL
    rows = [("k", None), ("m", 1.5)]
    out = {r["s"]: r["d"] for r in local_df(spark, rows, "s string, d double").collect()}
    assert out["k"] is None
    assert out["m"] == 1.5


def test_single_partition_and_empty(spark):
    df = local_df(spark, ROWS, SCHEMA)
    assert df.rdd.getNumPartitions() == 1
    empty = local_df(spark, [], SCHEMA)
    assert empty.count() == 0
    assert empty.schema == spark.createDataFrame([], SCHEMA).schema


def test_dict_rows(spark):
    rows = [{"a": 1, "b": "x"}, {"a": None, "b": None}]
    got = local_df(spark, rows, "a int, b string").collect()
    assert got == [Row(a=1, b="x"), Row(a=None, b=None)]


def test_timestamp_schema_falls_back_to_classic(spark):
    ts = datetime.datetime(2030, 1, 2, 3, 4, 5)
    got = local_df(spark, [(ts, "x")], "t timestamp, s string")
    want = spark.createDataFrame([(ts, "x")], "t timestamp, s string")
    assert got.collect() == want.collect()


def test_every_row_width_is_checked(spark):
    # a LATER row wider (or narrower) than the schema must fail loudly,
    # not be truncated by the column transpose, with local_df's own
    # message rather than whatever the classic fallback raises
    for bad in ([("a", 1), ("b", 2, "extra")], [("a", 1), ("b",)]):
        with pytest.raises(ValueError, match="row 1 has"):
            local_df(spark, bad, "s string, i int")
