"""Schema-cast goldens — port of the reference's batch-cast tests
(/root/reference/datafusion-federation/src/schema_cast/record_convert.rs:
132-248, lists_cast.rs:519-620, struct_cast.rs:57-170,
intervals_cast.rs:77-190): string→timestamp at three precisions, JSON
strings → arrays/structs, positional arity check, fixed-size list check,
lossy interval errors.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_federation_spark.schema_cast import (
    SchemaCastError, cast_dataframe, cast_interval_months_days_to_daytime,
    cast_interval_months_days_to_yearmonth,
)


def test_string_to_timestamp_three_precisions(spark):
    # record_convert.rs:150-188 golden: all three render 03:18:09
    df = spark.createDataFrame(
        [(1, "foo", "2024-01-13 03:18:09.000000"),
         (2, "bar", "2024-01-13 03:18:09"),
         (3, "baz", "2024-01-13 03:18:09.000")],
        "a int, b string, c string")
    expected = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("c", T.TimestampType()),
    ])
    out = cast_dataframe(df, expected)
    assert out.schema["c"].dataType == T.TimestampType()
    ts = [r["c"] for r in out.orderBy("a").collect()]
    want = datetime.datetime(2024, 1, 13, 3, 18, 9)
    assert ts == [want, want, want]


def test_arity_mismatch_errors(spark):
    # positional cast errors on column-count mismatch
    # (record_convert.rs:51-59)
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    expected = T.StructType([T.StructField("a", T.LongType())])
    with pytest.raises(SchemaCastError, match="column count"):
        cast_dataframe(df, expected)


def test_json_string_to_list(spark):
    # lists_cast.rs:197-299: '[1, 2, 3]' -> ArrayType(Long)
    df = spark.createDataFrame(
        [("[1, 2, 3]",), (None,), ("[4]",)], "v string")
    expected = T.StructType(
        [T.StructField("v", T.ArrayType(T.LongType()))])
    rows = [r["v"] for r in cast_dataframe(df, expected).collect()]
    assert rows == [[1, 2, 3], None, [4]]


def test_json_string_to_struct(spark):
    # struct_cast.rs:12-55: '{"a": 1, "b": "x"}' -> Struct; NULL -> null
    df = spark.createDataFrame(
        [('{"a": 1, "b": "x"}',), (None,)], "v string")
    expected = T.StructType([T.StructField("v", T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ]))])
    rows = cast_dataframe(df, expected).collect()
    assert rows[0]["v"]["a"] == 1 and rows[0]["v"]["b"] == "x"
    assert rows[1]["v"] is None


def test_fixed_size_list_length_ok(spark):
    df = spark.createDataFrame([("[1.0, 2.0]",), (None,)], "v string")
    expected = T.StructType(
        [T.StructField("v", T.ArrayType(T.DoubleType()))])
    out = cast_dataframe(df, expected, fixed_size_lists={"v": 2})
    rows = [r["v"] for r in out.collect()]
    assert rows == [[1.0, 2.0], None]


def test_fixed_size_list_length_violation_raises(spark):
    # FixedSizeList arity violation errors at evaluation time
    # (lists_cast.rs:405-517 errors on bad length)
    df = spark.createDataFrame([("[1.0, 2.0, 3.0]",)], "v string")
    expected = T.StructType(
        [T.StructField("v", T.ArrayType(T.DoubleType()))])
    out = cast_dataframe(df, expected, fixed_size_lists={"v": 2})
    with pytest.raises(Exception, match="fixed-size"):
        out.collect()


def test_interval_narrow_to_yearmonth(spark):
    # intervals_cast.rs:11-44: ok when days == 0
    df = spark.createDataFrame([(26, 0)], "months int, days int")
    out = cast_interval_months_days_to_yearmonth(df, "months", "days", "iv")
    # PySpark can't collect interval values to Python; assert via string
    s = out.select(F.col("iv").cast("string").alias("s")).collect()[0]["s"]
    assert "2-2" in s  # 26 months == 2 years 2 months


def test_interval_narrow_to_yearmonth_lossy_raises(spark):
    # non-zero days -> error (intervals_cast.rs:26-32)
    df = spark.createDataFrame([(26, 3)], "months int, days int")
    out = cast_interval_months_days_to_yearmonth(df, "months", "days", "iv")
    with pytest.raises(Exception, match="lossy interval"):
        out.collect()


def test_interval_narrow_to_daytime_lossy_raises(spark):
    # non-zero months -> error (intervals_cast.rs:55-61)
    df = spark.createDataFrame([(2, 5)], "months int, days int")
    out = cast_interval_months_days_to_daytime(df, "months", "days", "iv")
    with pytest.raises(Exception, match="lossy interval"):
        out.collect()


def test_empty_dataframe_cast_keeps_schema(spark):
    # empty-batch behavior (record_convert.rs:239-247): casting an empty
    # frame yields the expected schema and zero rows
    df = spark.createDataFrame([], "a int, b string")
    expected = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ])
    out = cast_dataframe(df, expected)
    assert out.count() == 0
    assert out.schema == expected


def test_cast_dataframe_duplicate_column_names(spark):
    # a remote join result may carry duplicate names; positional casting
    # must not fall over on by-name ambiguity
    df = (spark.createDataFrame([(1, "a")], "id int, v string")
          .crossJoin(spark.createDataFrame([(2,)], "id int")))
    assert df.columns == ["id", "v", "id"]
    expected = T.StructType([
        T.StructField("left_id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("right_id", T.LongType()),
    ])
    rows = cast_dataframe(df, expected).collect()
    assert rows[0]["left_id"] == 1 and rows[0]["right_id"] == 2


def test_matching_schema_is_returned_without_projection(spark):
    # a result already in the declared names and types needs no cast:
    # the frame comes back as is, with no rename or projection on top
    df = spark.createDataFrame([(1, "a"), (2, None)], "a bigint, b string")
    expected = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ])
    out = cast_dataframe(df, expected)
    assert out is df
    assert out.schema == df.schema
    assert sorted(out.collect()) == [(1, "a"), (2, None)]
    # a name or type difference, or a fixed-size check, still projects
    renamed = T.StructType([T.StructField("x", T.LongType()),
                            T.StructField("b", T.StringType())])
    assert cast_dataframe(df, renamed).columns == ["x", "b"]
    arr = spark.createDataFrame([([1.0, 2.0, 3.0],)], "v array<double>")
    out = cast_dataframe(arr, T.StructType(
        [T.StructField("v", T.ArrayType(T.DoubleType()))]),
        fixed_size_lists={"v": 2})
    assert out is not arr
    with pytest.raises(Exception, match="fixed-size"):
        out.collect()
