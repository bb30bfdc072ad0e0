import pytest

from pyspark.sql import functions as F, types as T

from pudl_spark.schema import (
    Field, FieldConstraints, Resource, check_foreign_key, encode_column,
    enforce_schema, format_df,
)
from pudl_spark.schema.enforce import SchemaError

RES = Resource(
    name="t",
    fields=(
        Field("id", "integer", FieldConstraints(required=True)),
        Field("report_year", "date"),
        Field("val", "number"),
        Field("note", "string"),
    ),
    primary_key=("id",),
)


def test_format_df_adds_missing_and_casts(spark):
    df = spark.createDataFrame(
        [(1, "2020-03-15", "7.5", "x", "extra")],
        "id int, report_date string, val string, note string, junk string")
    df = df.withColumn("report_date",
                       F.col("report_date").cast("date"))
    out = format_df(df, RES)
    assert out.columns == ["id", "report_year", "val", "note"]
    row = out.collect()[0]
    assert str(row["report_year"]) == "2020-01-01"  # periodic snap
    assert row["val"] == 7.5
    assert out.schema["id"].dataType == T.LongType()


def test_enforce_schema_raises_on_dup_pk(spark):
    df = spark.createDataFrame(
        [(1, 1.0, "a"), (1, 2.0, "b")], "id long, val double, note string")
    df = df.withColumn("report_year", F.lit("2020-01-01").cast("date"))
    with pytest.raises(SchemaError, match="duplicate"):
        enforce_schema(df, RES)


def test_enforce_schema_raises_on_null_pk(spark):
    df = spark.createDataFrame(
        [(None, 1.0, "a")], "id long, val double, note string")
    df = df.withColumn("report_year", F.lit("2020-01-01").cast("date"))
    with pytest.raises(SchemaError, match="null primary key"):
        enforce_schema(df, RES)


def test_null_pk_reported_before_duplicate_pk(spark):
    """One aggregation finds both; the null-key error wins, as it did
    when the two checks ran as separate jobs."""
    from pudl_spark.schema.enforce import check_primary_key

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, None)], "k1 long, k2 string")
    with pytest.raises(SchemaError, match="null primary key values"):
        check_primary_key(df, ("k1", "k2"), "t")
    with pytest.raises(SchemaError, match="t: 2 duplicate PK rows"):
        check_primary_key(df.filter("k2 IS NOT NULL"), ("k1", "k2"), "t")
    check_primary_key(df.filter("k1 = 2"), ("k1",), "t")


def test_enforce_schema_missing_column_raises(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(SchemaError, match="missing columns"):
        enforce_schema(df, RES)


def test_check_foreign_key(spark):
    child = spark.createDataFrame([(1,), (2,), (99,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    assert check_foreign_key(child, ["fk"], parent, ["pk"]) == 1
    # NULL FKs are not orphans
    child2 = spark.createDataFrame([(1,), (None,)], "fk long")
    assert check_foreign_key(child2, ["fk"], parent, ["pk"]) == 0


def test_encode_column_strict_raises(spark):
    df = spark.createDataFrame([("a",), ("zz",)], "code string")
    with pytest.raises(SchemaError, match="unknown codes"):
        encode_column(df, "code", {"a": "alpha"}, strict=True)


def test_encode_column_maps_and_passes_canonical(spark):
    df = spark.createDataFrame([("a",), ("alpha",), (None,)], "code string")
    out = encode_column(df, "code", {"a": "alpha"}, strict=True)
    vals = [r["code"] for r in out.collect()]
    assert vals == ["alpha", "alpha", None]
