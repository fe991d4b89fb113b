"""Synthetic partition expr == Python literal twin (the reference's
core C3-C8 invariant), plus cast-layer and transform tests."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from goe_spark.functions import synthetic as S
from goe_spark.functions.casts import (
    corruption_probe_sql,
    final_cast_sql,
    staging_sql,
    staging_type_for,
)
from goe_spark.functions.transforms import apply_transformations
from goe_spark.types import canonical as C
from goe_spark.types.canonical import CanonicalColumn


DATES = [
    dt.datetime(2012, 1, 31, 13, 45, 1),
    dt.datetime(1999, 12, 31, 23, 59, 59),
    dt.datetime(2024, 2, 29, 0, 0, 0),
]
NUMBERS = [0, 1, 49, 50, 51, 999, 1000, 123456, -1, -51]
STRINGS = ["", "a", "abcdef", "partition-key-value"]


def test_date_expr_matches_literal(spark):
    df = spark.createDataFrame([(d,) for d in DATES], "d: timestamp")
    for g in ("Y", "M", "D"):
        got = [
            r[0]
            for r in df.select(S.synthetic_date_expr("d", g)).collect()
        ]
        want = [S.synthetic_date_literal(d, g) for d in DATES]
        assert got == want, g


def test_number_expr_matches_literal(spark):
    df = spark.createDataFrame([(n,) for n in NUMBERS], "n: long")
    for g, digits in ((50, None), (1000, None), (50, 10)):
        got = [
            r[0]
            for r in df.select(S.synthetic_number_expr("n", g, digits)).collect()
        ]
        want = [S.synthetic_number_literal(n, g, digits) for n in NUMBERS]
        assert got == want, (g, digits)


def test_string_expr_matches_literal(spark):
    df = spark.createDataFrame([(s,) for s in STRINGS], "s: string")
    got = [r[0] for r in df.select(S.synthetic_string_expr("s", 4)).collect()]
    want = [S.synthetic_string_literal(s, 4) for s in STRINGS]
    assert got == want


def test_bad_granularity():
    with pytest.raises(ValueError):
        S.synthetic_date_expr("d", "X")
    with pytest.raises(ValueError):
        S.synthetic_number_expr("n", 0)
    with pytest.raises(ValueError):
        S.synthetic_number_literal(1, -5)


# --- casts -----------------------------------------------------------------


def test_staging_types():
    assert staging_type_for(CanonicalColumn("c", C.DECIMAL, data_precision=10)) == "string"
    assert staging_type_for(CanonicalColumn("c", C.TIMESTAMP)) == "string"
    assert staging_type_for(CanonicalColumn("c", C.INTEGER_4)) == "int"
    assert staging_type_for(CanonicalColumn("c", C.DOUBLE)) == "double"


def test_cast_roundtrip(spark):
    cols = [
        CanonicalColumn("id", C.INTEGER_8, nullable=False),
        CanonicalColumn("amount", C.DECIMAL, data_precision=12, data_scale=2),
        CanonicalColumn("ts", C.TIMESTAMP),
    ]
    df = spark.createDataFrame(
        [(1, "12.34", "2024-01-02 03:04:05.000000"),
         (2, "99.99", "1999-12-31 23:59:59.123456")],
        "id: long, amount: string, ts: string",
    )
    out = df.selectExpr(*[final_cast_sql(c) for c in cols])
    assert out.schema["amount"].dataType.simpleString() == "decimal(12,2)"
    assert out.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    rows = out.orderBy("id").collect()
    assert str(rows[0]["amount"]) == "12.34"
    assert rows[1]["ts"].microsecond == 123456


def test_corruption_probe(spark):
    cols = [
        CanonicalColumn("amount", C.DECIMAL, data_precision=6, data_scale=2),
        CanonicalColumn("d", C.DATE),
    ]
    df = spark.createDataFrame(
        [("12.34", "2024-01-02"), ("not-a-number", "2024-13-99"), (None, None)],
        "amount: string, d: string",
    )
    row = df.selectExpr(*corruption_probe_sql(cols)).collect()[0]
    assert row["corrupt_amount"] == 1  # NULL staging rows don't count
    assert row["corrupt_d"] == 1


def test_cast_sql_quotes_identifiers(spark):
    """A name with a space, a dot and a backtick survives staging,
    the final cast and the probe under its own name."""
    name = "unit `price`.usd"
    col = CanonicalColumn(name, C.DECIMAL, data_precision=6, data_scale=2)
    df = spark.createDataFrame([("1.5",), ("bad",)], "x: string").toDF(name)
    staged = df.selectExpr(staging_sql(col))
    assert staged.columns == [name]
    final = staged.selectExpr(final_cast_sql(col))
    assert final.columns == [name]
    assert final.schema[name].dataType.simpleString() == "decimal(6,2)"
    assert sorted(str(r[0]) for r in final.collect()) == ["1.50", "None"]
    row = staged.selectExpr(*corruption_probe_sql([col])).collect()[0]
    assert row[f"corrupt_{name}"] == 1


def test_staging_expr_formats(spark):
    col = CanonicalColumn("ts", C.TIMESTAMP)
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 3, 4, 5, 123456),)], "ts: timestamp"
    )
    out = df.selectExpr(staging_sql(col)).collect()[0][0]
    assert out == "2024-01-02 03:04:05.123456"


# --- transforms ------------------------------------------------------------


def test_transforms(spark):
    df = spark.createDataFrame([("secret", "a#b", "x1y2")], "a: string, b: string, c: string")
    out = apply_transformations(
        df,
        {
            "a": ("null", ("string",)),
            "b": ("translate", ("#", "_")),
            "c": ("regexp_replace", (r"\d", "*")),
        },
    )
    row = out.collect()[0]
    assert row["a"] is None and row["b"] == "a_b" and row["c"] == "x*y*"
    assert "a" not in apply_transformations(df, {"a": ("suppress", ())}).columns
    with pytest.raises(NotImplementedError):
        apply_transformations(df, {"a": ("encrypt", ())}).collect()
    with pytest.raises(KeyError):
        apply_transformations(df, {"a": ("nope", ())})
