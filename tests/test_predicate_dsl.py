"""Predicate DSL parse/render tests (modeled on the reference's
test_predicate_offload.py cases — the strings are the spec)."""

from __future__ import annotations

import pytest

from goe_spark.predicate.parser import (
    Comparison,
    Group,
    InList,
    NullTest,
    PredicateParseError,
    parse_predicate_dsl,
)
from goe_spark.predicate.render import (
    PredicateTypeError,
    predicate_to_column,
    predicate_to_sql,
)

VALID = [
    "column(baz) = numeric(1)",
    "column(sh.baz) = numeric(1)",
    "(column(baz) = numeric(1)) and (column(baz) != numeric(1))",
    "column(_baz_123) = numeric(1)",
    "column(YEAR) < numeric(2012) OR (column(YEAR) = numeric(2012) AND column(MONTH) < numeric(6))",
    "(((column(YEAR) < numeric(2012)) OR ((column(YEAR) = numeric(2012)) AND (column(MONTH) < numeric(6)))) OR (((column(YEAR) = numeric(2012)) AND (column(MONTH) = numeric(6))) AND (column(DAY) < numeric(30))))",
    "column(original_name) IS NOT NULL",
    "column(col) IS NULL",
    "column(a) IN (numeric(7), numeric(8))",
    "column(a) NOT IN (numeric(12))",
    "numeric(34) > column(COL_STRING)",
    'column(s) = string("hi there")',
    'column(s) != string("escaped \\" quote")',
    "column(d) >= datetime(2012-01-01)",
    "column(d) < datetime(2012-01-01 12:34:56)",
    "column(d) = datetime(2012-01-01 12:34:56.123456789)",
    "column(n) = numeric(-1.5)",
    'column(x) = literal("UPPER(y)")',
]


@pytest.mark.parametrize("text", VALID)
def test_parses(text):
    assert parse_predicate_dsl(text) is not None


INVALID = [
    "column(hi)",
    "column(hi) >",
    "column(hi) > numeric()",
    "column(hi) > numeric(+-23)",
    "column(hi) == numeric(23)",
    "(column(hi) = numeric(23)",
    "column(hi) = column(there)",
    "",
    "   ",
    # Mixed AND/OR without parens.
    "column(a) = numeric(1) and column(b) = numeric(2) or column(c) = numeric(3)",
]


@pytest.mark.parametrize("text", INVALID)
def test_rejects(text):
    with pytest.raises(PredicateParseError):
        parse_predicate_dsl(text)


def test_ast_shapes():
    ast = parse_predicate_dsl("column(sh.baz) = numeric(1)")
    assert isinstance(ast, Comparison)
    assert ast.column.alias == "sh" and ast.column.name == "baz"
    assert ast.value.kind == "numeric" and ast.value.value == 1

    ast = parse_predicate_dsl("numeric(34) > column(c)")
    # value-first comparisons are flipped onto the column.
    assert isinstance(ast, Comparison) and ast.op == "<"

    ast = parse_predicate_dsl(
        "column(a) = numeric(1) and column(b) = numeric(2) and column(c) IS NULL"
    )
    assert isinstance(ast, Group) and ast.op == "AND" and len(ast.items) == 3
    assert isinstance(ast.items[2], NullTest)

    ast = parse_predicate_dsl("column(a) NOT IN (numeric(1), numeric(2))")
    assert isinstance(ast, InList) and ast.negated and len(ast.values) == 2


def test_sql_render():
    sql = predicate_to_sql(parse_predicate_dsl("column(baz) = numeric(1)"))
    assert sql == "baz = 1"
    sql = predicate_to_sql(
        parse_predicate_dsl('column(s) IN (string("a"), string("b"))')
    )
    assert sql == "s IN ('a', 'b')"
    sql = predicate_to_sql(parse_predicate_dsl("column(d) >= datetime(2012-01-02)"))
    assert sql == "d >= TIMESTAMP '2012-01-02 00:00:00'"
    sql = predicate_to_sql(
        parse_predicate_dsl(
            "column(y) < numeric(2012) OR (column(y) = numeric(2012) AND column(m) < numeric(6))"
        )
    )
    assert sql == "y < 2012 OR (y = 2012 AND m < 6)"
    sql = predicate_to_sql(parse_predicate_dsl("column(x) IS NOT NULL"))
    assert sql == "x IS NOT NULL"


def test_column_render_filters_rows(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id: long, s: string"
    )
    ast = parse_predicate_dsl("column(id) > numeric(1)")
    assert df.where(predicate_to_column(ast, df)).count() == 2
    ast = parse_predicate_dsl('column(s) IN (string("a"), string("b"))')
    assert df.where(predicate_to_column(ast, df)).count() == 2
    ast = parse_predicate_dsl("column(s) IS NULL")
    assert df.where(predicate_to_column(ast, df)).count() == 1


def test_column_render_type_checks(spark):
    df = spark.createDataFrame([(1, "a")], "id: long, s: string")
    with pytest.raises(PredicateTypeError):
        predicate_to_column(
            parse_predicate_dsl("column(s) = numeric(1)"), df
        )
    with pytest.raises(PredicateTypeError):
        predicate_to_column(
            parse_predicate_dsl("column(id) = datetime(2020-12-30)"), df
        )
    with pytest.raises(PredicateTypeError):
        predicate_to_column(
            parse_predicate_dsl("column(nope) = numeric(1)"), df
        )


def test_column_render_reads_quote_and_backslash_literally(spark):
    """The Column is Spark's parse of the SQL text, so that text must
    escape a quote and a backslash the way Spark reads them."""
    df = spark.createDataFrame([("a\\b",), ("O'Brien",), ("a",)], "s string")
    for value in ("a\\b", "O'Brien"):
        body = value.replace("\\", "\\\\")
        ast = parse_predicate_dsl(f'column(s) = string("{body}")')
        assert [r.s for r in df.where(predicate_to_column(ast, df)).collect()] == [value]
