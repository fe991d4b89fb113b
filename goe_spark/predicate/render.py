"""Predicate AST renderers: SQL text, and the pyspark Column Spark
evaluates from that same text.

The Column renderer optionally type-checks against a DataFrame schema
(the reference's GenericPredicateToTyped stage,
predicate_offload.py:358-467): datetime values against non-date
columns and numeric values against non-numeric columns are rejected.
A column name Spark SQL cannot parse unquoted (the DSL allows ``$``
and ``#``) fails when the Column is applied.

The SQL text is the one spelling of a predicate: Spark evaluates it,
offload metadata stores it, backend writers receive it in the slice
clause and the DuckDB correctness oracle runs it (reference:
GenericPredicateToSQL + the literal/bind template family,
predicate_offload.py:469-587 — binds are unnecessary here because the
literal text is what every consumer runs). ``sql_literal`` writes every
literal in it.

TRUST BOUNDARY: predicate DSL text is trusted OPERATOR input, exactly
as in the reference (predicates arrive via the goe CLI run by a DBA).
In particular ``literal(...)`` values render through ``F.expr`` —
arbitrary Spark SQL expression evaluation by design, mirroring the
reference passing literal text straight into generated SQL. Do NOT
feed untrusted text into the DSL: the REST listener binds to
127.0.0.1 only and inherits this same operator-trust assumption; any
future remotely-reachable surface must restrict ``literal()`` (or
drop it) before accepting predicates.
"""

from __future__ import annotations

import datetime as _dt
import decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from goe_spark.predicate.parser import (
    Comparison,
    Group,
    InList,
    NullTest,
    PredicateParseError,
    Value,
)


class PredicateTypeError(ValueError):
    pass


_NUMERIC_SPARK = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
_DATE_SPARK = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _check_type(col_name: str, dt: T.DataType, value: Value) -> None:
    if value.kind == "numeric" and not isinstance(dt, _NUMERIC_SPARK):
        raise PredicateTypeError(
            f"numeric() value compared to non-numeric column {col_name} ({dt})"
        )
    if value.kind == "datetime" and not isinstance(dt, _DATE_SPARK):
        raise PredicateTypeError(
            f"datetime() value compared to non-date column {col_name} ({dt})"
        )
    if value.kind == "string" and not isinstance(dt, T.StringType):
        raise PredicateTypeError(
            f"string() value compared to non-string column {col_name} ({dt})"
        )


def _operands(node):
    """(column, value or None) for every leaf of the AST."""
    if isinstance(node, Group):
        for item in node.items:
            yield from _operands(item)
    elif isinstance(node, Comparison):
        yield node.column, node.value
    elif isinstance(node, InList):
        for v in node.values:
            yield node.column, v
    elif isinstance(node, NullTest):
        yield node.column, None
    else:
        raise PredicateParseError(f"unknown AST node: {node!r}")


def predicate_to_column(node, df: DataFrame | None = None) -> Column:
    """The AST as a pyspark boolean Column: Spark evaluates the SQL
    text of ``predicate_to_sql``, the spelling offload metadata stores.
    When df is given, column existence and value/type compatibility
    are enforced."""
    if df is not None:
        schema = {f.name.lower(): f.dataType for f in df.schema.fields}
        for ref, value in _operands(node):
            if ref.name.lower() not in schema:
                raise PredicateTypeError(f"unknown column: {ref.name}")
            if value is not None and value.kind != "literal":
                _check_type(ref.name, schema[ref.name.lower()], value)
    return F.expr(predicate_to_sql(node))


def sql_literal(v, dialect: str | None = None) -> str:
    """SQL text for one Python value: the one spelling of every
    literal in a predicate, an offload slice and a writer clause.
    Strings escape a quote as '' and (not on Derby) a backslash as
    \\\\, as Spark reads them. Dates and timestamps are typed
    literals (``DATE '...'``); Derby has none and takes its conversion
    functions (``DATE('...')``) instead."""
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, _dt.datetime):
        kind, text = "TIMESTAMP", v.isoformat(sep=" ")
    elif isinstance(v, _dt.date):
        kind, text = "DATE", v.isoformat()
    else:
        kind = None
    if kind is not None:
        return f"{kind}('{text}')" if dialect == "derby" else f"{kind} '{text}'"
    s = str(v).replace("'", "''")
    if dialect != "derby":  # Derby reads a backslash as itself
        s = s.replace("\\", "\\\\")
    return f"'{s}'"


def _sql_literal(value: Value, dialect: str | None) -> str:
    if value.kind == "literal":
        return str(value.value)
    return sql_literal(value.value, dialect)


def predicate_to_sql(node, dialect: str | None = None) -> str:
    """Render the AST to ANSI SQL WHERE-clause text, its literals
    spelled for ``dialect`` (see ``sql_literal``)."""
    if isinstance(node, Group):
        parts = [predicate_to_sql(i, dialect) for i in node.items]
        joined = f" {node.op} ".join(
            f"({p})" if isinstance(i, Group) else p
            for p, i in zip(parts, node.items)
        )
        return joined
    if isinstance(node, Comparison):
        return f"{node.column.name} {node.op} {_sql_literal(node.value, dialect)}"
    if isinstance(node, InList):
        vals = ", ".join(_sql_literal(v, dialect) for v in node.values)
        op = "NOT IN" if node.negated else "IN"
        return f"{node.column.name} {op} ({vals})"
    if isinstance(node, NullTest):
        return f"{node.column.name} IS {'NOT ' if node.negated else ''}NULL"
    raise PredicateParseError(f"unknown AST node: {node!r}")


def _dsl_value(value: Value) -> str:
    if value.kind == "numeric":
        return f"numeric({value.value})"
    if value.kind == "datetime":
        v = value.value
        assert isinstance(v, _dt.datetime)
        if v.microsecond:
            return f"datetime({v.strftime('%Y-%m-%d %H:%M:%S.%f')})"
        return f"datetime({v.strftime('%Y-%m-%d %H:%M:%S')})"
    body = str(value.value).replace("\\", "\\\\").replace('"', '\\"')
    return f'{value.kind}("{body}")'


def _dsl_column(col) -> str:
    if col.alias:
        return f"column({col.alias}.{col.name})"
    return f"column({col.name})"


def predicate_to_dsl(node) -> str:
    """Render the AST back to DSL text (reference:
    GenericPredicateToDSL, predicate_offload.py:501-531). Inverse of
    parse_predicate_dsl: parse(predicate_to_dsl(ast)) == ast, which is
    property-tested in tests/test_predicate_properties.py."""
    if isinstance(node, Group):
        parts = [
            f"({predicate_to_dsl(i)})" if isinstance(i, Group) else predicate_to_dsl(i)
            for i in node.items
        ]
        return f" {node.op} ".join(parts)
    if isinstance(node, Comparison):
        return f"{_dsl_column(node.column)} {node.op} {_dsl_value(node.value)}"
    if isinstance(node, InList):
        vals = ", ".join(_dsl_value(v) for v in node.values)
        op = "NOT IN" if node.negated else "IN"
        return f"{_dsl_column(node.column)} {op} ({vals})"
    if isinstance(node, NullTest):
        return f"{_dsl_column(node.column)} IS {'NOT ' if node.negated else ''}NULL"
    raise PredicateParseError(f"unknown AST node: {node!r}")
