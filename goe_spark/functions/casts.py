"""Staging -> final cast layer (C1/C2) and RDBMS-side read casts (P2).

Reference semantics: decimals, dates, timestamps and intervals are
staged as STRING (§1.5, avro/parquet staging types) and parsed on
final insert with SAFE_CAST / PARSE_* (bigquery_backend_table.py:
290-400). Spark equivalent: try_cast — failures become NULL, and the
cast-corruption probe (A6) counts them before the final load commits.

Every helper returns Spark SQL text with backtick-quoted identifiers,
applied with one ``selectExpr`` per projection: building the same
projection from pyspark Columns costs dozens of py4j round trips per
column on the driver.
"""

from __future__ import annotations

from goe_spark.types import canonical as C
from goe_spark.types.canonical import CanonicalColumn
from goe_spark.types.spark_map import canonical_to_spark

# Canonical types staged as STRING in Avro/Parquet staging files
# (everything the 7-type staging systems can't carry natively).
STAGED_AS_STRING = (
    C.INTEGER_38,
    C.DECIMAL,
    C.DATE,
    C.TIME,
    C.TIMESTAMP,
    C.TIMESTAMP_TZ,
    C.INTERVAL_DS,
    C.INTERVAL_YM,
)


def staging_type_for(col: CanonicalColumn) -> str:
    """The staging-file type for a canonical column (SURVEY §1.5)."""
    if col.data_type in STAGED_AS_STRING:
        return "string"
    return canonical_to_spark(col).simpleString()


def quote(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def staging_sql(col: CanonicalColumn) -> str:
    """Projection applied when writing the staging file."""
    c = quote(col.name)
    if col.data_type == C.DATE:
        expr = f"date_format({c}, 'yyyy-MM-dd')"
    elif col.data_type in (C.TIMESTAMP, C.TIMESTAMP_TZ):
        expr = f"date_format({c}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    else:
        expr = f"CAST({c} AS {staging_type_for(col)})"
    return f"{expr} AS {c}"


def _safe_cast(col: CanonicalColumn) -> str:
    """Staging column -> final typed value, unaliased (the reference's
    cast map entry, backend_table.py:704-751). String-staged types go
    through try_cast (SAFE_CAST): a bad value becomes NULL, which the
    corruption probe counts."""
    c = quote(col.name)
    t = col.data_type
    if t in (C.TIME, C.INTERVAL_DS, C.INTERVAL_YM):
        # Kept as string end-to-end (matches the reference's unsafe
        # STRING mappings for these on BigQuery).
        return f"CAST({c} AS string)"
    spark_t = canonical_to_spark(col).simpleString()
    if t in STAGED_AS_STRING:
        return f"try_cast({c} AS {spark_t})"
    return f"CAST({c} AS {spark_t})"


def final_cast_sql(col: CanonicalColumn) -> str:
    """Projection applied to the staged data on final load."""
    return f"{_safe_cast(col)} AS {quote(col.name)}"


def corruption_probe_sql(columns: list[CanonicalColumn]) -> list[str]:
    """A6: per-column count of rows where staging IS NOT NULL and the
    safe cast comes back NULL, as ``corrupt_<name>`` aggregates that
    ride one aggregate pass."""
    return [
        f"count_if({quote(col.name)} IS NOT NULL AND {_safe_cast(col)} IS NULL)"
        f" AS {quote('corrupt_' + col.name)}"
        for col in columns
        if col.data_type in STAGED_AS_STRING
        and col.data_type not in (C.TIME, C.INTERVAL_DS, C.INTERVAL_YM)
    ]
