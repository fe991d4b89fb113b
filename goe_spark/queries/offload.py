"""Offload-pipeline queries: the predicate DSL slice and (in
test_offload_pipeline.py) the staged-load lifecycle.

predicate_offload_slice renders ONE DSL string through the single SQL
renderer: Spark parses the text into the DataFrame filter (predicate
pushdown reaches the parquet scan) and the oracle runs the same text
as its WHERE — so the query proves Spark and DuckDB read the rendered
slice alike, which is the property the reference's predicate engine
lives and dies by (predicate_offload.py:469-587).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.catalog import load_table
from goe_spark.predicate import (
    parse_predicate_dsl,
    predicate_to_column,
    predicate_to_sql,
)
from goe_spark.queries import QuerySpec

# The offload slice a user would pass with --offload-predicate.
OFFLOAD_DSL = (
    '(column(o_orderpriority) IN (string("1-URGENT"), string("2-HIGH"))'
    " AND column(o_totalprice) > numeric(150000))"
    " OR (column(o_orderdate) >= datetime(2000-01-01)"
    " AND column(o_orderstatus) != string(\"F\"))"
)

_AST = parse_predicate_dsl(OFFLOAD_DSL)


def predicate_offload_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(predicate_to_column(_AST, o))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("slice_value"),
            F.min("o_orderdate").alias("min_orderdate"),
            F.max("o_orderdate").alias("max_orderdate"),
        )
    )


PREDICATE_SLICE_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       count(*)                      AS n_orders,
       round(sum(o_totalprice), 2)   AS slice_value,
       min(o_orderdate)              AS min_orderdate,
       max(o_orderdate)              AS max_orderdate
FROM orders
WHERE {predicate_to_sql(_AST)}
GROUP BY o_orderpriority, o_orderstatus
"""


QUERIES = [
    QuerySpec(
        "predicate_offload_slice",
        predicate_offload_slice,
        PREDICATE_SLICE_SQL,
        "offload predicate DSL -> Column + SQL",
    ),
]
