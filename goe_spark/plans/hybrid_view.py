"""Hybrid view — one queryable relation over BOTH sides of a
part-offloaded table: the backend rows already moved, plus the
frontend rows still retained above the boundary.

This is the product concept the reference's hybrid views served (its
conductor/hybrid_view_service.py survives only as a stub — metadata
stopped being keyed on views), re-expressed Spark-first: a UNION ALL
DataFrame whose two sides are sliced by the SAME metadata the offload
pipeline wrote, so a query during a months-long migration sees every
row exactly once no matter how far the offload has progressed.

Which rows have moved is decided by ``plans/slices.offloaded`` — the
one place that reads the offload type (FULL, RANGE synthetic or
native, LIST, PREDICATE), shared with the status report. The backend
serves the rows inside that boundary; the frontend serves its NULL-safe
complement, so a row whose boundary condition is NULL (a NULL partition
key, a predicate that evaluates NULL) stays frontend-side.

Scale: both sides are lazy scans with the boundary filter pushed into
them (the synthetic expression is a deterministic projection of a
frontend column; the backend side prunes on its partition column);
UNION ALL adds no shuffle. When everything has moved the frontend
filter folds to FALSE and Spark plans no frontend scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from goe_spark.plans.metadata import OffloadMetadata
from goe_spark.plans.slices import offloaded


def hybrid_view_df(
    spark: SparkSession,
    md: OffloadMetadata,
    backend_path: str,
    source_df: DataFrame,
    backend_df: DataFrame | None = None,
) -> DataFrame:
    """The union-all hybrid relation for one table. Column set is the
    frontend's (the backend's synthetic partition column is internal
    and dropped). ``backend_df`` overrides the parquet read for
    non-file backends (e.g. a live JDBC warehouse table read through
    ``spark.read.jdbc`` — pass it with lower-cased columns).

    The backend filter matters under 100/10 offloads (reference
    offload_source_data.py:2392: everything moves but the requested
    boundary still defines the view HWM): the backend then holds
    above-boundary rows too, which the frontend also retains. Under
    90/10 it is a no-op."""
    cols = source_df.columns
    moved = offloaded(md)
    b = backend_df if backend_df is not None else spark.read.parquet(backend_path)
    if moved.backend is not None:
        b = b.where(moved.backend)
    b = b.select(*[c for c in cols if c in b.columns])
    return b.unionByName(source_df.where(moved.retained).select(*cols))


def register_hybrid_view(
    spark: SparkSession,
    store,
    owner: str,
    table_name: str,
    backend_path: str,
    source_path: str,
    view_name: str | None = None,
) -> DataFrame:
    """Create a temp view <owner>_<table>_hybrid over the hybrid
    relation; returns the DataFrame."""
    md = store.get(owner, table_name)
    if md is None:
        raise ValueError(f"no offload metadata for {owner}.{table_name}")
    src = spark.read.parquet(source_path)
    df = hybrid_view_df(spark, md, backend_path, src)
    df.createOrReplaceTempView(view_name or f"{owner}_{table_name}_hybrid")
    return df
