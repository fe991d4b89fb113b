"""File-backed table source + staging sinks.

FileSource is the same interface a JDBC source presents (named table →
DataFrame) over the driver's parquet fixtures — the stand-in for a
"frontend" in tests, like the reference's frontend-testing API
(tests/testlib/test_framework/) stands in for Oracle.

Staging write/read mirrors S10-S12 (SURVEY.md §2.1): the offload
pipeline stages to columnar files, then the final load reads the
staged files back and applies the cast map. Supported formats are the
Spark-built-ins; Avro (the reference's default staging format) needs
the external spark-avro jar, so it is capability-probed and reported
honestly rather than silently substituted.

Scale notes: staging writes repartition only if asked — the default
keeps the scan's partitioning (one file per input split, no shuffle).
``maxRecordsPerFile`` bounds file size for the downstream loader the
way the reference's chunker bounds per-cycle bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

STAGING_FORMATS = ("parquet", "orc", "json", "csv")


class FileSource:
    """Named-table access over a directory of <table>.<ext> files."""

    def __init__(self, base_dir: str, fmt: str = "parquet"):
        self.base_dir = base_dir
        self.fmt = fmt

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, f"{table}.{self.fmt}")

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.format(self.fmt).load(self.path(table))


def avro_available(spark: SparkSession) -> bool:
    """True if the spark-avro datasource is on the classpath."""
    try:
        spark.read.format("avro").load("/nonexistent-avro-probe")
        return True  # pragma: no cover - only with the jar present
    except Exception as e:
        return "Failed to find data source" not in str(e)


def write_staging(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Stage a DataFrame to files (S10). No shuffle unless partitioned.

    Avro (the reference's default staging format) works with OR
    without the spark-avro jar: with it, Spark's native writer; when
    it is absent, the pure-Python container writer
    (sources/avro_io.py) encodes each partition inside mapInPandas —
    real spec-compliant .avro files, still fully distributed."""
    if fmt not in STAGING_FORMATS and fmt != "avro":
        raise ValueError(f"unsupported staging format {fmt!r}")
    if fmt == "avro" and not avro_available(df.sparkSession):
        if partition_by:
            raise ValueError(
                "partitioned staging needs the spark-avro jar "
                "(the jar-free writer emits one file per task)"
            )
        from goe_spark.sources.avro_io import (
            staging_schema_from_spark,
            write_avro_staging_dir,
        )

        if mode == "overwrite":
            from goe_spark.sources.dfs import HadoopDfs

            HadoopDfs(df.sparkSession).delete(path, recursive=True)
        schema, projected = staging_schema_from_spark(
            df, "staging", "staged"
        )
        write_avro_staging_dir(projected, path, schema)
        return
    w = df.write.mode(mode).format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.save(path)


def read_staging(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    view: str | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Read staged files back; optionally register the load-table view
    (the reference reads staged files through an external table —
    src/goe/offload/bigquery/bigquery_backend_table.py:116-147).

    ``schema``, the staged frame's, spares the parquet/ORC read-back
    its schema-inference job (columns still read as nullable, so NULL
    checks on the staged data stay live). Text formats infer, as the
    schema would change how their values parse. Jar-free Avro staging
    dirs read back through binaryFile + a mapInPandas decode
    (per-file parallelism, sources/avro_io.py)."""
    if fmt == "avro" and not avro_available(spark):
        from goe_spark.sources.avro_io import read_avro_staging_dist

        df = read_avro_staging_dist(spark, path)
    else:
        reader = spark.read.format(fmt)
        if schema is not None and fmt in ("parquet", "orc"):
            reader = reader.schema(schema)
        df = reader.load(path)
    if view:
        df.createOrReplaceTempView(view)
    return df


def staged_bytes(path: str, spark: SparkSession | None = None) -> int:
    """Total bytes under a staging path (reference counts transported
    bytes from DFS listings — src/goe/offload/offload_transport.py:
    1349-1399).

    With a SparkSession, routes through the Hadoop FileSystem API
    (sources/dfs.HadoopDfs) so the same call works for hdfs/gs/s3a/
    abfss URIs; without one, falls back to a local walk (scheme-less
    paths only)."""
    if spark is not None or "://" in path:
        from goe_spark.sources.dfs import HadoopDfs

        if spark is None:
            raise ValueError("a SparkSession is required for URI paths")
        return HadoopDfs(spark).total_bytes(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total
