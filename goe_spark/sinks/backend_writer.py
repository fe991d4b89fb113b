"""Backend write connectors (S13's remote half — the reference's
BigQuery/Snowflake backend tables,
bigquery_backend_table.py:157-177 load_final_table / create_backend_table).

The reference drives a warehouse backend through a fixed sequence:
create the final table (partition clause + cluster columns), INSERT
the staged data (full replace, or an incremental slice), read it back
for verification, and roll back on failure. BackendWriter captures
exactly that surface so the offload pipeline is backend-agnostic:

- ParquetBackendWriter: the Spark-native backend the pipeline has
  always written (parquet + partitionBy); rollback is file-set based
  and DFS-aware (hdfs/gs/s3a via the Hadoop FileSystem API).
- FakeWarehouseWriter: a parquet-backed stand-in for a cloud
  warehouse that RECORDS the connector-semantic artifacts — the CREATE
  TABLE text in the backend's dialect (types through
  canonical_to_bigquery / canonical_to_snowflake), the PARTITION BY /
  CLUSTER BY clauses, and each INSERT's overwrite-slice clause — so
  connector behavior is testable without cloud credentials. A real
  BigQuery/Snowflake writer implements the same five methods over
  `spark.write.format("bigquery"|"snowflake")`; those connector jars
  aren't shipped here, and a fake that pretended otherwise would just
  hide the gap.

Staging is the writer's choice: a writer whose table is a local
parquet directory (``direct_dir``) takes the sliced source with the
final casts applied and no staged copy; the pipeline's validation
rides that write as an Observation and runs as the ``check`` before
the load is committed. Every other writer takes the staged frame.

At 100 TB the writer is never the shuffle: every implementation hands
its DataFrame to a distributed sink — nothing is collected to the
driver.
"""

from __future__ import annotations

import abc
import contextlib
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def is_dfs_uri(path: str) -> bool:
    """True for scheme-qualified paths (file:/, hdfs://, gs://, ...).

    Hadoop's Path.toString() normalizes ``file:///x`` to ``file:/x``
    (single slash), so a literal ``"://" in p`` test misses the very
    paths HadoopDfs just listed — match the scheme prefix instead."""
    return re.match(r"[A-Za-z][A-Za-z0-9+.\-]*:/", path) is not None


def list_tree(
    root: str, spark: SparkSession | None = None
) -> tuple[set[str], set[str]]:
    """(files, directories) under root, any depth: the rollback token
    of the file-backed writers. DFS URIs route through the Hadoop
    FileSystem API, so rollback works on hdfs/gs/s3a targets too."""
    if is_dfs_uri(root):
        from goe_spark.sources.dfs import HadoopDfs

        return HadoopDfs(spark).list_tree(root)
    files: set[str] = set()
    dirs: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirs.update(os.path.join(dirpath, d) for d in dirnames)
        files.update(os.path.join(dirpath, f) for f in filenames)
    return files, dirs


def rollback_tree(root: str, token, spark: SparkSession | None) -> None:
    """Undo what was written under root since ``token = list_tree(root)``:
    remove the new files, then the new directories (an append's
    partition directories) left empty, deepest first."""
    files, dirs = list_tree(root, spark)
    remove_files(files - token[0], spark)
    dfs = None
    if is_dfs_uri(root):
        from goe_spark.sources.dfs import HadoopDfs

        dfs = HadoopDfs(spark)
    for d in sorted(dirs - token[1], key=len, reverse=True):
        if dfs is None:
            with contextlib.suppress(OSError):  # not empty: leave it
                os.rmdir(d)
        elif not dfs.list_dir(d):
            dfs.delete(d)


def remove_files(paths: set[str], spark: SparkSession | None = None) -> None:
    for p in paths:
        if is_dfs_uri(p):
            from goe_spark.sources.dfs import HadoopDfs

            HadoopDfs(spark).delete(p)
            continue
        try:
            os.remove(p)
        except OSError:
            pass


def _read_parquet(spark, path, schema) -> DataFrame:
    """The parquet table at ``path``, read with the schema of the
    frame last loaded into it when there is one: verification then
    runs no schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


class BackendWriter(abc.ABC):
    """The five calls the offload pipeline makes against a backend."""

    backend_name: str = "abstract"
    # The SQL dialect the slice clause is rendered in (None: Spark's).
    dialect: str | None = None

    @abc.abstractmethod
    def create_table(
        self,
        owner: str,
        table_name: str,
        canonical_cols: list,
        partition_col: str | None = None,
        cluster_columns: list[str] | None = None,
    ) -> str:
        """Ensure the final table exists; return the DDL text issued
        (for logging/DDL-file parity)."""

    @property
    def direct_dir(self) -> str | None:
        """The local parquet directory of the table when the pipeline
        may load it straight from the source (no staged copy) and
        count it from footers; None when the writer needs staged
        files. Such a writer's ``load_final`` takes a ``check`` that
        runs once the rows are written and before a replace is
        committed: when it raises, a replace leaves the table as it
        was, and the caller undoes an append from its snapshot."""
        return None

    @abc.abstractmethod
    def load_final(
        self,
        df: DataFrame,
        replace: bool,
        partition_col: str | None = None,
        slice_clause: str | None = None,
    ) -> None:
        """Write the frame: full replace, or append of the incremental
        slice described by ``slice_clause``."""

    @abc.abstractmethod
    def read_final(self, spark: SparkSession) -> DataFrame:
        """The final table as a DataFrame (verification reads)."""

    @abc.abstractmethod
    def snapshot(self, spark: SparkSession) -> object:
        """Opaque rollback token taken before an incremental load."""

    @abc.abstractmethod
    def rollback_to(self, token: object, spark: SparkSession) -> None:
        """Undo everything written since ``snapshot``."""

    @abc.abstractmethod
    def drop_table(self, spark: SparkSession) -> None:
        """Drop the final table and its data — the
        --reset-backend-table path (reference goe.py:1601-1604:
        reset also discards cached metadata; the pipeline deletes the
        metadata row itself)."""


class ParquetBackendWriter(BackendWriter):
    """The Spark-native backend: a parquet table at target_dir,
    partitioned by the synthetic column, clustered via the pipeline's
    sort-on-write. Spark SQL DDL via plans/ddl_file."""

    backend_name = "spark"

    def __init__(self, target_dir: str):
        self.target_dir = target_dir
        self._loaded_schema = None

    def create_table(
        self,
        owner,
        table_name,
        canonical_cols,
        partition_col=None,
        cluster_columns=None,
    ) -> str:
        # Parquet tables materialize on first write; emit the DDL text
        # for parity with executing backends. A full replace a crash
        # interrupted is completed first: an append must not land
        # beside a table still waiting to be swapped in.
        from goe_spark.plans.compaction import heal_swap
        from goe_spark.plans.ddl_file import build_create_table_ddl

        if self.direct_dir is not None:
            heal_swap(self.target_dir)

        return build_create_table_ddl(
            owner,
            table_name,
            canonical_cols,
            self.target_dir,
            partition_col=partition_col,
            sort_columns=cluster_columns,
        )

    @property
    def direct_dir(self) -> str | None:
        return None if is_dfs_uri(self.target_dir) else self.target_dir

    def load_final(
        self, df, replace, partition_col=None, slice_clause=None, check=None
    ) -> None:
        """A local full replace is written beside the table and swapped
        in whole behind compaction's marker, so a crash leaves the old
        table or the new one (``heal_target`` completes the swap)."""
        from goe_spark.plans.compaction import swap_in, swap_tmp

        swapped = replace and self.direct_dir is not None
        out = swap_tmp(self.target_dir) if swapped else self.target_dir
        writer = df.write.mode("overwrite" if replace else "append")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        try:
            writer.parquet(out)
            if check is not None:
                check()
        except BaseException:
            if swapped:
                shutil.rmtree(out, ignore_errors=True)
            raise
        if swapped:
            swap_in(self.target_dir)
        self._loaded_schema = df.schema

    def read_final(self, spark) -> DataFrame:
        return _read_parquet(spark, self.target_dir, self._loaded_schema)

    def snapshot(self, spark):
        return list_tree(self.target_dir, spark)

    def rollback_to(self, token, spark) -> None:
        rollback_tree(self.target_dir, token, spark)

    def drop_table(self, spark) -> None:
        remove_files(list_tree(self.target_dir, spark)[0], spark)


def warehouse_backend_column(dialect: str, col):
    """Canonical -> backend column for a warehouse dialect — the ONE
    cast-map entry point FakeWarehouseWriter and the live
    CloudWarehouseWriter share, so their DDL cannot drift."""
    if dialect == "bigquery":
        from goe_spark.types.bigquery import canonical_to_bigquery

        return canonical_to_bigquery(col)
    from goe_spark.types.snowflake import canonical_to_snowflake

    return canonical_to_snowflake(col)


def warehouse_type_decl(bc) -> str:
    if bc.data_precision is not None and bc.data_scale is not None:
        return f"{bc.backend_type}({bc.data_precision},{bc.data_scale})"
    return bc.backend_type


def warehouse_create_table_ddl(
    dialect: str,
    owner: str,
    table_name: str,
    canonical_cols: list,
    partition_col: str | None = None,
    cluster_columns: list[str] | None = None,
) -> str:
    """The CREATE TABLE text a warehouse backend is asked to run —
    shared by the recordable fake and the live connector writer
    (reference: bigquery_backend_api gen_create_table + the partition/
    cluster clause assembly in bigquery_backend_table.py)."""
    qualified = f"{owner}.{table_name}"
    cols = [
        f"  {c.name} {warehouse_type_decl(warehouse_backend_column(dialect, c))}"
        for c in canonical_cols
    ]
    if partition_col:
        part_type = "STRING" if dialect == "bigquery" else "VARCHAR"
        cols.append(f"  {partition_col} {part_type}")
    ddl = (
        f"CREATE TABLE IF NOT EXISTS {qualified} (\n"
        + ",\n".join(cols)
        + "\n)"
    )
    if partition_col and dialect == "bigquery":
        # BigQuery: PARTITION BY column; Snowflake has no partition
        # clause — micro-partitions cluster instead.
        ddl += f"\nPARTITION BY {partition_col}"
    if cluster_columns:
        ddl += f"\nCLUSTER BY ({', '.join(cluster_columns)})"
    return ddl


class FakeWarehouseWriter(BackendWriter):
    """Parquet-backed cloud-warehouse stand-in that records connector
    semantics. ``commands`` holds every statement the writer would
    issue to the real backend, in order; data lands in parquet under
    ``root`` so the pipeline's verification reads work unchanged."""

    def __init__(self, root: str, dialect: str = "bigquery"):
        if dialect not in ("bigquery", "snowflake"):
            raise ValueError(f"unknown warehouse dialect: {dialect}")
        self.root = root
        self.dialect = dialect
        self.backend_name = dialect
        self.commands: list[str] = []
        self._qualified = None
        self._loaded_schema = None
        os.makedirs(root, exist_ok=True)

    def _record(self, sql: str) -> None:
        self.commands.append(sql)
        # Durable trace beside the data, one statement per line, so a
        # test (or an operator) can audit what a real backend would
        # have been asked to do.
        with open(os.path.join(self.root, "commands.log"), "a") as fh:
            fh.write(sql.replace("\n", " ") + "\n")

    def create_table(
        self,
        owner,
        table_name,
        canonical_cols,
        partition_col=None,
        cluster_columns=None,
    ) -> str:
        self._qualified = f"{owner}.{table_name}"
        ddl = warehouse_create_table_ddl(
            self.dialect,
            owner,
            table_name,
            canonical_cols,
            partition_col=partition_col,
            cluster_columns=cluster_columns,
        )
        self._record(ddl)
        return ddl

    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def load_final(
        self, df, replace, partition_col=None, slice_clause=None
    ) -> None:
        target = self._qualified or "<unnamed>"
        if replace:
            self._record(f"TRUNCATE TABLE {target}")
            self._record(f"INSERT INTO {target} SELECT * FROM staging")
        else:
            where = f" WHERE {slice_clause}" if slice_clause else ""
            self._record(
                f"INSERT INTO {target} SELECT * FROM staging{where}"
            )
        writer = df.write.mode("overwrite" if replace else "append")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(self._data_dir())
        self._loaded_schema = df.schema

    def read_final(self, spark) -> DataFrame:
        return _read_parquet(spark, self._data_dir(), self._loaded_schema)

    def snapshot(self, spark):
        return list_tree(self._data_dir(), spark)

    def rollback_to(self, token, spark) -> None:
        self._record(
            f"-- ROLLBACK {self._qualified or '<unnamed>'} to snapshot"
        )
        rollback_tree(self._data_dir(), token, spark)

    def drop_table(self, spark) -> None:
        self._record(
            f"DROP TABLE IF EXISTS {self._qualified or '<unnamed>'}"
        )
        remove_files(list_tree(self._data_dir(), spark)[0], spark)
