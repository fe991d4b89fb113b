"""JDBC backend writer — a LIVE relational final sink for the offload
pipeline (S13), exercised against embedded Derby in tests.

The reference's production backends are cloud warehouses (BigQuery /
Snowflake — create/load/verify sequence rebuilt from
src/goe/offload/bigquery/bigquery_backend_table.py:157-177; their
connector jars aren't shipped here, so those stay covered by the
recordable FakeWarehouseWriter). This writer proves
the same five-call protocol against a REAL database engine end to
end: driver-side DDL over java.sql, distributed `df.write.jdbc`
loads, verification read-back through `spark.read.jdbc`, and
DELETE-by-slice rollback — the rollback shape relational warehouses
actually use (file-set snapshots don't exist once rows are inside a
database; the reference's backends likewise delete/overwrite the
in-flight slice on failure).

Scale notes: the data plane is `df.write.jdbc` — every partition
opens its own connection and batch-inserts, so the load parallelism
equals the DataFrame's partitioning (cap with
``df.coalesce(n)``/numPartitions against a connection-limited
target). DDL and DELETE statements are driver-side control plane,
single statements each. Overwrite uses TRUNCATE (``truncate=true``)
so the pre-created, correctly-typed table survives — Spark's default
overwrite would drop and recreate it with inferred types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from goe_spark.sinks.backend_writer import BackendWriter
from goe_spark.sources.jdbc import dialect_from_jdbc_url
from goe_spark.types import canonical as C

# Canonical -> ANSI/Derby type declarations. Derby caps DECIMAL
# precision at 31 — wider canonical decimals clamp (the reference's
# per-backend max-precision rule; values beyond the clamp belong on a
# backend with DECIMAL(38)).
_DERBY_MAX_DECIMAL = 31


def _type_decl(col) -> str:
    t = col.data_type
    if t in (C.FIXED_STRING, C.VARIABLE_STRING):
        return f"VARCHAR({col.data_length or 4000})"
    if t == C.LARGE_STRING:
        return "CLOB"
    if t in (C.BINARY, C.LARGE_BINARY):
        return "BLOB"
    if t in (C.INTEGER_1, C.INTEGER_2):
        return "SMALLINT"
    if t == C.INTEGER_4:
        return "INTEGER"
    if t == C.INTEGER_8:
        return "BIGINT"
    if t in (C.INTEGER_38, C.DECIMAL):
        p = min(col.data_precision or _DERBY_MAX_DECIMAL, _DERBY_MAX_DECIMAL)
        s = min(col.data_scale or 0, p)
        return f"DECIMAL({p},{s})"
    if t == C.FLOAT:
        return "REAL"
    if t == C.DOUBLE:
        return "DOUBLE"
    if t == C.DATE:
        return "DATE"
    if t == C.TIMESTAMP or t == C.TIMESTAMP_TZ:
        # Derby has no timezone type; TZ values normalize to session
        # UTC (session.py pins UTC) before the write.
        return "TIMESTAMP"
    if t in (C.TIME, C.INTERVAL_DS, C.INTERVAL_YM):
        # kept as strings end-to-end (functions/casts.py)
        return "VARCHAR(100)"
    if t == C.BOOLEAN:
        return "BOOLEAN"
    raise ValueError(f"no JDBC type mapping for {t}")


class JdbcBackendWriter(BackendWriter):
    """Final table inside a JDBC database. Table name is
    ``OWNER_TABLE`` (upper-cased — Derby folds unquoted identifiers);
    the synthetic partition column rides as an ordinary indexed-able
    VARCHAR column, relational targets having no partition clause."""

    backend_name = "jdbc"

    def __init__(
        self,
        url: str,
        properties: dict | None = None,
        spark: SparkSession | None = None,
    ):
        self.url = url
        # The slice clause it records and rolls back by is rendered
        # for its database (Derby has no typed DATE '...' literals).
        self.dialect = dialect_from_jdbc_url(url)
        self.properties = dict(properties or {})
        # The session whose JVM issues driver-side DDL. create_table's
        # protocol signature takes no session, so it is pinned at
        # construction — under a multi-session setup the DDL must run
        # against the SAME session as the load (round-7 ADVICE).
        self._spark = spark
        self._table: str | None = None
        self._last_slice: str | None = None
        self.statements: list[str] = []  # audit trail of DDL/DML issued

    # -- control plane (driver-side java.sql) ------------------------------

    def _connection(self, spark: SparkSession):
        jvm = spark._jvm
        if self.properties.get("driver"):
            jvm.Class.forName(self.properties["driver"]).newInstance()
        return jvm.java.sql.DriverManager.getConnection(self.url)

    def _execute(self, spark: SparkSession, sql: str, ignore: tuple = ()) -> None:
        self.statements.append(sql)
        conn = self._connection(spark)
        try:
            st = conn.createStatement()
            try:
                st.execute(sql)
            except Exception as e:  # py4j wraps SQLExceptions
                if not any(code in str(e) for code in ignore):
                    raise
            finally:
                st.close()
        finally:
            conn.close()

    # -- the five protocol calls --------------------------------------------

    def create_table(
        self,
        owner,
        table_name,
        canonical_cols,
        partition_col=None,
        cluster_columns=None,
    ) -> str:
        self._table = f"{owner}_{table_name}".upper()
        cols = [f"  {c.name} {_type_decl(c)}" for c in canonical_cols]
        if partition_col:
            cols.append(f"  {partition_col} VARCHAR(64)")
        ddl = (
            f"CREATE TABLE {self._table} (\n" + ",\n".join(cols) + "\n)"
        )
        if self._spark is None:
            from goe_spark.session import get_spark

            self._spark = get_spark("jdbc-writer")
        # X0Y32 = Derby "already exists": idempotent ensure, the same
        # CREATE TABLE IF NOT EXISTS the warehouse writers record.
        self._execute(self._spark, ddl, ignore=("X0Y32",))
        return ddl

    def load_final(
        self, df: DataFrame, replace, partition_col=None, slice_clause=None
    ) -> None:
        assert self._table, "create_table must run first"
        self._last_slice = slice_clause
        props = dict(self.properties)
        writer = (
            df.write.mode("overwrite" if replace else "append")
            # keep the DDL'd table: truncate instead of drop+recreate
            .option("truncate", "true")
        )
        self.statements.append(
            (f"TRUNCATE + INSERT {self._table}" if replace else f"INSERT {self._table}")
            + (f" WHERE {slice_clause}" if slice_clause else "")
        )
        writer.jdbc(self.url, self._table, properties=props)

    def read_final(self, spark) -> DataFrame:
        return spark.read.jdbc(self.url, self._table, properties=dict(self.properties))

    def snapshot(self, spark):
        # Relational rollback is DELETE-by-slice, not file sets: the
        # token just marks that a pre-load state exists.
        return ("pre-load", self._table)

    def rollback_to(self, token, spark) -> None:
        if self._last_slice:
            self._execute(
                spark, f"DELETE FROM {self._table} WHERE {self._last_slice}"
            )
        else:
            # un-sliced incremental append: no row-level identity to
            # delete by — fail loudly rather than guess
            raise RuntimeError(
                "jdbc rollback requires the load's slice_clause; "
                "an un-sliced append cannot be rolled back row-wise"
            )

    def drop_table(self, spark) -> None:
        if self._table:
            # 42Y55 = Derby "table does not exist"
            self._execute(
                spark, f"DROP TABLE {self._table}", ignore=("42Y55",)
            )
