"""Backend write connectors (sinks/backend_writer.py): the offload
pipeline drives a warehouse writer through the reference's step
sequence (create table -> load -> verify -> rollback-on-failure,
bigquery_backend_table.py:157-177), and the FakeWarehouseWriter
records the connector semantics — partition clause, cluster columns,
insert-overwrite slice — that a real BigQuery/Snowflake writer would
execute."""

from __future__ import annotations

import pytest

from goe_spark.plans.offload import (
    OffloadConfig,
    OffloadPipeline,
    OffloadValidationError,
    PartitionSpec,
)
from goe_spark.sinks import FakeWarehouseWriter, ParquetBackendWriter
from tests.conftest import SF_SMALL


def _cfg(tmp_path, writer=None, **kw):
    return OffloadConfig(
        owner="sh",
        table_name="orders",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "staging"),
        metadata_dir=str(tmp_path / "md"),
        backend_writer=writer,
        **kw,
    )


class TestFakeWarehouseFull:
    def test_full_offload_records_create_and_insert(self, spark, tmp_path):
        w = FakeWarehouseWriter(str(tmp_path / "bq"), dialect="bigquery")
        src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        res = OffloadPipeline(
            spark,
            _cfg(
                tmp_path,
                writer=w,
                partition=PartitionSpec("o_orderdate", "date", "M"),
                sort_columns_csv="o_custkey",
            ),
        ).run(src)

        assert res.rows_final == res.rows_staged == src.count()
        assert "CREATE_TABLE" in res.steps and "FINAL_LOAD" in res.steps
        ddl = w.commands[0]
        assert ddl.startswith("CREATE TABLE IF NOT EXISTS sh.orders")
        # BigQuery dialect: typed through canonical_to_bigquery, with
        # the synthetic partition column + clauses recorded.
        assert "o_orderkey INT64" in ddl
        assert "o_orderdate DATETIME" in ddl
        assert "goe_part_key STRING" in ddl
        assert "PARTITION BY goe_part_key" in ddl
        assert "CLUSTER BY (o_custkey)" in ddl
        # Full offload: truncate-and-insert semantics.
        assert w.commands[1] == "TRUNCATE TABLE sh.orders"
        assert w.commands[2] == "INSERT INTO sh.orders SELECT * FROM staging"

    def test_snowflake_dialect_no_partition_clause(self, spark, tmp_path):
        w = FakeWarehouseWriter(str(tmp_path / "sf"), dialect="snowflake")
        src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
        OffloadPipeline(
            spark,
            OffloadConfig(
                owner="sh",
                table_name="region",
                target_dir=str(tmp_path / "final"),
                staging_dir=str(tmp_path / "staging"),
                metadata_dir=str(tmp_path / "md"),
                backend_writer=w,
            ),
        ).run(src)
        ddl = w.commands[0]
        assert "PARTITION BY" not in ddl  # micro-partitions, no clause
        assert "VARCHAR" in ddl or "TEXT" in ddl or "NUMBER" in ddl


class TestFakeWarehouseIncremental:
    def test_incremental_slice_recorded_and_appended(self, spark, tmp_path):
        w = FakeWarehouseWriter(str(tmp_path / "bq"))
        src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        part = PartitionSpec("o_orderdate", "date", "M")
        cfg1 = _cfg(tmp_path, writer=w, partition=part, hwm="1995-06")
        r1 = OffloadPipeline(spark, cfg1).run(src)
        cfg2 = _cfg(tmp_path, writer=w, partition=part, hwm="1996-06")
        r2 = OffloadPipeline(spark, cfg2).run(src)

        inserts = [c for c in w.commands if c.startswith("INSERT")]
        assert "WHERE goe_part_key <= '1995-06'" in inserts[0]
        # Second run's slice is bounded below by the recorded HWM.
        assert (
            "goe_part_key <= '1996-06' AND goe_part_key > '1995-06'"
            in inserts[1]
        )
        # Appends accumulated in the fake's parquet data.
        total = w.read_final(spark).count()
        assert total == r1.rows_final + r2.rows_final

    def test_failed_verify_rolls_back_fake_backend(self, spark, tmp_path):
        w = FakeWarehouseWriter(str(tmp_path / "bq"))
        src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        part = PartitionSpec("o_orderdate", "date", "M")
        OffloadPipeline(
            spark, _cfg(tmp_path, writer=w, partition=part, hwm="1995-06")
        ).run(src)
        before = w.read_final(spark).count()

        class Broken(OffloadPipeline):
            def _verify_count(self, check_df):
                return -1

        with pytest.raises(OffloadValidationError):
            Broken(
                spark,
                _cfg(tmp_path, writer=w, partition=part, hwm="1996-06"),
            ).run(src)
        # The failed increment's files are gone; the first load stands.
        assert w.read_final(spark).count() == before
        assert any(c.startswith("-- ROLLBACK") for c in w.commands)


def _tree(root):
    """Every file and directory under root, relative to it."""
    import os

    out = set()
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        out.update(os.path.join(rel, n) + "/" for n in dirnames)
        out.update(os.path.join(rel, n) for n in filenames)
    return out


@pytest.mark.parametrize("backend", ["parquet", "parquet-dfs", "fake"])
def test_rollback_restores_directory_tree(spark, tmp_path, backend):
    """A failed HWM append leaves the target exactly as it was: its
    files and the partition directories it created are gone."""
    if backend == "fake":
        w = FakeWarehouseWriter(str(tmp_path / "bq"))
        data = str(tmp_path / "bq" / "data")
    else:
        data = str(tmp_path / "final")
        w = ParquetBackendWriter(
            "file://" + data if backend == "parquet-dfs" else data
        )
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    part = PartitionSpec("o_orderdate", "date", "M")
    OffloadPipeline(
        spark, _cfg(tmp_path, writer=w, partition=part, hwm="1995-06")
    ).run(src)
    before = _tree(data)

    class Broken(OffloadPipeline):
        def _verify_count(self, check_df):
            return -1

    with pytest.raises(OffloadValidationError, match="rolled back"):
        Broken(
            spark, _cfg(tmp_path, writer=w, partition=part, hwm="1995-09")
        ).run(src)
    assert _tree(data) == before


class TestStagingFormat:
    def test_orc_staging_end_to_end(self, spark, tmp_path):
        """A non-default staging format flows through write_staging /
        read_staging and the final load still verifies."""
        src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
        res = OffloadPipeline(
            spark, _cfg(tmp_path, staging_format="orc")
        ).run(src)
        assert res.rows_final == src.count()
        import os

        staged = os.listdir(tmp_path / "staging")
        assert any(f.endswith(".orc") for f in staged)

    def test_avro_staging_end_to_end_without_jar(self, spark, tmp_path):
        """The reference's DEFAULT staging format, jar-free: the
        pipeline stages real spec-compliant .avro container files
        through the pure-Python writer (sources/avro_io.py), reads
        them back distributed (binaryFile + mapInPandas decode), and
        the final table matches the parquet-staged result exactly."""
        import os

        src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
        res = OffloadPipeline(
            spark, _cfg(tmp_path, staging_format="avro")
        ).run(src)
        assert res.rows_final == src.count()
        staged = os.listdir(tmp_path / "staging")
        assert staged and all(f.endswith(".avro") for f in staged)
        # container files carry the Avro magic and decode standalone
        from goe_spark.sources.avro_io import MAGIC, read_avro_dir

        first = tmp_path / "staging" / staged[0]
        assert open(first, "rb").read(4) == MAGIC
        _, rows = read_avro_dir(str(tmp_path / "staging"))
        assert len(rows) == src.count()
        got = {
            (r["r_regionkey"], r["r_name"])
            for r in spark.read.parquet(str(tmp_path / "final")).collect()
        }
        want = {(r["r_regionkey"], r["r_name"]) for r in src.collect()}
        assert got == want


class TestParquetWriterParity:
    def test_default_writer_unchanged_semantics(self, spark, tmp_path):
        """No backend_writer configured: identical behavior to the
        direct-parquet pipeline, now via ParquetBackendWriter."""
        src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
        res = OffloadPipeline(spark, _cfg(tmp_path)).run(src)
        assert res.rows_final == src.count()
        got = spark.read.parquet(str(tmp_path / "final"))
        assert got.count() == src.count()

    def test_create_table_ddl_text(self, tmp_path):
        from goe_spark.types.spark_map import spark_to_canonical
        from pyspark.sql.types import LongType

        w = ParquetBackendWriter(str(tmp_path / "t"))
        ddl = w.create_table(
            "sh", "t", [spark_to_canonical("a", LongType(), True)]
        )
        assert "CREATE TABLE sh.t" in ddl and "USING PARQUET" in ddl


@pytest.mark.parametrize(
    "column, value, clause",
    [
        ("d", "date", "d IN (DATE '2024-01-01')"),
        ("name", "O'Brien", "name IN ('O''Brien')"),
    ],
)
def test_list_slice_clause_is_valid_sql(spark, tmp_path, column, value, clause):
    """LIST values reach the writer as SQL literals: a date discovered
    from the source is a DATE literal and a quote is doubled, not
    Python's repr of either."""
    import datetime

    if value == "date":
        value = datetime.date(2024, 1, 1)
    src = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1), "O'Brien"), (2, datetime.date(2024, 2, 1), "x")],
        "id long, d date, name string",
    )
    w = FakeWarehouseWriter(str(tmp_path / "bq"))
    res = OffloadPipeline(
        spark,
        _cfg(tmp_path, writer=w, list_partition_column=column, list_partition_values=[value]),
    ).run(src)
    assert res.rows_final == 1
    assert w.commands[-1] == f"INSERT INTO sh.orders SELECT * FROM staging WHERE {clause}"
