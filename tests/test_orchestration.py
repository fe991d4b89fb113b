"""Orchestration control plane: step runner, locks, schema sync,
status report (SURVEY §2.11 O1/O6/O7/O8)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from goe_spark.plans.locks import LockTakenError, TableLock
from goe_spark.plans.metadata import MetadataStore, OffloadMetadata
from goe_spark.plans.schema_sync import (
    SchemaSyncError,
    diff_schemas,
    schema_sync_ddl,
    sync_table_schema,
)
from goe_spark.plans.status_report import status_report
from goe_spark.plans.steps import StepError, StepRunner
from tests.conftest import SF_SMALL


class TestStepRunner:
    def test_ok_and_skip_and_timing(self):
        r = StepRunner(skip={"verify"})
        assert r.run("transport", lambda: 42) == 42
        assert r.run("verify", lambda: 1 / 0) is None  # skipped, not run
        assert r.summary() == {"transport": "ok", "verify": "skipped"}
        assert r.results[0].seconds >= 0

    def test_error_wraps_and_records(self):
        r = StepRunner()
        with pytest.raises(StepError, match="final_load"):
            r.run("final_load", lambda: (_ for _ in ()).throw(ValueError("boom")))
        assert r.summary() == {"final_load": "error"}

    def test_injected_error_before_step(self):
        r = StepRunner(error_at="staging")
        r.run("transport", lambda: 1)
        with pytest.raises(StepError, match="staging"):
            r.run("staging", lambda: 2)


def test_atomic_write_json_mode_matches_plain_open(tmp_path):
    """The written file gets the mode a plain open() gives under the
    process umask, not mkstemp's owner-only 0600, and no temp file is
    left behind."""
    import os

    from goe_spark.plans.metadata import atomic_write_json

    for umask in (0o022, 0o077, 0o002):
        doc, plain = tmp_path / f"doc{umask:o}.json", tmp_path / f"p{umask:o}"
        old = os.umask(umask)
        try:
            atomic_write_json(str(doc), {"k": 1})
            plain.write_text("{}")
        finally:
            os.umask(old)
        assert os.stat(doc).st_mode & 0o777 == os.stat(plain).st_mode & 0o777
        assert os.stat(doc).st_mode & 0o777 == 0o666 & ~umask
    assert not [p for p in tmp_path.iterdir() if p.name.startswith(".")]


class TestLocks:
    def test_exclusive(self, tmp_path):
        root = str(tmp_path)
        with TableLock(root, "SH", "SALES"):
            with pytest.raises(LockTakenError):
                TableLock(root, "SH", "SALES").acquire()
        # released: can take again
        with TableLock(root, "sh", "sales"):
            pass

    def test_different_tables_dont_conflict(self, tmp_path):
        with TableLock(str(tmp_path), "SH", "A"), TableLock(
            str(tmp_path), "SH", "B"
        ):
            pass


class TestSchemaSync:
    BACK = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )

    def test_additive_diff_and_ddl(self):
        front = StructType(
            [
                StructField("id", LongType()),
                StructField("name", StringType()),
                StructField("added_at", StringType()),
                StructField("score", IntegerType()),
            ]
        )
        delta = diff_schemas(front, self.BACK)
        assert [f.name for f in delta.new_columns] == ["added_at", "score"]
        assert delta.is_additive
        ddl = schema_sync_ddl("db.t", delta)
        assert ddl == [
            "ALTER TABLE db.t ADD COLUMNS (`added_at` string, `score` int)"
        ]

    def test_drop_and_retype_refused(self):
        front = StructType([StructField("id", StringType())])  # retyped + dropped
        delta = diff_schemas(front, self.BACK)
        assert delta.dropped_columns == ("name",)
        assert delta.retyped_columns == ("id",)
        with pytest.raises(SchemaSyncError, match="additive"):
            schema_sync_ddl("db.t", delta)

    def test_case_insensitive_no_change(self):
        front = StructType(
            [StructField("ID", LongType()), StructField("NAME", StringType())]
        )
        delta = diff_schemas(front, self.BACK)
        assert delta.new_columns == () and delta.is_additive

    def test_live_alter_on_catalog_table(self, spark, tmp_path):
        tbl = "schema_sync_t1"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(
            f"CREATE TABLE {tbl} (id bigint, name string) USING parquet "
            f"LOCATION '{tmp_path}/t1'"
        )
        try:
            front = StructType(
                [
                    StructField("id", LongType()),
                    StructField("name", StringType()),
                    StructField("extra", IntegerType()),
                ]
            )
            delta = sync_table_schema(spark, tbl, front)
            assert [f.name for f in delta.new_columns] == ["extra"]
            assert [f.name for f in spark.table(tbl).schema.fields] == [
                "id",
                "name",
                "extra",
            ]
            # idempotent second run: empty delta
            delta2 = sync_table_schema(spark, tbl, front)
            assert delta2.new_columns == ()
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


class TestStatusReport:
    def test_report_over_store(self, spark, tmp_path):
        store = MetadataStore(str(tmp_path / "md"))
        store.save(
            OffloadMetadata(
                owner="SH",
                table_name="SALES",
                offload_type="RANGE",
                incremental_key="o_orderdate",
                incremental_high_value="1997-01-01",
            )
        )
        store.save(OffloadMetadata(owner="SH", table_name="DIM"))
        # back one table with real files
        src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
        out = str(tmp_path / "final_sales")
        src.write.mode("overwrite").parquet(out)
        rpt = status_report(
            spark, store, {("sh", "sales"): out}
        ).orderBy("table_name")
        rows = rpt.collect()
        assert [r.table_name for r in rows] == ["dim", "sales"]
        sales = rows[1]
        assert sales.offload_type == "RANGE"
        assert sales.offloaded_rows == 5
        assert sales.offloaded_bytes > 0
        assert rows[0].offloaded_rows is None  # no path mapped

    def test_empty_store(self, spark, tmp_path):
        rpt = status_report(spark, MetadataStore(str(tmp_path / "empty")))
        assert rpt.count() == 0
        assert "offload_type" in rpt.columns

    def test_retained_reclaimable_split(self, spark, tmp_path):
        """RANGE offload: source rows at/below the HWM are reclaimable
        (already offloaded), rows above it retained; FULL offload:
        whole source reclaimable; PREDICATE: split unknown (NULLs) —
        offload_status_report.py:715-760."""
        from goe_spark.plans.offload import (
            OffloadConfig,
            OffloadPipeline,
            PartitionSpec,
        )
        from goe_spark.plans.status_report import (
            render_report,
            summarize_report,
        )

        src_path = f"{SF_SMALL}/orders.parquet"
        src = spark.read.parquet(src_path)
        cfg = OffloadConfig(
            owner="sh",
            table_name="orders",
            target_dir=str(tmp_path / "final"),
            staging_dir=str(tmp_path / "staging"),
            metadata_dir=str(tmp_path / "md"),
            partition=PartitionSpec(
                source_column="o_orderdate", kind="date", granularity="M"
            ),
            hwm="1995-06",
        )
        res = OffloadPipeline(spark, cfg).run(src)
        store = MetadataStore(str(tmp_path / "md"))
        rpt = status_report(
            spark,
            store,
            table_paths={("sh", "orders"): cfg.target_dir},
            source_paths={("sh", "orders"): src_path},
        )
        row = rpt.first()
        assert row.offloaded_rows == res.rows_final
        assert row.offloaded_parts == len(res.partitions_written)
        # the offloaded slice is exactly the reclaimable slice
        assert row.reclaimable_rows == res.rows_final
        assert row.retained_rows == src.count() - res.rows_final
        assert row.retained_rows > 0 and row.reclaimable_rows > 0
        assert row.retained_bytes + row.reclaimable_bytes > 0

        summary = summarize_report(rpt)
        assert summary["offloaded_tables"] == 1
        assert summary["reclaimable_rows"] == res.rows_final

        csv_summary = render_report(rpt, fmt="csv", level="summary")
        assert csv_summary.splitlines()[0].startswith("offloaded_tables,")
        assert str(res.rows_final) in csv_summary
        csv_detail = render_report(rpt, fmt="csv", level="detail")
        assert "owner,table_name" in csv_detail.splitlines()[0]
        assert "sh,orders" in csv_detail
        text = render_report(rpt, fmt="text", level="summary")
        assert "reclaimable_rows" in text

    def test_full_and_predicate_split(self, spark, tmp_path):
        from goe_spark.plans.offload import OffloadConfig, OffloadPipeline

        src_path = f"{SF_SMALL}/orders.parquet"
        src = spark.read.parquet(src_path)
        base = dict(
            target_dir=str(tmp_path / "final"),
            staging_dir=str(tmp_path / "staging"),
            metadata_dir=str(tmp_path / "md"),
            partition=None,
        )
        OffloadPipeline(
            spark, OffloadConfig(owner="sh", table_name="orders", **base)
        ).run(src)
        store = MetadataStore(str(tmp_path / "md"))
        row = status_report(
            spark, store, source_paths={("sh", "orders"): src_path}
        ).first()
        # FULL: everything reclaimable, nothing retained
        assert row.retained_rows == 0
        assert row.reclaimable_rows == src.count()

        OffloadPipeline(
            spark,
            OffloadConfig(
                owner="sh",
                table_name="orders2",
                target_dir=str(tmp_path / "final2"),
                staging_dir=str(tmp_path / "staging2"),
                metadata_dir=str(tmp_path / "md"),
                partition=None,
                offload_predicate='column(o_orderpriority) = string("1-URGENT")',
            ),
        ).run(src)
        row2 = (
            status_report(
                spark, store, source_paths={("sh", "orders2"): src_path}
            )
            .where("table_name = 'orders2'")
            .first()
        )
        # PREDICATE: reclaimable not computable
        assert row2.retained_rows is None
        assert row2.reclaimable_rows is None
