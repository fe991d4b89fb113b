"""LIVE JDBC final sink (sinks/jdbc_writer.py) against embedded
Derby: the full offload pipeline creates a real relational table,
batch-inserts the staged frame through df.write.jdbc, verifies by
reading the table back, appends an incremental HWM slice, and rolls a
failed verification back with DELETE-by-slice — the warehouse
rollback shape file snapshots can't provide."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from goe_spark.plans.offload import (
    OffloadConfig,
    OffloadPipeline,
    OffloadValidationError,
    PartitionSpec,
)
from goe_spark.sinks.jdbc_writer import JdbcBackendWriter
from tests.conftest import SF_SMALL


@pytest.fixture()
def derby_url(spark, tmp_path):
    db = tmp_path / "derby-final"
    url = f"jdbc:derby:{db};create=true"
    spark._jvm.Class.forName(
        "org.apache.derby.jdbc.EmbeddedDriver"
    ).newInstance()
    return url


def _cfg(tmp_path, writer, **kw):
    return OffloadConfig(
        owner="sh",
        table_name="region",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "staging"),
        metadata_dir=str(tmp_path / "md"),
        backend_writer=writer,
        **kw,
    )


def test_full_offload_into_derby(spark, tmp_path, derby_url):
    w = JdbcBackendWriter(derby_url)
    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    res = OffloadPipeline(spark, _cfg(tmp_path, w)).run(src)
    assert res.rows_final == res.rows_staged == src.count()
    # the table is REALLY in the database with the DDL'd types
    back = spark.read.jdbc(derby_url, "SH_REGION")
    assert back.count() == src.count()
    # Derby folds unquoted identifiers to upper case
    assert {c.lower() for c in back.columns} == set(src.columns)
    got = {
        (r["R_REGIONKEY"], r["R_NAME"].strip())
        for r in back.collect()
    }
    want = {(r["r_regionkey"], r["r_name"].strip()) for r in src.collect()}
    assert got == want
    assert any(s.startswith("CREATE TABLE SH_REGION") for s in w.statements)
    # rerun (full replace): truncate+insert, same row count, no dupes
    res2 = OffloadPipeline(spark, _cfg(tmp_path, w)).run(src)
    assert res2.rows_final == src.count()
    assert spark.read.jdbc(derby_url, "SH_REGION").count() == src.count()


def test_incremental_hwm_append_and_delete_rollback(
    spark, tmp_path, derby_url, monkeypatch
):
    w = JdbcBackendWriter(derby_url)
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    part = PartitionSpec("o_orderdate", "date", "M")
    cfg1 = OffloadConfig(
        owner="sh",
        table_name="orders",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "staging"),
        metadata_dir=str(tmp_path / "md"),
        backend_writer=w,
        partition=part,
        hwm="1995-06",
    )
    res1 = OffloadPipeline(spark, cfg1).run(orders)
    n1 = spark.read.jdbc(derby_url, "SH_ORDERS").count()
    assert n1 == res1.rows_final > 0

    # second increment appends only the new window
    cfg2 = OffloadConfig(
        owner="sh",
        table_name="orders",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "staging"),
        metadata_dir=str(tmp_path / "md"),
        backend_writer=w,
        partition=part,
        hwm="1996-06",
    )
    res2 = OffloadPipeline(spark, cfg2).run(orders)
    n2 = spark.read.jdbc(derby_url, "SH_ORDERS").count()
    assert n2 == n1 + res2.rows_final
    # partition column landed as data (relational targets have no
    # partition clause) and the slice windows don't overlap
    parts = spark.read.jdbc(derby_url, "SH_ORDERS").select(
        F.min("GOE_PART_KEY").alias("lo"), F.max("GOE_PART_KEY").alias("hi")
    ).collect()[0]
    assert parts["lo"] <= "1995-06" and "1995-06" < parts["hi"] <= "1996-06"

    # third increment with an injected verification mismatch must
    # DELETE the in-flight slice and leave the previous state intact
    cfg3 = OffloadConfig(
        owner="sh",
        table_name="orders",
        target_dir=str(tmp_path / "final"),
        metadata_dir=str(tmp_path / "md"),
        staging_dir=str(tmp_path / "staging"),
        backend_writer=w,
        partition=part,
        hwm="1997-06",
    )
    pipe = OffloadPipeline(spark, cfg3)
    monkeypatch.setattr(pipe, "_verify_count", lambda df: -1)
    with pytest.raises(OffloadValidationError, match="count validation"):
        pipe.run(orders)
    assert spark.read.jdbc(derby_url, "SH_ORDERS").count() == n2
    assert any(s.startswith("DELETE FROM SH_ORDERS") for s in w.statements)


def test_list_rollback_deletes_exactly_the_quoted_slice(
    spark, tmp_path, derby_url, monkeypatch
):
    """A LIST value holding a quote reaches Derby's DELETE as a string
    literal: a failed verification removes exactly the in-flight rows
    and keeps the earlier slice."""
    w = JdbcBackendWriter(derby_url)
    src = spark.createDataFrame(
        [(1, "a"), (2, "O'Brien"), (3, "O'Brien"), (4, "z")], "id long, name string"
    )
    OffloadPipeline(
        spark,
        _cfg(tmp_path, w, list_partition_column="name", list_partition_values=["a"]),
    ).run(src)
    pipe = OffloadPipeline(
        spark,
        _cfg(tmp_path, w, list_partition_column="name", list_partition_values=["O'Brien"]),
    )
    monkeypatch.setattr(pipe, "_verify_count", lambda df: -1)
    with pytest.raises(OffloadValidationError, match="count validation"):
        pipe.run(src)
    assert "DELETE FROM SH_REGION WHERE name IN ('O''Brien')" in w.statements
    assert [r[0] for r in spark.read.jdbc(derby_url, "SH_REGION").collect()] == [1]


@pytest.mark.parametrize(
    "slice_kw, delete",
    [
        (
            {"list_partition_column": "d", "list_partition_values": [dt.date(2024, 2, 1)]},
            "DELETE FROM SH_REGION WHERE d IN (DATE('2024-02-01'))",
        ),
        (
            {"offload_predicate": "column(ts) >= datetime(2024-02-01 00:00:00)"},
            "DELETE FROM SH_REGION WHERE ts >= TIMESTAMP('2024-02-01 00:00:00')",
        ),
    ],
    ids=["list_date", "predicate_timestamp"],
)
def test_rollback_of_a_dated_slice_speaks_derby(
    spark, tmp_path, derby_url, monkeypatch, slice_kw, delete
):
    """Derby has no typed DATE '...' or TIMESTAMP '...' literals: the
    slice a relational rollback DELETEs by is rendered in its dialect
    (DATE('...'), TIMESTAMP('...')), so a failed verification of a
    dated slice removes exactly the in-flight rows and keeps the
    earlier slice."""
    w = JdbcBackendWriter(derby_url)
    days = [dt.date(2024, 1, 1), dt.date(2024, 2, 1), dt.date(2024, 2, 1), dt.date(2024, 3, 1)]
    src = spark.createDataFrame(
        [(i, d, dt.datetime.combine(d, dt.time())) for i, d in enumerate(days, 1)],
        "id long, d date, ts timestamp",
    )
    OffloadPipeline(
        spark,
        _cfg(tmp_path, w, list_partition_column="d", list_partition_values=[days[0]]),
    ).run(src)
    pipe = OffloadPipeline(spark, _cfg(tmp_path, w, **slice_kw))
    monkeypatch.setattr(pipe, "_verify_count", lambda df: -1)
    with pytest.raises(OffloadValidationError, match="count validation"):
        pipe.run(src)
    assert delete in w.statements
    assert [r[0] for r in spark.read.jdbc(derby_url, "SH_REGION").collect()] == [1]
