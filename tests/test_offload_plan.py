"""Partition selection, chunking, metadata store, and the end-to-end
offload pipeline on the sf0.001 fixtures (the reference's
test_offload_basic / test_offload_rpa shapes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goe_spark.plans.chunker import chunk_partitions
from goe_spark.plans.history import ExecutionHistoryStore
from goe_spark.plans.metadata import MetadataStore, OffloadMetadata
from goe_spark.plans.offload import (
    OffloadConfig,
    OffloadPipeline,
    OffloadValidationError,
    PartitionSpec,
)
from goe_spark.plans.partitions import (
    SPLIT_90_10,
    SPLIT_100_0,
    SPLIT_100_10,
    PartitionSelectionError,
    SourcePartition,
    hwm_of,
    select_full,
    select_list,
    select_list_as_range,
    select_range,
    select_range_split,
)
from tests.conftest import SF_SMALL

P = SourcePartition


def parts():
    return [
        P("p2012_01", "2012-01", 4 * 1024**3, 100),
        P("p2012_02", "2012-02", 4 * 1024**3, 100),
        P("p2012_03", "2012-03", 4 * 1024**3, 100),
        P("p2012_03b", "2012-03", 1 * 1024**3, 10),
        P("p2012_04", "2012-04", 4 * 1024**3, 100),
        P("pmax", "MAXVALUE", 1 * 1024**3, 5),
    ]


def test_select_full():
    assert len(select_full(parts())) == 6


def test_select_range():
    got = select_range(parts(), new_hwm="2012-03")
    assert [p.name for p in got] == ["p2012_01", "p2012_02", "p2012_03", "p2012_03b"]
    # Incremental append from a prior HWM.
    got = select_range(parts(), new_hwm="2012-04", prior_hwm="2012-02")
    assert [p.name for p in got] == ["p2012_03", "p2012_03b", "p2012_04"]
    # MAXVALUE partition never joins a range append.
    got = select_range(parts(), new_hwm=None)
    assert "pmax" not in [p.name for p in got]
    assert hwm_of(got) == "2012-04"


def test_select_list():
    got = select_list(parts(), requested_names=["p2012_02", "p2012_04"])
    assert [p.name for p in got] == ["p2012_02", "p2012_04"]
    got = select_list(parts(), requested_values=["2012-03"])
    assert [p.name for p in got] == ["p2012_03", "p2012_03b"]
    got = select_list(
        parts(), requested_values=["2012-03"], offloaded_values=["2012-03"]
    )
    assert got == []
    with pytest.raises(PartitionSelectionError):
        select_list(parts(), requested_names=["nope"])


def list_parts():
    # LIST catalog order is arbitrary — selection must sort.
    return [
        P("p_c", "C", 1 * 1024**3, 10),
        P("p_a", "A", 1 * 1024**3, 10),
        P("p_default", "DEFAULT", 1 * 1024**3, 10),
        P("p_b", "B", 1 * 1024**3, 10),
        P("p_d", "D", 1 * 1024**3, 10),
    ]


def test_select_list_as_range_strict_boundary():
    # LIST high values are partition CONTENT, so the filter is `<`.
    got = select_list_as_range(list_parts(), new_hwm="C")
    assert [p.name for p in got] == ["p_a", "p_b"]
    # --equal-to-values variant is inclusive.
    got = select_list_as_range(list_parts(), new_hwm="C", inclusive=True)
    assert [p.name for p in got] == ["p_a", "p_b", "p_c"]
    # Incremental append from a prior HWM; DEFAULT never moves.
    got = select_list_as_range(list_parts(), new_hwm="Z", prior_hwm="B")
    assert [p.name for p in got] == ["p_c", "p_d"]
    assert hwm_of(got) == "D"


def test_select_list_as_range_rejects_multi_value_partitions():
    bad = list_parts() + [P("p_multi", ("X", "Y"), 1, 1)]
    with pytest.raises(PartitionSelectionError, match="LIST_AS_RANGE"):
        select_list_as_range(bad, new_hwm="Z")


def test_select_range_splits():
    # 90/10: classic incremental, boundary = max moved HV.
    sel = select_range_split(parts(), SPLIT_90_10, new_hwm="2012-03")
    assert [p.name for p in sel.partitions] == [
        "p2012_01",
        "p2012_02",
        "p2012_03",
        "p2012_03b",
    ]
    assert sel.hwm == "2012-03"
    # 100/10: everything moves (MAXVALUE included), but the filter
    # still defines the view boundary.
    sel = select_range_split(parts(), SPLIT_100_10, new_hwm="2012-03")
    assert len(sel.partitions) == 6
    assert sel.hwm == "2012-03"
    # 100/0: everything moves, no boundary.
    sel = select_range_split(parts(), SPLIT_100_0)
    assert len(sel.partitions) == 6
    assert sel.hwm is None
    with pytest.raises(PartitionSelectionError):
        select_range_split(parts(), "95/5")


def test_chunker_caps_and_hwm_closure():
    chunks = list(chunk_partitions(parts(), max_bytes=8 * 1024**3, max_count=100))
    # 4+4 fits, next 4 would overflow -> new chunk; p2012_03b shares
    # the 2012-03 HWM so it must stay with p2012_03.
    names = [[p.name for p in c] for c in chunks]
    assert names == [
        ["p2012_01", "p2012_02"],
        ["p2012_03", "p2012_03b"],
        ["p2012_04", "pmax"],
    ]
    # Count cap of 1 still keeps HWM-sharing partitions together.
    chunks = list(chunk_partitions(parts(), max_count=1))
    names = [[p.name for p in c] for c in chunks]
    assert ["p2012_03", "p2012_03b"] in names


def test_metadata_store(tmp_path):
    store = MetadataStore(str(tmp_path))
    assert store.get("sh", "sales") is None
    md = OffloadMetadata(owner="sh", table_name="sales")
    md.incremental_high_value = "2012-03"
    store.save(md)
    got = store.get("sh", "sales")
    assert got.incremental_high_value == "2012-03"
    assert got.offload_version == 1
    store.save(got)
    assert store.get("sh", "sales").offload_version == 2
    store.delete("sh", "sales")
    assert store.get("sh", "sales") is None


# --- end-to-end pipeline ---------------------------------------------------


def _cfg(tmp_path, **kw):
    base = dict(
        owner="tpch",
        table_name="lineitem",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "staging"),
        metadata_dir=str(tmp_path / "meta"),
        partition=PartitionSpec(source_column="l_shipdate", kind="date", granularity="M"),
    )
    base.update(kw)
    return OffloadConfig(**base)


def test_offload_full_table(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    cfg = _cfg(tmp_path)
    result = OffloadPipeline(spark, cfg).run(src)
    assert result.rows_staged == src.count()
    assert result.rows_final == result.rows_staged
    # A local parquet target loads straight from the source: the
    # staged-data validation rides the final write and its step is
    # recorded as skipped.
    assert "FINAL_LOAD" in result.steps
    assert "VALIDATE_STAGED_DATA" not in result.steps
    (rec,) = ExecutionHistoryStore(cfg.metadata_dir).list_executions()
    skipped = {s["name"]: s["detail"] for s in rec.steps if s["status"] == "skipped"}
    assert skipped == dict.fromkeys(
        ["STAGING_TRANSPORT", "VALIDATE_STAGED_DATA", "VALIDATE_CASTS"], "direct"
    )
    final = spark.read.parquet(cfg.target_dir)
    # Partition pruning works on the synthetic column.
    one_month = result.partitions_written[0]
    pruned = final.where(F.col("goe_part_key") == one_month)
    assert pruned.count() > 0
    # Values survive the staging->cast round trip.
    assert final.agg(F.sum("l_quantity")).collect()[0][0] == pytest.approx(
        src.agg(F.sum("l_quantity")).collect()[0][0]
    )


def test_offload_incremental_range(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    cfg1 = _cfg(tmp_path, hwm="1997-12")
    r1 = OffloadPipeline(spark, cfg1).run(src)
    assert max(r1.partitions_written) <= "1997-12"

    # Second run appends only partitions after the stored HWM.
    cfg2 = _cfg(tmp_path, hwm="2001-12")
    r2 = OffloadPipeline(spark, cfg2).run(src)
    assert min(r2.partitions_written) > "1997-12"
    assert r1.rows_staged + r2.rows_staged == src.count()
    final = spark.read.parquet(cfg1.target_dir)
    assert final.count() == src.count()

    md = MetadataStore(cfg1.metadata_dir).get("tpch", "lineitem")
    assert md.incremental_high_value == "2001-12"
    assert md.offload_type == "RANGE"


def test_offload_full_reoffload_replaces(spark, tmp_path):
    """A full (non-incremental) offload REPLACES the target: running
    it twice must not duplicate rows (reference semantics: drop and
    recreate the backend table)."""
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cfg = _cfg(tmp_path, table_name="orders", partition=None)
    OffloadPipeline(spark, cfg).run(src)
    r2 = OffloadPipeline(spark, cfg).run(src)
    assert r2.rows_final == src.count()
    assert spark.read.parquet(cfg.target_dir).count() == src.count()


def test_offload_two_predicates_scoped_verify(spark, tmp_path):
    """Verification counts only the in-flight slice, so a second
    offload with a different predicate passes even though the final
    table already holds the first slice."""
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")

    def cfg_for(pred):
        return _cfg(
            tmp_path,
            table_name="orders",
            partition=None,
            offload_predicate=pred,
        )

    r1 = OffloadPipeline(
        spark, cfg_for('column(o_orderpriority) = string("1-URGENT")')
    ).run(src)
    r2 = OffloadPipeline(
        spark, cfg_for('column(o_orderpriority) = string("2-HIGH")')
    ).run(src)
    assert r1.rows_final > 0 and r2.rows_final > 0
    final = spark.read.parquet(str(tmp_path / "final"))
    assert final.count() == r1.rows_final + r2.rows_final


def test_offload_failed_verify_rolls_back(spark, tmp_path):
    """A count-verification failure removes the files this run
    appended and skips the metadata save, so the same offload can be
    retried without duplicating the slice."""
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    ok = OffloadPipeline(
        spark,
        _cfg(
            tmp_path,
            table_name="orders",
            partition=None,
            offload_predicate='column(o_orderpriority) = string("1-URGENT")',
        ),
    )
    ok.run(src)
    before = spark.read.parquet(str(tmp_path / "final")).count()

    bad = OffloadPipeline(
        spark,
        _cfg(
            tmp_path,
            table_name="orders",
            partition=None,
            offload_predicate='column(o_orderpriority) = string("2-HIGH")',
        ),
    )
    bad._verify_count = lambda df: -1
    with pytest.raises(OffloadValidationError, match="rolled back"):
        bad.run(src)
    # Append rolled back, predicate not recorded.
    assert spark.read.parquet(str(tmp_path / "final")).count() == before
    md = MetadataStore(str(tmp_path / "meta")).get("tpch", "orders")
    assert len(md.offloaded_predicates) == 1

    # Retry with a healthy verifier succeeds and appends exactly once.
    retry = OffloadPipeline(
        spark,
        _cfg(
            tmp_path,
            table_name="orders",
            partition=None,
            offload_predicate='column(o_orderpriority) = string("2-HIGH")',
        ),
    )
    r = retry.run(src)
    assert spark.read.parquet(str(tmp_path / "final")).count() == before + r.rows_final


def test_offload_dfs_target_rolls_back(spark, tmp_path):
    """Rollback must also work when target_dir is a DFS URI: the
    pre/post file snapshot and the delete route through HadoopDfs
    (file:// here stands in for hdfs/gs/s3a — same FileSystem API).
    Regression: the pipeline used to call _list_files without the
    session, crashing with HadoopDfs(None) on any DFS target."""
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    dfs_target = "file://" + str(tmp_path / "final")

    ok = OffloadPipeline(
        spark,
        _cfg(
            tmp_path,
            table_name="orders",
            target_dir=dfs_target,
            partition=None,
            offload_predicate='column(o_orderpriority) = string("1-URGENT")',
        ),
    )
    ok.run(src)
    before = spark.read.parquet(dfs_target).count()

    bad = OffloadPipeline(
        spark,
        _cfg(
            tmp_path,
            table_name="orders",
            target_dir=dfs_target,
            partition=None,
            offload_predicate='column(o_orderpriority) = string("2-HIGH")',
        ),
    )
    bad._verify_count = lambda df: -1
    with pytest.raises(OffloadValidationError, match="rolled back"):
        bad.run(src)
    assert spark.read.parquet(dfs_target).count() == before


def test_offload_predicate_dedupe(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cfg = _cfg(
        tmp_path,
        table_name="orders",
        partition=None,
        offload_predicate='column(o_orderpriority) = string("1-URGENT")',
    )
    r = OffloadPipeline(spark, cfg).run(src)
    assert r.rows_final > 0
    # Re-offloading the same predicate is rejected.
    with pytest.raises(OffloadValidationError):
        OffloadPipeline(spark, cfg).run(src)


def test_offload_with_zorder_columns(spark, tmp_path):
    """--zorder-columns: the verified final table comes out
    re-clustered per partition with manifests in place, same rows."""
    import os

    from goe_spark.plans.offload import (
        OffloadConfig,
        OffloadPipeline,
        PartitionSpec,
    )
    from goe_spark.plans.zorder import MANIFEST_NAME

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cfg = OffloadConfig(
        owner="sh",
        table_name="orders",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "stage"),
        metadata_dir=str(tmp_path / "md"),
        partition=PartitionSpec(
            source_column="o_orderdate", kind="date", granularity="Y"
        ),
        zorder_columns_csv="o_custkey,o_totalprice",
    )
    res = OffloadPipeline(spark, cfg).run(src)
    assert "ZORDER" in res.steps
    part_dirs = [
        d
        for d in os.listdir(cfg.target_dir)
        if d.startswith("goe_part_key=")
    ]
    assert part_dirs
    for d in part_dirs:
        assert os.path.exists(
            os.path.join(cfg.target_dir, d, MANIFEST_NAME)
        )
    assert spark.read.parquet(cfg.target_dir).count() == src.count()


def test_staging_write_observation_matches_readback(spark, tmp_path):
    """The Observation-API write-side count (engine-native twin of
    the reference's Spark-listener recordsWritten scraping) must
    equal the staged read-back count and land in the result."""
    from goe_spark.catalog import load_table
    from goe_spark.plans.offload import OffloadConfig, OffloadPipeline
    from tests.conftest import SF_SMALL

    src = load_table(spark, SF_SMALL, "region")
    cfg = OffloadConfig(
        owner="t",
        table_name="region_obs",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "stage"),
        metadata_dir=str(tmp_path / "md"),
    )
    res = OffloadPipeline(spark, cfg).run(src)
    assert res.rows_staged_observed == res.rows_staged == 5


def test_staged_null_in_not_null_column_fails_validation(
    spark, tmp_path, monkeypatch
):
    """The staged read-back carries the staged frame's schema, in which
    ``k`` is NOT NULL; file sources read every column as nullable, so
    the NOT NULL probe is not folded away and a NULL that reaches the
    staged files still fails VALIDATE_STAGED_DATA."""
    from goe_spark.sources import files

    write_staging = files.write_staging

    def null_one_key(df, path, **kw):
        k = F.when(F.col("k") == 3, F.lit(None)).otherwise(F.col("k"))
        write_staging(df.withColumn("k", k), path, **kw)

    monkeypatch.setattr(files, "write_staging", null_one_key)
    src = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    assert not src.schema["k"].nullable
    cfg = OffloadConfig(
        owner="t",
        table_name="nn",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "stage"),
        metadata_dir=str(tmp_path / "md"),
        staging_format="parquet",  # the NULL is injected into staged files
    )
    with pytest.raises(OffloadValidationError, match="'nn_k': 1"):
        OffloadPipeline(spark, cfg).run(src)


def test_predicate_on_unparseable_column_fails_in_find(spark, tmp_path):
    """The DSL accepts ``$`` in a column name but Spark SQL cannot
    parse it unquoted. The offload fails in FIND_OFFLOAD_DATA, before
    anything is staged or any metadata saved — not later, in the
    hybrid view that evaluates the stored predicate."""
    import os

    from pyspark.errors import ParseException

    from goe_spark.plans.history import ExecutionHistoryStore

    src = spark.createDataFrame([(1, 5), (2, 7)], "id long, `a$b` long")
    cfg = _cfg(
        tmp_path,
        table_name="t",
        partition=None,
        offload_predicate="column(a$b) = numeric(5)",
    )
    with pytest.raises(ParseException):
        OffloadPipeline(spark, cfg).run(src)
    assert not os.path.exists(cfg.staging_dir)
    assert MetadataStore(cfg.metadata_dir).get("tpch", "t") is None
    (rec,) = ExecutionHistoryStore(cfg.metadata_dir).list_executions("tpch", "t")
    assert rec.steps[-1]["name"] == "FIND_OFFLOAD_DATA"
    assert rec.steps[-1]["status"] == "error"


# --- the direct path: a local parquet target loads from the source -------


def _amounts(spark):
    """40 rows over four months of 2024; ``amount`` reaches 1462.50."""
    return spark.range(40).selectExpr(
        "id",
        "CAST(id * 37.5 AS DECIMAL(10,2)) AS amount",
        "date_add(DATE'2024-01-01', CAST(id * 3 AS INT)) AS d",
    )


def _tree_bytes(root):
    """Every directory and file under ``root``, with the files' bytes."""
    import os

    out = {}
    for dirpath, _, filenames in os.walk(root):
        out[os.path.relpath(dirpath, root)] = None
        for f in filenames:
            with open(os.path.join(dirpath, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, f), root)] = fh.read()
    return out


@pytest.mark.parametrize("hwm, corrupt", [(None, 13), ("2024-03", 4)])
def test_direct_cast_corruption_leaves_target_byte_identical(
    spark, tmp_path, hwm, corrupt
):
    """A column-controls decimal too narrow for the data makes
    try_cast return NULL: the observed probe on the direct write fails
    the offload naming ``corrupt_amount``, and the target is left
    byte-identical, both when a full replace would have swapped in a
    new table and when an HWM append had written into it."""
    import os

    from goe_spark.types.controls import ColumnControls

    src = _amounts(spark)
    part = PartitionSpec("d", "date", "M")
    OffloadPipeline(
        spark, _cfg(tmp_path, partition=part, hwm=None if hwm is None else "2024-01")
    ).run(src)
    before = _tree_bytes(tmp_path / "final")
    narrow = ColumnControls(
        decimal_columns_csv_list=["amount"], decimal_columns_type_list=["5,2"]
    )
    with pytest.raises(OffloadValidationError, match=f"'corrupt_amount': {corrupt}}}"):
        OffloadPipeline(
            spark, _cfg(tmp_path, partition=part, hwm=hwm, column_controls=narrow)
        ).run(src)
    assert _tree_bytes(tmp_path / "final") == before
    assert not [n for n in os.listdir(tmp_path) if n.startswith(".")]
    assert not os.path.exists(tmp_path / "staging")


def test_partitions_written_keeps_values_and_types(spark, tmp_path):
    """The footer-counted partitions keep the values and types the
    read-back grouping gave: longs for a number granularity, None for
    the Hive NULL directory, unescaped strings for string prefixes."""
    src = spark.createDataFrame(
        [(1, 10, "a/bc"), (2, None, "a%d"), (3, 25, None), (4, 130, "a=b"), (5, 27, "a/x")],
        "id long, n long, s string",
    )
    by_number = OffloadPipeline(
        spark, _cfg(tmp_path, partition=PartitionSpec("n", "number", 20))
    ).run(src)
    assert by_number.partitions_written == [None, 0, 20, 120]
    assert [type(p) for p in by_number.partitions_written[1:]] == [int] * 3
    assert by_number.rows_final == 5

    by_prefix = OffloadPipeline(
        spark,
        _cfg(
            tmp_path,
            target_dir=str(tmp_path / "by_prefix"),
            metadata_dir=str(tmp_path / "meta2"),
            partition=PartitionSpec("s", "string", 2),
        ),
    ).run(src)
    assert by_prefix.partitions_written == [None, "a%", "a/", "a="]
    assert by_prefix.rows_final == 5

    # A RANGE append counts only the directories of its slice.
    cfg = _cfg(
        tmp_path,
        target_dir=str(tmp_path / "ranged"),
        metadata_dir=str(tmp_path / "meta3"),
        partition=PartitionSpec("n", "number", 20),
    )
    from dataclasses import replace

    first = OffloadPipeline(spark, replace(cfg, hwm=0)).run(src)
    assert (first.partitions_written, first.rows_final) == ([0], 1)
    rest = OffloadPipeline(spark, replace(cfg, hwm=200)).run(src)
    assert (rest.partitions_written, rest.rows_final) == ([20, 120], 3)


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"hwm": "2023-12"},
        {"list_partition_column": "id", "list_partition_values": [1000]},
        {"offload_predicate": "column(id) > numeric(1000)"},
    ],
    ids=["full", "range", "list", "predicate"],
)
def test_direct_load_of_an_empty_slice(spark, tmp_path, kw):
    """A slice with no rows loads, validates and verifies as zero rows
    on the direct path: the observed validation of a partitioned write
    arrives even when the hashed input is empty."""
    part = PartitionSpec("d", "date", "M")
    res = OffloadPipeline(
        spark, _cfg(tmp_path, partition=part, **kw)
    ).run(_amounts(spark).where("id < 0"))
    assert (res.rows_staged, res.rows_final, res.partitions_written) == (0, 0, [])
