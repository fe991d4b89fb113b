"""Targeted delete (plans/targeted_delete.py): partition-bounded
rewrite, byte-stability of untouched partitions, crash healing,
padded/typed partition names, null partition keys."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from goe_spark.plans.targeted_delete import delete_rows
from tests.conftest import SF_SMALL, partition_file_map


def test_delete_removes_only_requested_rows(spark, offloaded_orders):
    target, src, _ = offloaded_orders
    doomed = [r[0] for r in src.select("o_orderkey").limit(5).collect()]
    before = spark.read.parquet(target).count()

    rep = delete_rows(spark, target, "o_orderkey", doomed)
    assert rep.rows_deleted == 5
    after = spark.read.parquet(target)
    assert after.count() == before - 5
    assert after.where(F.col("o_orderkey").isin(doomed)).count() == 0


def test_untouched_partitions_stay_byte_identical(spark, offloaded_orders):
    target, src, _ = offloaded_orders
    doomed = [src.select("o_orderkey").first()[0]]
    files_before = partition_file_map(target)
    rep = delete_rows(spark, target, "o_orderkey", doomed)
    files_after = partition_file_map(target)
    assert rep.partitions_affected >= 1
    touched = {d for d, _ in rep.details}
    for d, fmap in files_before.items():
        if d not in touched:
            assert files_after[d] == fmap, f"{d} was rewritten needlessly"


def test_delete_with_dataframe_keyset(spark, offloaded_orders):
    target, src, _ = offloaded_orders
    keys_df = src.select("o_orderkey").limit(7)
    n_keys = keys_df.count()
    before = spark.read.parquet(target).count()
    rep = delete_rows(spark, target, "o_orderkey", keys_df)
    assert rep.rows_deleted == n_keys
    assert spark.read.parquet(target).count() == before - n_keys


def test_delete_is_idempotent(spark, offloaded_orders):
    target, src, _ = offloaded_orders
    doomed = [r[0] for r in src.select("o_orderkey").limit(3).collect()]
    delete_rows(spark, target, "o_orderkey", doomed)
    rep2 = delete_rows(spark, target, "o_orderkey", doomed)
    assert rep2.rows_deleted == 0
    assert rep2.partitions_affected == 0


def test_delete_heals_interrupted_swap(spark, offloaded_orders):
    """A marker left by a crash mid-swap is completed before the new
    delete runs (same healing contract as compaction)."""
    import json

    from goe_spark.plans.compaction import _data_files, _tmp_dir

    target, src, _ = offloaded_orders
    part = next(
        d for d in sorted(os.listdir(target)) if d.startswith("goe_part_key=")
    )
    full = os.path.join(target, part)
    old_files = _data_files(full)
    part_df = spark.read.parquet(full)
    n_rows = part_df.count()
    part_df.write.mode("overwrite").parquet(_tmp_dir(target, part))
    with open(
        os.path.join(target, f".compact_swap.{part}.json"), "w"
    ) as fh:
        json.dump({"partition": part, "old_files": old_files}, fh)

    rep = delete_rows(spark, target, "o_orderkey", [-1])  # no-op key
    assert rep.partitions_healed == 1
    assert spark.read.parquet(full).count() == n_rows
    assert not os.path.exists(_tmp_dir(target, part))


def test_rewrite_missing_a_directory_raises_and_keeps_it(
    spark, offloaded_orders, monkeypatch
):
    """A rewrite whose output lacks one directory's rows fails the
    exact row check before any marker is armed: the delete raises and
    every directory keeps its files, byte-identical. Checked only as
    'fewer rows', the empty subtree passed as every row deleted and
    the partition was swapped in empty."""
    from goe_spark.plans import targeted_delete
    from goe_spark.plans.compaction import PART

    target, src, _ = offloaded_orders
    dirs = sorted(d for d in os.listdir(target) if d.startswith("goe_part_key="))
    keys = [
        spark.read.parquet(os.path.join(target, d)).first()["o_orderkey"]
        for d in dirs[:2]
    ]
    real = targeted_delete.rewrite_partitions

    def lossy(spark, path, dirs, plan, **kw):
        def drop_first(df, olds):
            return plan(df, olds).where(f"{PART} != 0")

        return real(spark, path, dirs, drop_first, **kw)

    monkeypatch.setattr(targeted_delete, "rewrite_partitions", lossy)
    before = partition_file_map(target)
    with pytest.raises(RuntimeError, match="rows"):
        delete_rows(spark, target, "o_orderkey", keys)
    assert partition_file_map(target) == before
    assert [n for n in os.listdir(target) if "compact" in n] == []
    assert spark.read.parquet(target).count() == src.count()


def test_delete_from_padded_number_partitions(spark, tmp_path):
    """Digit-padded numeric partition values (goe_part_key=00100) are
    parsed as ints by Spark's partition inference; the directory set
    must come from input_file_name, not from str(value) — a rebuilt
    'goe_part_key=100' name would silently delete nothing."""
    rows = [(i, (i % 2) * 100) for i in range(20)]
    src = spark.createDataFrame(rows, "id long, bucket long")
    target = str(tmp_path / "padded")
    src.withColumn(
        "goe_part_key", F.lpad(F.col("bucket").cast("string"), 5, "0")
    ).write.partitionBy("goe_part_key").parquet(target)
    assert os.path.isdir(os.path.join(target, "goe_part_key=00100"))

    rep = delete_rows(spark, target, "id", [1, 3])  # both in bucket 100
    assert rep.rows_deleted == 2
    after = spark.read.parquet(target)
    assert after.count() == 18
    assert after.where(F.col("id").isin([1, 3])).count() == 0


def test_delete_from_null_partition(spark, tmp_path):
    """Rows under __HIVE_DEFAULT_PARTITION__ (NULL partition key) are
    deletable like any others."""
    src = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id long, k string"
    )
    target = str(tmp_path / "nullpart")
    src.withColumn("goe_part_key", F.col("k")).write.partitionBy(
        "goe_part_key"
    ).parquet(target)

    rep = delete_rows(spark, target, "id", [2])
    assert rep.rows_deleted == 1
    after = spark.read.parquet(target)
    assert sorted(r.id for r in after.collect()) == [1, 3]


def test_unpartitioned_target_rejected(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    flat = str(tmp_path / "flat")
    src.write.parquet(flat)
    with pytest.raises(ValueError, match="not partitioned"):
        delete_rows(spark, flat, "r_regionkey", [0])


def test_delete_from_hive_escaped_partitions(spark, tmp_path):
    """Partition values with URI/Hive-special characters ('a/b',
    'c d') produce escaped directory names; input_file_name returns
    them URL-encoded ON TOP — one unquote must land back on the
    on-disk spelling, not crash with FileNotFoundError."""
    src = spark.createDataFrame(
        [(1, "a/b"), (2, "c d"), (3, "plain")], "id long, k string"
    )
    target = str(tmp_path / "escaped")
    src.withColumn("goe_part_key", F.col("k")).write.partitionBy(
        "goe_part_key"
    ).parquet(target)

    rep = delete_rows(spark, target, "id", [1, 2])
    assert rep.rows_deleted == 2
    after = spark.read.parquet(target)
    assert sorted(r.id for r in after.collect()) == [3]


def test_delete_keeps_innocent_null_key_rows(spark, tmp_path):
    """NULL-key rows in a rewritten partition must survive a delete
    of OTHER keys (three-valued ~isin would silently drop them)."""
    src = spark.createDataFrame(
        [(1, "p"), (None, "p"), (2, "p")], "id long, part string"
    )
    target = str(tmp_path / "nullrow")
    src.withColumn("goe_part_key", F.col("part")).write.partitionBy(
        "goe_part_key"
    ).parquet(target)

    rep = delete_rows(spark, target, "id", [1])
    assert rep.rows_deleted == 1
    after = spark.read.parquet(target)
    got = sorted((r.id if r.id is not None else -99) for r in after.collect())
    assert got == [-99, 2]  # NULL-key row kept


def test_null_in_the_key_list_deletes_nothing_else(spark, tmp_path):
    """A NULL among the doomed keys matches no row. In the IN list it
    made ~isin NULL for every other row of a rewritten partition, so
    the anti-filter dropped them all."""
    target = str(tmp_path / "nullkey")
    spark.createDataFrame(
        [(1, "p"), (2, "p"), (3, "q")], "id long, goe_part_key string"
    ).write.partitionBy("goe_part_key").parquet(target)
    rep = delete_rows(spark, target, "id", [1, None])
    assert (rep.rows_deleted, rep.keys_matched) == (1, 1)
    assert sorted(r.id for r in spark.read.parquet(target).collect()) == [2, 3]
