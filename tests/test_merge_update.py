"""Keyed merge/upsert (plans/merge_update.py): update-in-place,
insert, partition move, byte-stability, CDC dedup enforcement, null
partition values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goe_spark.plans.merge_update import merge_rows
from tests.conftest import partition_file_map


def test_update_in_place(spark, offloaded_orders):
    target, src, spec = offloaded_orders
    victim = src.orderBy("o_orderkey").first()
    updates = spark.createDataFrame(
        [
            (
                victim.o_orderkey,
                victim.o_custkey,
                victim.o_orderstatus,
                999999.0,
                victim.o_orderdate,
                victim.o_orderpriority,
            )
        ],
        src.schema,
    )
    rep = merge_rows(spark, target, "o_orderkey", updates, spec)
    assert rep.rows_updated == 1 and rep.rows_inserted == 0
    after = spark.read.parquet(target)
    assert after.count() == src.count()  # replaced, not added
    got = after.where(F.col("o_orderkey") == victim.o_orderkey).first()
    assert got.o_totalprice == 999999.0


def test_insert_new_key(spark, offloaded_orders):
    target, src, spec = offloaded_orders
    new_key = src.agg(F.max("o_orderkey")).first()[0] + 1000
    row = src.first()
    updates = spark.createDataFrame(
        [
            (
                new_key,
                row.o_custkey,
                "O",
                1.0,
                row.o_orderdate,
                row.o_orderpriority,
            )
        ],
        src.schema,
    )
    rep = merge_rows(spark, target, "o_orderkey", updates, spec)
    assert rep.rows_updated == 0 and rep.rows_inserted == 1
    after = spark.read.parquet(target)
    assert after.count() == src.count() + 1
    assert after.where(F.col("o_orderkey") == new_key).count() == 1


def test_partition_move(spark, offloaded_orders):
    """An updated partition-source value MOVES the row: gone from the
    old partition, present (once) in the new one."""
    target, src, spec = offloaded_orders
    victim = src.orderBy("o_orderkey").first()
    old_part = victim.o_orderdate.strftime("%Y-%m")
    new_date = victim.o_orderdate.replace(year=victim.o_orderdate.year + 1)
    updates = spark.createDataFrame(
        [
            (
                victim.o_orderkey,
                victim.o_custkey,
                victim.o_orderstatus,
                victim.o_totalprice,
                new_date,
                victim.o_orderpriority,
            )
        ],
        src.schema,
    )
    rep = merge_rows(spark, target, "o_orderkey", updates, spec)
    assert rep.rows_updated == 1 and rep.rows_inserted == 0
    after = spark.read.option("basePath", target).parquet(target)
    rows = after.where(F.col("o_orderkey") == victim.o_orderkey).collect()
    assert len(rows) == 1
    assert str(rows[0].goe_part_key) != old_part
    assert after.count() == src.count()


def test_untouched_partitions_stay_byte_identical(spark, offloaded_orders):
    target, src, spec = offloaded_orders
    victim = src.first()
    updates = spark.createDataFrame([tuple(victim)], src.schema)
    files_before = partition_file_map(target)
    merge_rows(spark, target, "o_orderkey", updates, spec)
    files_after = partition_file_map(target)
    victim_part = f"goe_part_key={victim.o_orderdate.strftime('%Y-%m')}"
    changed = {
        d
        for d in files_before
        if files_after.get(d) != files_before[d]
    }
    assert changed == {victim_part}


def test_duplicate_update_keys_rejected(spark, offloaded_orders):
    target, src, spec = offloaded_orders
    row = src.first()
    updates = spark.createDataFrame([tuple(row), tuple(row)], src.schema)
    with pytest.raises(ValueError, match="unique"):
        merge_rows(spark, target, "o_orderkey", updates, spec)


def test_null_partition_value_lands_and_survives(spark, offloaded_orders):
    """An update with a NULL partition-source value lands in the Hive
    default-partition directory (not silently dropped) and is
    retrievable."""
    target, src, spec = offloaded_orders
    row = src.first()
    new_key = src.agg(F.max("o_orderkey")).first()[0] + 5000
    updates = spark.createDataFrame(
        [(new_key, row.o_custkey, "O", 2.0, None, row.o_orderpriority)],
        src.schema,
    )
    rep = merge_rows(spark, target, "o_orderkey", updates, spec)
    assert rep.rows_inserted == 1
    after = spark.read.parquet(target)
    assert after.where(F.col("o_orderkey") == new_key).count() == 1


def test_missing_columns_rejected(spark, offloaded_orders):
    target, src, spec = offloaded_orders
    with pytest.raises(ValueError, match="missing"):
        merge_rows(spark, target, "o_orderkey", src.select("o_orderkey"), spec)


def test_merge_heals_crashed_phase_b(spark, offloaded_orders):
    """A crash between the delete phase and the append leaves the
    staged copy + marker on disk; the next merge completes it first —
    no updated row is ever lost."""
    import os

    from goe_spark.plans.merge_update import (
        MERGE_MARKER,
        MERGE_STAGING_DIR,
        heal_pending_merge,
    )
    from goe_spark.plans.metadata import atomic_write_json
    from goe_spark.plans.targeted_delete import delete_rows

    target, src, spec = offloaded_orders
    victim = src.orderBy("o_orderkey").first()
    updates = spark.createDataFrame(
        [
            (
                victim.o_orderkey,
                victim.o_custkey,
                victim.o_orderstatus,
                123456.0,
                victim.o_orderdate,
                victim.o_orderpriority,
            )
        ],
        src.schema,
    )
    # Simulate the crash point: staged + marker + phase A done, no
    # phase B append.
    staging = os.path.join(target, MERGE_STAGING_DIR)
    updates.withColumn("goe_part_key", spec.expr()).write.parquet(staging)
    atomic_write_json(
        os.path.join(target, MERGE_MARKER),
        {"key_column": "o_orderkey", "partition_col": "goe_part_key"},
    )
    delete_rows(spark, target, "o_orderkey", [victim.o_orderkey])
    assert (
        spark.read.parquet(target)
        .where(F.col("o_orderkey") == victim.o_orderkey)
        .count()
        == 0
    )  # the dangerous window

    assert heal_pending_merge(spark, target)
    after = spark.read.parquet(target)
    got = after.where(F.col("o_orderkey") == victim.o_orderkey).collect()
    assert len(got) == 1 and got[0].o_totalprice == 123456.0
    assert not os.path.exists(os.path.join(target, MERGE_MARKER))
    assert not os.path.exists(staging)


def test_heal_is_idempotent_after_full_completion(spark, offloaded_orders):
    from goe_spark.plans.merge_update import heal_pending_merge

    target, _, _ = offloaded_orders
    assert heal_pending_merge(spark, target) is False


def test_null_key_updates_rejected(spark, offloaded_orders):
    """A NULL merge key can never be replaced (semi/anti joins skip
    NULLs) — merge would silently append a duplicate per run, so it
    must refuse."""
    target, src, spec = offloaded_orders
    row = src.first()
    updates = spark.createDataFrame(
        [
            (
                None,
                row.o_custkey,
                "O",
                1.0,
                row.o_orderdate,
                row.o_orderpriority,
            )
        ],
        src.schema,
    )
    with pytest.raises(ValueError, match="NULL o_orderkey"):
        merge_rows(spark, target, "o_orderkey", updates, spec)


def test_merge_maintains_minhash_index_o_changed(spark, tmp_path):
    """merge_rows(maintain_indexes=...): probe state after the merge
    is bit-identical to a full rebuild over the post-merge corpus,
    with O(changed) index work (override/tombstone stores hold exactly
    the merged keys) and no rebuild on the next ensure_*."""
    import os

    from goe_spark.catalog import load_table
    from goe_spark.operators.index_maintenance import (
        OVERRIDE_DIR,
        TOMBSTONE_DIR,
    )
    from goe_spark.operators.minhash_index import (
        build_signature_index,
        ensure_signature_index,
        load_signatures,
    )
    from goe_spark.plans.offload import SYNTHETIC_COL, PartitionSpec
    from tests.conftest import SF_SMALL

    spec = PartitionSpec("doc_id", "number", granularity=100)
    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir)
    path = os.path.join(corpus_dir, "documents.parquet")
    base = load_table(spark, SF_SMALL, "documents")
    base.withColumn(SYNTHETIC_COL, spec.expr()).write.partitionBy(
        SYNTHETIC_COL
    ).parquet(path)
    idx = ensure_signature_index(spark, corpus_dir)

    victims = [
        r[0]
        for r in base.select("doc_id").orderBy("doc_id").limit(2).collect()
    ]
    new_key = base.agg(F.max("doc_id")).first()[0] + 7
    changed = (
        base.where(F.col("doc_id").isin(victims))
        .withColumn(
            "text", F.concat(F.lit("merged new body "), F.col("text"))
        )
    )
    inserted = base.limit(1).select(
        F.lit(new_key).alias("doc_id"),
        *[F.col(c) for c in base.columns if c != "doc_id"],
    )
    updates = changed.unionByName(inserted).localCheckpoint(eager=True)
    rep = merge_rows(
        spark, path, "doc_id", updates, spec, maintain_indexes=[idx]
    )
    assert rep.rows_updated == 2 and rep.rows_inserted == 1

    # O(changed): side stores hold exactly the merged keys
    tomb = spark.read.parquet(os.path.join(idx, TOMBSTONE_DIR))
    assert sorted(r[0] for r in tomb.collect()) == sorted(
        victims + [new_key]
    )
    over = spark.read.parquet(os.path.join(idx, OVERRIDE_DIR))
    assert over.count() == 3

    # probe state == full rebuild over the post-merge corpus
    sigs = load_signatures(spark, idx)
    rebuilt_dir = idx + "_merge_rebuilt"
    build_signature_index(
        spark,
        spark.read.parquet(path).drop(SYNTHETIC_COL),
        rebuilt_dir,
    )
    rebuilt = spark.read.parquet(os.path.join(rebuilt_dir, "signatures"))
    assert sigs.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(sigs).count() == 0

    # fingerprint was bumped in-pass: ensure does NOT rebuild (the
    # side stores survive — a rebuild would clear them)
    assert ensure_signature_index(spark, corpus_dir) == idx
    assert os.path.isdir(os.path.join(idx, OVERRIDE_DIR))


def test_merge_maintains_ivf_index(spark, tmp_path):
    """The same merge hook dispatches vector tables to the IVF
    maintainer: the changed vector serves its NEW cell assignment
    (computed against the BUILD's centroids) after the merge."""
    import os

    from goe_spark.catalog import load_table
    from goe_spark.operators.index_maintenance import apply_tombstones
    from goe_spark.operators.ivf import assign_cells, ensure_index
    from goe_spark.plans.offload import SYNTHETIC_COL, PartitionSpec
    from tests.conftest import SF_SMALL

    spec = PartitionSpec("vec_id", "number", granularity=64)
    corpus_dir = str(tmp_path / "vcorpus")
    os.makedirs(corpus_dir)
    path = os.path.join(corpus_dir, "embeddings.parquet")
    base = load_table(spark, SF_SMALL, "embeddings")
    base.withColumn(SYNTHETIC_COL, spec.expr()).write.partitionBy(
        SYNTHETIC_COL
    ).parquet(path)
    idx = ensure_index(spark, corpus_dir)

    victim = base.select("vec_id").orderBy("vec_id").first()[0]
    donor = base.orderBy(F.desc("vec_id")).first()
    updates = base.where(F.col("vec_id") == victim).select(
        "vec_id",
        *[
            F.lit(donor[c]).alias(c) if c == "embedding" else F.col(c)
            for c in base.columns
            if c != "vec_id"
        ],
    ).localCheckpoint(eager=True)
    rep = merge_rows(
        spark, path, "vec_id", updates, spec, maintain_indexes=[idx]
    )
    assert rep.rows_updated == 1

    assigned = apply_tombstones(
        spark,
        idx,
        spark.read.parquet(os.path.join(idx, "assigned")),
        "vec_id",
    )
    got = assigned.where(F.col("vec_id") == victim).collect()
    assert len(got) == 1
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    want = (
        assign_cells(updates.select("vec_id", "embedding"), cents)
        .first()["cell"]
    )
    assert got[0]["cell"] == want


@pytest.mark.parametrize("k", [0, 2])
def test_merge_crash_after_markers_heals(spark, offloaded_orders, monkeypatch, k):
    """A merge that dies after its swap markers are armed, after k of
    its 4 swaps (an update in place, a row moved out to a new
    partition, an insert into a partition holding no staged key):
    heal_target completes the swaps and the merge, reaches the merged
    table and removes the merge marker and the staging copy."""
    import datetime
    import os

    from goe_spark.plans import compaction
    from goe_spark.plans.heal import heal_target
    from goe_spark.plans.merge_update import MERGE_MARKER, MERGE_STAGING_DIR

    target, src, spec = offloaded_orders
    first, moved = src.orderBy("o_orderkey").limit(2).collect()
    months = {r.o_orderdate.strftime("%Y-%m") for r in (first, moved)}
    other = (
        src.where(~F.date_format("o_orderdate", "yyyy-MM").isin(*months))
        .orderBy("o_orderkey")
        .first()
    )
    new_key = src.agg(F.max("o_orderkey")).first()[0] + 1
    new_rows = [
        first.asDict() | {"o_totalprice": -1.0},
        moved.asDict() | {"o_orderdate": datetime.datetime(2031, 5, 1)},
        other.asDict() | {"o_orderkey": new_key},
    ]
    updates = spark.createDataFrame(new_rows, src.schema)
    expected = {r.o_orderkey: tuple(r) for r in src.collect() + updates.collect()}

    real_swap, done = compaction._complete_swap, []

    def crash_after_k(*a):
        if len(done) == k:
            raise OSError("crash")
        done.append(real_swap(*a))
        return done[-1]

    monkeypatch.setattr(compaction, "_complete_swap", crash_after_k)
    with pytest.raises(OSError, match="crash"):
        merge_rows(spark, target, "o_orderkey", updates, spec)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(target, MERGE_MARKER))

    healed = heal_target(spark, target)
    assert healed["merge_healed"] and len(healed["swaps_healed"]) == 4 - k
    assert not os.path.exists(os.path.join(target, MERGE_MARKER))
    assert not os.path.exists(os.path.join(target, MERGE_STAGING_DIR))
    assert [n for n in os.listdir(target) if "compact" in n] == []
    after = spark.read.parquet(target)
    got = {r.o_orderkey: tuple(r) for r in after.drop("goe_part_key").collect()}
    assert after.count() == len(got) == len(expected) and got == expected
    assert (
        after.where(F.col("o_orderkey") == moved.o_orderkey).first().goe_part_key
        == "2031-05"
    )


def test_merge_insert_drops_stale_zorder_manifest(spark, offloaded_orders):
    """A merge that only adds a row to a zordered partition swaps it
    like any rewrite, dropping its manifest, so a manifest-pruned read
    still finds the row. An append left the manifest in place, and the
    manifest lists only the files it was built from."""
    from goe_spark.plans.zorder import (
        read_pruned_partitioned,
        zorder_partitioned_table,
    )

    target, src, spec = offloaded_orders
    zorder_partitioned_table(spark, target, ["o_custkey", "o_totalprice"], n_files=2)
    row = src.orderBy("o_orderkey").first()
    new_key = src.agg(F.max("o_orderkey")).first()[0] + 1
    updates = spark.createDataFrame(
        [row.asDict() | {"o_orderkey": new_key, "o_custkey": -5}], src.schema
    )
    rep = merge_rows(spark, target, "o_orderkey", updates, spec)
    assert (rep.rows_inserted, rep.partitions_affected) == (1, 0)
    df, _, _ = read_pruned_partitioned(spark, target, {"o_custkey": (-5, -5)})
    assert df is not None
    assert df.where(F.col("o_orderkey") == new_key).count() == 1
