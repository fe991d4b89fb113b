"""Small-file compaction (plans/compaction.py): fragmented partitions
collapse to few files with identical data; quiet partitions are
untouched."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from goe_spark.plans.compaction import compact_partitioned_table
from tests.conftest import SF_SMALL


def _files(d):
    return sorted(
        f for f in os.listdir(d) if not f.startswith(("_", "."))
        and os.path.isfile(os.path.join(d, f))
    )


def test_compaction_reduces_files_preserves_data(spark, tmp_path):
    target = str(tmp_path / "t")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "goe_part_key", F.date_format("o_orderdate", "yyyy")
    )
    # Fragment: 6 append rounds, each repartitioned -> many files/partition.
    for i in range(6):
        orders.where(F.col("o_orderkey") % 6 == i).repartition(3).write.mode(
            "append"
        ).partitionBy("goe_part_key").parquet(target)

    before_total = spark.read.parquet(target).count()
    before_sum = spark.read.parquet(target).agg(
        F.round(F.sum("o_totalprice"), 2)
    ).first()[0]
    part_dirs = [d for d in os.listdir(target) if d.startswith("goe_part_key=")]
    assert any(len(_files(os.path.join(target, d))) > 4 for d in part_dirs)

    rpt = compact_partitioned_table(spark, target, max_files_per_partition=4)
    assert rpt.partitions_compacted > 0
    assert rpt.files_after < rpt.files_before
    for d in part_dirs:
        assert len(_files(os.path.join(target, d))) <= 4

    after = spark.read.parquet(target)
    assert after.count() == before_total
    assert after.agg(F.round(F.sum("o_totalprice"), 2)).first()[0] == before_sum

    # Idempotent: second run touches nothing.
    rpt2 = compact_partitioned_table(spark, target, max_files_per_partition=4)
    assert rpt2.partitions_compacted == 0
    assert rpt2.files_before == rpt2.files_after


def test_quiet_partitions_untouched(spark, tmp_path):
    target = str(tmp_path / "t")
    df = spark.range(100).withColumn("goe_part_key", F.lit("a"))
    df.coalesce(1).write.partitionBy("goe_part_key").parquet(target)
    pdir = os.path.join(target, "goe_part_key=a")
    before = _files(pdir)
    mtimes = {f: os.path.getmtime(os.path.join(pdir, f)) for f in before}
    rpt = compact_partitioned_table(spark, target, max_files_per_partition=4)
    assert rpt.partitions_compacted == 0
    assert _files(pdir) == before
    assert all(
        os.path.getmtime(os.path.join(pdir, f)) == mtimes[f] for f in before
    )


def test_heal_completes_interrupted_swap(spark, tmp_path):
    """Crash mid-swap (marker written, old files partially deleted,
    tmp still holding the compacted data): the next run's heal must
    restore exactly the original rows."""
    import shutil

    from goe_spark.plans.compaction import (
        _tmp_dir,
        compact_partitioned_table,
        heal_interrupted_swaps,
    )
    from goe_spark.plans.metadata import atomic_write_json

    target = str(tmp_path / "t")
    df = spark.range(1000).withColumn("goe_part_key", F.lit("a"))
    for _ in range(3):
        df.repartition(3).write.mode("append").partitionBy(
            "goe_part_key"
        ).parquet(target)
    pdir = os.path.join(target, "goe_part_key=a")
    expected = spark.read.parquet(target).count()
    old_files = _files(pdir)

    # Build the crash state by hand: compacted tmp + marker, then
    # delete HALF the old files (crash mid-delete).
    tmp = _tmp_dir(target, "goe_part_key=a")
    spark.read.parquet(pdir).coalesce(1).write.parquet(tmp)
    atomic_write_json(
        os.path.join(target, ".compact_swap.goe_part_key=a.json"),
        {"partition": "goe_part_key=a", "old_files": old_files},
    )
    for f in old_files[: len(old_files) // 2]:
        os.remove(os.path.join(pdir, f))

    healed = heal_interrupted_swaps(target)
    assert healed == ["goe_part_key=a"]
    assert spark.read.parquet(target).count() == expected
    assert len(_files(pdir)) == 1
    assert not os.path.exists(tmp)

    # And a full compaction run on the healed table is a clean no-op.
    rpt = compact_partitioned_table(spark, target, max_files_per_partition=4)
    assert rpt.partitions_compacted == 0


def test_markerless_tmp_discarded(spark, tmp_path):
    """Crash BEFORE the marker: the partition is intact and the
    orphan tmp dir is removed, not half-swapped in."""
    from goe_spark.plans.compaction import _tmp_dir, heal_interrupted_swaps

    target = str(tmp_path / "t")
    df = spark.range(100).withColumn("goe_part_key", F.lit("a"))
    df.coalesce(1).write.partitionBy("goe_part_key").parquet(target)
    expected = spark.read.parquet(target).count()
    tmp = _tmp_dir(target, "goe_part_key=a")
    df.drop("goe_part_key").coalesce(1).write.parquet(tmp)

    assert heal_interrupted_swaps(target) == []
    assert not os.path.exists(tmp)
    assert spark.read.parquet(target).count() == expected


def _fragmented(spark, target, parts=("a", "b", "c")):
    """One partition per value of ``parts``, six files each."""
    df = spark.range(300).selectExpr(
        "id",
        "element_at(array({}), CAST(id % {} AS INT) + 1) AS goe_part_key".format(
            ", ".join(f"'{p}'" for p in parts), len(parts)
        ),
    )
    for _ in range(2):
        df.repartition(3).write.mode("append").partitionBy(
            "goe_part_key"
        ).parquet(target)


def _contents(spark, target):
    """{partition dir: sorted ids}, each directory read on its own."""
    from goe_spark.plans.compaction import partition_dirs

    return {
        d: sorted(r.id for r in spark.read.parquet(os.path.join(target, d)).collect())
        for d in partition_dirs(target)
    }


def _debris(target):
    """Maintenance leftovers: the temp tree, temp dirs and markers."""
    return sorted(
        n
        for n in os.listdir(target)
        if n.startswith((".compact_", ".goe_part_key="))
    )


def test_crash_before_markers_leaves_table_unchanged(spark, tmp_path, monkeypatch):
    """A crash after the one write and before any marker (here: moving
    the first subtree out of the temp tree) leaves every partition's
    files as they were; heal_interrupted_swaps — behind `cli heal` and
    /api/heal — discards the tree and reports nothing healed."""
    from goe_spark.plans.heal import heal_target
    from tests.conftest import partition_file_map

    target = str(tmp_path / "t")
    _fragmented(spark, target)
    files, rows = partition_file_map(target), _contents(spark, target)
    real_rename = os.rename

    def crash(src, dst):
        if ".compact_tree" in src:
            raise OSError("crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="crash"):
        compact_partitioned_table(spark, target)
    monkeypatch.undo()
    assert _debris(target) == [".compact_tree"]
    assert partition_file_map(target) == files
    assert heal_target(spark, target)["swaps_healed"] == []
    assert _debris(target) == []
    assert partition_file_map(target) == files
    assert _contents(spark, target) == rows


def test_next_run_discards_premarker_temp_dirs(spark, tmp_path, monkeypatch):
    """A crash after the subtrees moved to their temp dirs but before
    the first marker: the table is unchanged, and the next compaction
    discards the temp dirs and compacts every partition."""
    from goe_spark.plans import compaction

    target = str(tmp_path / "t")
    _fragmented(spark, target)
    rows = _contents(spark, target)

    def crash(*_a, **_k):
        raise OSError("crash")

    monkeypatch.setattr(compaction, "atomic_write_json", crash)
    with pytest.raises(OSError, match="crash"):
        compact_partitioned_table(spark, target)
    monkeypatch.undo()
    assert _debris(target) == sorted(
        f".goe_part_key={p}._compact_tmp" for p in "abc"
    )
    assert all(len(_files(os.path.join(target, d))) == 6 for d in rows)
    rep = compact_partitioned_table(spark, target)
    assert rep.partitions_compacted == 3
    assert _debris(target) == []
    assert _contents(spark, target) == rows


def test_heal_completes_every_swap_after_a_crash_mid_way(
    spark, tmp_path, monkeypatch
):
    """Every marker is armed before the first swap: a crash after k of
    P swaps is completed by the heal for the other P - k, with the
    content unchanged."""
    from goe_spark.plans import compaction
    from goe_spark.plans.compaction import heal_interrupted_swaps

    target = str(tmp_path / "t")
    _fragmented(spark, target)
    rows = _contents(spark, target)
    real_swap, done = compaction._complete_swap, []

    def crash_after_one(*a):
        if done:
            raise OSError("crash")
        done.append(real_swap(*a))
        return done[-1]

    monkeypatch.setattr(compaction, "_complete_swap", crash_after_one)
    with pytest.raises(OSError, match="crash"):
        compact_partitioned_table(spark, target)
    monkeypatch.undo()
    assert heal_interrupted_swaps(target) == ["goe_part_key=b", "goe_part_key=c"]
    assert _debris(target) == []
    assert all(len(_files(os.path.join(target, d))) == 1 for d in rows)
    assert _contents(spark, target) == rows


def _named_key(layout):
    """The partition value of row ``id``: names Spark's partition-value
    parsing would not give back — zero-padded synthetic numbers or
    escaped strings — plus NULL (the Hive NULL dir), in four
    directories, and a fifth for ids from 1000 on."""
    from goe_spark.functions.synthetic import synthetic_number_expr

    b = F.expr(
        "CASE WHEN id >= 1000 THEN 400 WHEN id % 4 = 3 THEN NULL ELSE id % 4 * 100 END"
    )
    if layout == "padded":
        return synthetic_number_expr(b, 100, digits=5)
    names = {0: "a/b", 100: "x:y", 200: "c=d", 400: "e%f"}
    pairs = [F.lit(x) for kv in names.items() for x in kv]
    return F.element_at(F.create_map(*pairs), b)


def _named_layout(spark, target, layout):
    """Six files in each of the four partitions of ``_named_key``."""
    df = spark.range(400).selectExpr("id", "CAST(id AS DOUBLE) / 7 AS x")
    df = df.withColumn("goe_part_key", _named_key(layout))
    for _ in range(2):
        df.repartition(3).write.mode("append").partitionBy(
            "goe_part_key"
        ).parquet(target)


@pytest.mark.parametrize("layout", ["padded", "escaped"])
@pytest.mark.parametrize("verb", ["compact", "delete", "zorder", "merge"])
def test_rewrites_keep_directory_names(spark, tmp_path, layout, verb):
    """Compaction, delete, zorder and merge write every partition
    through one index-tagged temp tree, so each directory keeps its
    exact name; a partition merge adds gets the name Spark's own
    partition writer gives its value."""
    from types import SimpleNamespace

    from goe_spark.plans.compaction import partition_dirs
    from goe_spark.plans.merge_update import merge_rows
    from goe_spark.plans.targeted_delete import delete_rows
    from goe_spark.plans.zorder import zorder_partitioned_table

    target = str(tmp_path / "t")
    _named_layout(spark, target, layout)
    dirs, rows = partition_dirs(target), _contents(spark, target)
    null_dir = "goe_part_key=__HIVE_DEFAULT_PARTITION__"
    assert len(dirs) == 4 and null_dir in dirs
    if verb == "compact":
        assert compact_partitioned_table(spark, target).partitions_compacted == 4
    elif verb == "delete":
        doomed = [ids[0] for ids in rows.values()]
        rep = delete_rows(spark, target, "id", doomed)
        assert rep.partitions_affected == 4
        rows = {d: [i for i in ids if i not in doomed] for d, ids in rows.items()}
    elif verb == "merge":
        # Without the NULL directory the merge adds one of each kind:
        # NULL (id 3) and the fifth name (id 1000).
        shutil.rmtree(os.path.join(target, null_dir))
        del rows[null_dir]
        updates = spark.createDataFrame(
            [(ids[0], -1.0) for ids in rows.values()] + [(3, -1.0), (1000, -1.0)],
            "id long, x double",
        )
        spec = SimpleNamespace(expr=lambda: _named_key(layout))
        rep = merge_rows(spark, target, "id", updates, spec, "goe_part_key")
        assert rep.partitions_affected == rep.rows_updated == 3
        assert rep.rows_inserted == 2
        # Each id was written twice: one version replaces both.
        rows = {d: ids[:1] + [i for i in ids if i != ids[0]] for d, ids in rows.items()}
        new_dir = "goe_part_key=" + {"padded": "00400", "escaped": "e%25f"}[layout]
        rows.update({null_dir: [3], new_dir: [1000]})
        dirs = sorted(rows)
    else:
        rep = zorder_partitioned_table(spark, target, ["id", "x"], n_files=2)
        assert rep.partitions_rewritten == 4
    assert partition_dirs(target) == dirs
    assert _contents(spark, target) == rows
