"""One crash-safe swap: every user of compaction's marker swap (a
partition rewrite, flat zorder, SCD2 apply, the streaming fold, an
offload's full replace of a local parquet target) dies at each point
of the swap, and one heal leaves exactly the old table or exactly the
new one, with nothing left behind."""

from __future__ import annotations

import datetime
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import CRASH_POINTS, crash_swap


def _partitioned(spark, t):
    df = spark.range(300).selectExpr(
        "id", "element_at(array('a', 'b', 'c'), CAST(id % 3 AS INT) + 1) AS goe_part_key"
    )
    for _ in range(2):
        df.repartition(3).write.mode("append").partitionBy("goe_part_key").parquet(t)


def _delete(spark, t):
    from goe_spark.plans.targeted_delete import delete_rows

    delete_rows(spark, t, "id", [0, 1, 2, 5])


def _flat(spark, t):
    spark.range(400).selectExpr("id", "id % 17 AS x", "id % 23 AS y").repartition(
        4
    ).write.parquet(t)


def _zorder(spark, t):
    from goe_spark.plans.zorder import zorder_flat_table

    zorder_flat_table(spark.read.parquet(t), t, ["x", "y"], n_files=2)


def _dim(spark, t):
    from goe_spark.plans.scd2 import scd2_init

    rows = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "gold")], "cust_id long, tier string"
    )
    scd2_init(spark, t, rows, datetime.date(2024, 1, 1))


def _apply(spark, t):
    from goe_spark.plans.scd2 import scd2_apply

    changes = spark.createDataFrame(
        [(1, "platinum"), (4, "bronze")], "cust_id long, tier string"
    )
    scd2_apply(spark, t, changes, "cust_id", ["tier"], datetime.date(2024, 6, 1))


def _batches(spark, t, ids):
    for i in ids:
        spark.range(i * 50, i * 50 + 50).selectExpr(
            "id", "CAST(id % 2 AS STRING) AS goe_part_key"
        ).write.partitionBy("goe_part_key").parquet(os.path.join(t, f"batch-{i:06d}"))


def _streamed(spark, t):
    """An existing ``base/`` plus two batch roots: the fold removes
    ``base/`` and brings a new one in."""
    from goe_spark.streaming.ingest import fold_streamed_batches

    _batches(spark, t, [0, 1])
    fold_streamed_batches(spark, t, keep_last=1)
    _batches(spark, t, [2])


def _fold(spark, t):
    from goe_spark.streaming.ingest import fold_streamed_batches

    fold_streamed_batches(spark, t, keep_last=1)


def _read_streamed(spark, t):
    from goe_spark.streaming.ingest import read_streamed_table

    return read_streamed_table(spark, t)


def _offload(spark, t, n, k="id % 4", **kw):
    """An offload of ``n`` rows into ``t``, partitioned on ``k`` (full
    unless ``kw`` names a slice)."""
    from goe_spark.plans.offload import OffloadConfig, OffloadPipeline, PartitionSpec

    cfg = OffloadConfig(
        owner="o",
        table_name="t",
        target_dir=t,
        staging_dir=f"{t}.staging",
        metadata_dir=f"{t}.md",
        partition=PartitionSpec("k", "number", 1),
        **kw,
    )
    return OffloadPipeline(spark, cfg).run(spark.range(n).selectExpr("id", f"{k} AS k"))


USERS = {  # name: (build the table, run the swap, read the table)
    "partition_rewrite": (_partitioned, _delete, lambda s, t: s.read.parquet(t)),
    "flat_zorder": (_flat, _zorder, lambda s, t: s.read.parquet(t)),
    "scd2_apply": (_dim, _apply, lambda s, t: s.read.parquet(t)),
    "fold": (_streamed, _fold, _read_streamed),
    "offload_full_replace": (
        lambda s, t: _offload(s, t, 300),
        lambda s, t: _offload(s, t, 500),
        lambda s, t: s.read.parquet(t),
    ),
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _debris(*dirs):
    """Staged copies, markers, temp trees and set-aside directories."""
    return [
        n
        for d in dirs
        for n in os.listdir(d)
        if n.endswith("._compact_tmp")
        or n.startswith((".compact_swap.", ".compact_tree"))
        or n == "._replaced"
    ]


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("user", USERS)
def test_crash_matrix_heals_to_old_or_new(spark, tmp_path, user, point):
    """A crash before the marker leaves the old table; any later one
    is completed to the new table. One heal gets there and leaves no
    staged copy or marker; a second heal reports nothing."""
    from goe_spark.plans.heal import heal_target

    build, swap, read = USERS[user]
    ref, t = str(tmp_path / "ref"), str(tmp_path / "t")
    build(spark, ref)
    shutil.copytree(ref, t)
    old = _rows(read(spark, ref))
    swap(spark, ref)
    new = _rows(read(spark, ref))
    assert new != old or user in ("flat_zorder", "fold")  # layout-only swaps

    with crash_swap(point):
        swap(spark, t)
    healed = heal_target(spark, t)
    assert bool(healed["swaps_healed"]) == (point != "staged")
    assert _rows(read(spark, t)) == (old if point == "staged" else new)
    assert _debris(str(tmp_path), t) == []
    assert heal_target(spark, t) == {"swaps_healed": [], "merge_healed": False}


@pytest.mark.parametrize("point", ["armed", "moved"])
def test_next_offload_completes_an_interrupted_full_replace(spark, tmp_path, point):
    """A full replace that died after its marker (the old table moved
    aside, at "moved") is completed when the next offload of the
    target begins, before a LIST append lands: the append goes into
    the new table, and no staged copy or marker is left."""
    t = str(tmp_path / "t")
    _offload(spark, t, 300)
    with crash_swap(point):
        _offload(spark, t, 500)
    res = _offload(
        spark,
        t,
        500,
        k="10 + id % 5",
        list_partition_column="k",
        list_partition_values=[10],
    )
    assert (res.partitions_written, res.rows_final) == ([10], 100)
    assert spark.read.parquet(t).count() == 600
    assert _debris(str(tmp_path), t) == []


@pytest.mark.parametrize("point", ["staged", "armed"])
def test_healing_one_table_leaves_its_neighbour_alone(spark, tmp_path, point):
    """Two flat tables share a parent, where their staged copies and
    markers live: healing one never touches the other's, and each then
    heals on its own."""
    from goe_spark.plans.compaction import swap_pending, swap_tmp
    from goe_spark.plans.heal import heal_target

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _flat(spark, a)
    _flat(spark, b)
    with crash_swap(point):
        _zorder(spark, a)
    pending = swap_pending(a)
    assert os.path.isdir(swap_tmp(a)) and pending == (point == "armed")

    assert heal_target(spark, b)["swaps_healed"] == []
    assert os.path.isdir(swap_tmp(a)) and swap_pending(a) == pending

    assert heal_target(spark, a)["swaps_healed"] == (["."] if pending else [])
    assert _debris(str(tmp_path), a, b) == []
    assert spark.read.parquet(a).count() == spark.read.parquet(b).count() == 400


@pytest.mark.parametrize("point", ["armed", "moved"])
def test_cli_heal_finishes_interrupted_scd2_apply(spark, tmp_path, capsys, point):
    """`cli heal` completes an SCD2 apply that died after its marker was
    written — before the swap, or with the old dimension moved aside
    and no table at its path — and the new versions read back."""
    from goe_spark.cli import main
    from goe_spark.plans.scd2 import IS_CURRENT

    dim = str(tmp_path / "dim")
    _dim(spark, dim)
    with crash_swap(point):
        _apply(spark, dim)
    assert main(["heal", "--target-dir", dim]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res == {"swaps_healed": ["."], "merge_healed": False}
    current = {
        r.cust_id: r.tier
        for r in spark.read.parquet(dim).where(F.col(IS_CURRENT)).collect()
    }
    assert current == {1: "platinum", 2: "silver", 3: "gold", 4: "bronze"}
    assert spark.read.parquet(dim).count() == 5
