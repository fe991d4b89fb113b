"""Job-budget guards for the write path: the partitioned final load
spreads a one-file staged input across the cores, and a partition
rewrite (compaction, targeted delete, partitioned zorder) costs one
write job plus driver-side footer reads. Counted from Spark's status
store under a job tag, so a later change (or an optimizer rule) that
brings back the extra scans fails here instead of going unnoticed."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

from pyspark.sql import functions as F

from goe_spark.plans.compaction import compact_partitioned_table
from goe_spark.plans.offload import (
    OffloadConfig,
    OffloadPipeline,
    PartitionSpec,
)
from goe_spark.plans.targeted_delete import delete_rows
from goe_spark.plans.zorder import (
    _mpath,
    build_manifest,
    zorder_partitioned_table,
)
from goe_spark.sinks.backend_writer import ParquetBackendWriter
from tests.conftest import SF_SMALL

ZCOLS = ["o_custkey", "o_totalprice"]


@contextlib.contextmanager
def tagged_jobs(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    tag = f"jobs-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.addJobTag(tag)
    try:
        yield ids
    finally:
        sc.removeJobTag(tag)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        ids.extend(jsc.statusTracker().getJobIdsForTag(tag))


def _part_dirs(target):
    return sorted(d for d in os.listdir(target) if d.startswith("goe_part_key="))


def test_partitioned_final_load_uses_every_core(spark, tmp_path):
    """A one-file source stages one file; the final write into ~80
    month partitions must still run defaultParallelism tasks (it ran
    one before the spread), writing one file per partition."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    write_tasks: list[int] = []

    class Tagged(ParquetBackendWriter):
        def load_final(self, df, *a, **kw):
            with tagged_jobs(spark) as ids:
                super().load_final(df, *a, **kw)
            for job_id in ids:
                stages = store.job(job_id).stageIds()
                for i in range(stages.size()):
                    st = store.lastStageAttempt(stages.apply(i))
                    if st.outputRecords() > 0:
                        write_tasks.append(st.numTasks())

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    assert len(src.inputFiles()) == 1
    target = str(tmp_path / "final")
    res = OffloadPipeline(
        spark,
        OffloadConfig(
            owner="tpch",
            table_name="orders",
            target_dir=target,
            staging_dir=str(tmp_path / "staging"),
            metadata_dir=str(tmp_path / "meta"),
            partition=PartitionSpec("o_orderdate", "date", "M"),
            backend_writer=Tagged(target),
        ),
    ).run(src)
    assert write_tasks == [sc.defaultParallelism]
    dirs = _part_dirs(target)
    # the verify read-back's grouping is the partition list
    assert [f"goe_part_key={p}" for p in res.partitions_written] == dirs
    for d in dirs:
        files = [
            f for f in os.listdir(os.path.join(target, d))
            if not f.startswith(("_", "."))
        ]
        assert len(files) == 1, (d, files)


def test_delete_rewrite_job_budget(spark, offloaded_orders):
    """Phase 1 of a delete (listing, schema inference, one aggregate
    for the matched keys and their files) is paid once; each rewritten
    partition then costs one write job. Before the footer-count
    rewrite a one-partition delete ran 14 jobs: two aggregates in
    phase 1, and schema inference plus a count on both the old and
    the new files of every partition (7 per partition)."""
    target, src, _ = offloaded_orders
    keys = [
        spark.read.parquet(os.path.join(target, d)).first()["o_orderkey"]
        for d in _part_dirs(target)[:3]
    ]
    with tagged_jobs(spark) as one:
        rep1 = delete_rows(spark, target, "o_orderkey", keys[:1])
    with tagged_jobs(spark) as two:
        rep2 = delete_rows(spark, target, "o_orderkey", keys[1:])
    assert (rep1.partitions_affected, rep2.partitions_affected) == (1, 2)
    assert rep1.rows_deleted + rep2.rows_deleted == 3
    assert len(one) <= 6, len(one)
    assert len(two) - len(one) <= 1, (len(one), len(two))
    assert spark.read.parquet(target).count() == src.count() - 3


def test_compaction_rewrite_job_budget(spark, offloaded_orders):
    """Compacting one fragmented partition is one write job; before,
    it was 7 (schema inference and an AQE count on the old files and
    again on the new ones, plus the write)."""
    target, src, _ = offloaded_orders
    full = os.path.join(target, _part_dirs(target)[0])
    part = spark.read.parquet(full)
    n = part.count()
    part.localCheckpoint().repartition(5).write.mode("append").parquet(full)
    with tagged_jobs(spark) as ids:
        rep = compact_partitioned_table(spark, target)
    assert rep.partitions_compacted == 1
    assert len(ids) <= 1, len(ids)
    assert spark.read.parquet(full).count() == 2 * n


def test_partitioned_zorder_job_budget_and_manifest(
    spark, offloaded_orders, tmp_path
):
    """Two partitions, zordered: at most 7 jobs each — the stats
    aggregate (2 under AQE), range sample and exchange (2), the write
    and the manifest aggregate (2). Before it was 17: schema inference
    and a count on the old and the new files, an inference for the
    temp manifest, and a second manifest pass after the swap. The
    manifest written after the swap, computed on the temp copy, must
    equal build_manifest recomputed on the swapped partition."""
    target, src, _ = offloaded_orders
    small = str(tmp_path / "two")
    for d in _part_dirs(target)[:2]:
        shutil.copytree(os.path.join(target, d), os.path.join(small, d))
    before = spark.read.parquet(small).count()
    with tagged_jobs(spark) as ids:
        rep = zorder_partitioned_table(spark, small, ZCOLS, n_files=2)
    assert rep.partitions_rewritten == 2
    assert len(ids) <= 2 * 7, len(ids)
    assert spark.read.parquet(small).count() == before
    for d in _part_dirs(small):
        full = os.path.join(small, d)
        with open(_mpath(full)) as fh:
            written = json.load(fh)
        data = {f for f in os.listdir(full) if not f.startswith(("_", "."))}
        assert set(written) == data
        assert written == build_manifest(spark, full, ZCOLS)
        for fname, bounds in written.items():
            lo, hi = spark.read.parquet(os.path.join(full, fname)).agg(
                F.min("o_custkey"), F.max("o_custkey")
            ).first()
            assert bounds["o_custkey"] == [float(lo), float(hi)]
