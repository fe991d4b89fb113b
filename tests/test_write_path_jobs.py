"""Job-budget guards for the write path: the partitioned final load
spreads a one-file input across the cores, an offload of a local
parquet target verifies from footers, a partition rewrite
(compaction, targeted delete, partitioned zorder) costs one write job
plus driver-side footer reads, read-backs of files the offload wrote
infer no schema, and listing runs at most one task per core. Counted from Spark's status
store under a job tag, so a later change (or an optimizer rule) that
brings back the extra scans fails here instead of going unnoticed."""

from __future__ import annotations

import json
import os
import shutil
from types import SimpleNamespace

from pyspark.sql import functions as F

from goe_spark.plans.compaction import compact_partitioned_table
from goe_spark.plans.merge_update import merge_rows
from goe_spark.plans.offload import (
    OffloadConfig,
    OffloadPipeline,
    PartitionSpec,
)
from goe_spark.plans.steps import step_tag
from goe_spark.plans.targeted_delete import delete_rows
from goe_spark.plans.zorder import (
    _mpath,
    build_manifest,
    zorder_partitioned_table,
)
from goe_spark.sinks.backend_writer import ParquetBackendWriter
from tests.conftest import SF_SMALL, listing, stage_tasks, tagged_jobs

ZCOLS = ["o_custkey", "o_totalprice"]


def _part_dirs(target):
    return sorted(d for d in os.listdir(target) if d.startswith("goe_part_key="))


def test_partitioned_final_load_uses_every_core(spark, tmp_path):
    """A one-file source stages one file; the final write into ~80
    month partitions must still run defaultParallelism tasks (it ran
    one before the spread), writing one file per partition."""
    sc = spark.sparkContext
    write_tasks: list[int] = []

    class Tagged(ParquetBackendWriter):
        def load_final(self, df, *a, **kw):
            with tagged_jobs(spark) as ids:
                super().load_final(df, *a, **kw)
            for job_id in ids:
                write_tasks.extend(stage_tasks(spark, job_id, writes_only=True))

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


def test_merge_rewrite_job_budget(spark, offloaded_orders):
    """A merge stages its batch (one write), counts it on the driver,
    finds the directories holding its keys with delete's one aggregate
    and writes every directory it changes in one write: at most 10 jobs
    besides Spark's listing jobs (6 today). Deleting the old versions
    through a delete and then appending the batch with a separate
    partitioned write ran 13."""
    target, src, spec = offloaded_orders
    old = src.orderBy("o_orderkey").limit(3).collect()
    new_key = src.agg(F.max("o_orderkey")).first()[0] + 1
    updates = spark.createDataFrame(
        [r.asDict() | {"o_totalprice": -1.0} for r in old]
        + [old[0].asDict() | {"o_orderkey": new_key}],
        src.schema,
    )
    with tagged_jobs(spark) as ids:
        rep = merge_rows(spark, target, "o_orderkey", updates, spec)
    assert (rep.rows_updated, rep.rows_inserted) == (3, 1)
    work = [j for j in ids if not listing(spark, j)]
    assert len(work) <= 10, len(work)
    assert spark.read.parquet(target).count() == src.count() + 1


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
    """Two partitions, zordered: at most 3 jobs each — the range
    sample, and the exchange and write. The min/max behind the linear
    ranks come from the old files' footers and the manifest from the
    written files' footers; before, those were two more aggregates of
    2 jobs each under AQE (7 per partition), and 17 before the footer
    row counts. The manifest written after the swap, computed on the
    temp copy, must equal build_manifest recomputed on the swapped
    partition."""
    target, src, _ = offloaded_orders
    small = str(tmp_path / "two")
    for d in _part_dirs(target)[:2]:
        shutil.copytree(os.path.join(target, d), os.path.join(small, d))
    before = spark.read.parquet(small).count()
    with tagged_jobs(spark) as ids:
        rep = zorder_partitioned_table(spark, small, ZCOLS, n_files=2)
    assert rep.partitions_rewritten == 2
    assert len(ids) <= 2 * 3, len(ids)
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


def test_incremental_offload_reads_back_with_known_schema(spark, tmp_path):
    """An HWM append of a local parquet target reads the source once:
    2 jobs, the hash exchange and the write the validation rides. It
    stages nothing and counts its slice from footers, so nothing is
    read back. Staged, with both read-backs carrying the schema of the
    frame written, it ran 7 jobs; inferring both schemas ran 9."""
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    target = str(tmp_path / "final")

    def offload(hwm):
        return OffloadPipeline(
            spark,
            OffloadConfig(
                owner="tpch",
                table_name="orders",
                target_dir=target,
                staging_dir=str(tmp_path / "staging"),
                metadata_dir=str(tmp_path / "meta"),
                partition=PartitionSpec("o_orderdate", "date", "M"),
                hwm=hwm,
            ),
        ).run(src)

    offload("1995-06")
    with tagged_jobs(spark) as ids:
        res = offload("1995-12")
    assert res.partitions_written == [f"1995-{m:02d}" for m in range(7, 13)]
    assert res.rows_final == res.rows_staged > 0
    assert len(ids) <= 2, len(ids)


def test_full_and_range_offloads_verify_from_footers(spark, tmp_path):
    """A FULL and a RANGE offload of a local parquet target count their
    slice from the footers of the partition directories it selects:
    no Spark job runs under VERIFY_EXPORTED_DATA. A grouped read-back
    count ran 2 (and a listing job past 32 partitions)."""
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def verify_jobs(name, **kw):
        with tagged_jobs(spark) as ids:
            res = OffloadPipeline(
                spark,
                OffloadConfig(
                    owner="tpch",
                    table_name="orders",
                    target_dir=str(tmp_path / name),
                    staging_dir=str(tmp_path / "staging"),
                    metadata_dir=str(tmp_path / f"{name}_meta"),
                    partition=PartitionSpec("o_orderdate", "date", "M"),
                    **kw,
                ),
            ).run(src)
        assert res.rows_final == res.rows_staged > 0
        verify = tracker.getJobIdsForTag(step_tag("VERIFY_EXPORTED_DATA"))
        return set(ids) & set(verify)

    assert verify_jobs("full") == set()
    assert verify_jobs("range", hwm="1995-06") == set()
    assert verify_jobs("range", hwm="1995-12") == set()


def test_partition_listing_runs_one_task_per_core(spark, offloaded_orders):
    """Listing a target past the parallel-discovery threshold (32
    paths) runs at most one task per core; by default it ran one task
    per partition directory (~80 here)."""
    target, _, _ = offloaded_orders
    assert len(_part_dirs(target)) > 32
    sc = spark.sparkContext
    with tagged_jobs(spark) as ids:
        assert "goe_part_key" in spark.read.parquet(target).columns
    tasks = [n for job_id in ids for n in stage_tasks(spark, job_id)]
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks


def test_offload_steps_tag_their_jobs(spark, tmp_path):
    """While an offload step runs its jobs carry the step's job tag. A
    tag is additive, so the caller's own tag still sees every job."""
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    with tagged_jobs(spark) as ids:
        res = OffloadPipeline(
            spark,
            OffloadConfig(
                owner="tpch",
                table_name="orders",
                target_dir=str(tmp_path / "final"),
                staging_dir=str(tmp_path / "staging"),
                metadata_dir=str(tmp_path / "meta"),
            ),
        ).run(src)
    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def tagged(step):
        # The tag names the step, not the run: keep this run's jobs.
        return {j for j in tracker.getJobIdsForTag(step_tag(step)) if j >= min(ids)}

    final_load = tagged("FINAL_LOAD")
    assert final_load
    assert final_load <= set().union(*map(tagged, res.steps)) == set(ids)


def _fragmented(spark, root, n_parts):
    """``n_parts`` partitions of 50 rows, five files each."""
    spark.range(50 * n_parts).selectExpr(
        "id",
        "id * 7 % 101 AS k",
        "CAST(id AS DOUBLE) / 3 AS x",
        f"id % {n_parts} AS goe_part_key",
    ).repartition(5).write.partitionBy("goe_part_key").parquet(root)


def test_maintenance_jobs_do_not_grow_with_partitions(spark, tmp_path):
    """Bloom, compaction, a delete of one key in every partition,
    zorder and a merge of one key in every partition plus one new
    partition each run one plan for all the partitions they touch: at 40
    partitions they run at most the jobs they run at 4, not counting
    the parallel listing job Spark runs for each read of more than 32
    paths. One pipeline per partition ran 2 jobs per partition for
    bloom, 1 for compaction and delete, and 3 for zorder. Compaction
    runs one task per partition."""
    from goe_spark.plans.bloom_skip import build_bloom_manifest_partitioned

    def jobs(n_parts):
        root = str(tmp_path / f"p{n_parts}")
        _fragmented(spark, root, n_parts)
        counts = {}
        with tagged_jobs(spark) as ids:
            assert build_bloom_manifest_partitioned(spark, root, ["k", "x"]) == n_parts
        counts["bloom"] = ids
        with tagged_jobs(spark) as ids:
            rep = compact_partitioned_table(spark, root)
        assert rep.partitions_compacted == rep.files_after == n_parts
        assert [stage_tasks(spark, j) for j in ids] == [[n_parts]]
        counts["compact"] = ids
        with tagged_jobs(spark) as ids:
            rep = delete_rows(spark, root, "id", list(range(n_parts)))
        assert rep.partitions_affected == rep.rows_deleted == n_parts
        counts["delete"] = ids
        with tagged_jobs(spark) as ids:
            rep = zorder_partitioned_table(spark, root, ["k", "x"], n_files=2)
        assert rep.partitions_rewritten == n_parts
        counts["zorder"] = ids
        assert spark.read.parquet(root).count() == 49 * n_parts
        # One key updated in every partition, one row into a new one.
        updates = spark.range(n_parts, 2 * n_parts + 1).selectExpr(
            f"IF(id < 2 * {n_parts}, id, 50 * {n_parts}) AS id",
            "0L AS k",
            "-1.0D AS x",
        )
        spec = SimpleNamespace(
            expr=lambda: F.expr(f"IF(id < 50 * {n_parts}, id % {n_parts}, {n_parts})")
        )
        with tagged_jobs(spark) as ids:
            rep = merge_rows(spark, root, "id", updates, spec, "goe_part_key")
        assert rep.partitions_affected == rep.rows_updated == n_parts
        assert rep.rows_inserted == 1
        counts["merge"] = ids
        assert spark.read.parquet(root).count() == 49 * n_parts + 1
        return counts

    def work(ids):
        return len([j for j in ids if not listing(spark, j)])

    few, many = jobs(4), jobs(40)
    for verb in few:
        assert work(many[verb]) <= work(few[verb]), (verb, few, many)
