"""Targeted row deletion (right-to-be-forgotten / takedown) over an
offloaded parquet target — the lakehouse DELETE the reference
delegates to its warehouse backend.

Spark-first shape: deletion is two phases. Phase 1 finds the
partition DIRECTORIES that contain any doomed key — one aggregate
over a scan with the key set applied, collecting `input_file_name()`
of matching rows and counting the distinct matched keys, so the
affected set is exact file-system truth (no reconstruction of
directory names from partition values, which breaks on type-inferred
reads: lpad-padded numerics, Hive-escaped characters,
__HIVE_DEFAULT_PARTITION__). Phase 2 rewrites ONLY those directories
with the key anti-filter through compaction's rewrite_partitions (one
write job for all of them, footer row counts, marker-driven
crash-safe swaps), so untouched partitions stay byte-identical. At
100 TB a delete of k keys reads and writes O(affected partitions),
never a table rewrite, in a fixed number of Spark jobs.

Crash safety is compaction's: temp tree -> temp dirs -> every marker
-> swaps -> unmark, healed on the next run. A crash before the markers
leaves the table as it was, and re-running the delete redoes it; a
crash after them is completed by the heal.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.plans.compaction import (
    file_dir,
    footer_reader,
    heal_interrupted_swaps,
    rewrite_partitions,
)

FILE_COL = "_goe_src_file"


@dataclass
class DeleteReport:
    partitions_affected: int = 0
    partitions_healed: int = 0
    rows_deleted: int = 0
    # Distinct doomed keys actually present in the table — rows_deleted
    # can exceed this when a key has several physical row versions
    # (e.g. healing a crashed merge); merge accounting needs the
    # distinct-key truth.
    keys_matched: int = 0
    details: list = field(default_factory=list)  # (partition, deleted)


def delete_rows(
    spark: SparkSession,
    path: str,
    key_column: str,
    keys: list | DataFrame,
    partition_col: str = "goe_part_key",
    use_bloom: bool = False,
    maintain_indexes: list[str] | tuple[str, ...] = (),
) -> DeleteReport:
    """Delete every row whose ``key_column`` is in ``keys`` from the
    partitioned parquet table at ``path``.

    ``keys`` is a Python list (small takedown lists) or a DataFrame
    with a ``key_column`` column (large removal sets). A DataFrame
    keyset is checkpointed once: phase 1 and the phase-2 anti-join
    must see the SAME key set, and a non-deterministic keys plan
    (limit, sample) evaluated twice would delete an inconsistent set.

    ``use_bloom`` bounds the PHASE-1 scan with the per-partition
    Bloom manifests (plans/bloom_skip.py) when ``keys`` is a list:
    only files whose filter fires for at least one doomed key are
    read — at 100 TB that turns the find-affected-partitions pass
    from a table scan into a handful of file reads. No-false-negative
    is the manifest's contract, so the result set is identical;
    unindexed partitions simply scan (correct, just unpruned).
    Rewritten partitions get their manifest dropped in the same pass
    (stale claims die with the files they described).

    ``maintain_indexes`` lists materialized-index directories
    (minhash / segment / IVF, operators/index_maintenance) keyed by
    the SAME key domain as ``key_column``; each gets the doomed keys
    tombstoned and its meta re-fingerprinted IN-PASS — O(deleted)
    maintenance, mirroring the bloom-manifest drop — so the next
    ensure_* neither serves deleted rows nor full-rebuilds an index
    this pass already fixed."""
    report = DeleteReport()
    report.partitions_healed = len(heal_interrupted_swaps(path))

    sources = [path]
    if use_bloom and not isinstance(keys, DataFrame):
        from goe_spark.plans.bloom_skip import prune_partitioned_bloom_in

        sources, _total = prune_partitioned_bloom_in(
            path, key_column, list(keys)
        )
        if not sources:
            return report  # no file can hold any doomed key
    table = (
        footer_reader(spark, sources[0])
        .option("basePath", path)
        .parquet(*sources)
    )
    if partition_col not in table.columns:
        raise ValueError(
            f"{path} is not partitioned by {partition_col!r}; targeted "
            "delete needs the partition layout to bound the rewrite"
        )
    # The provenance column is projected AT SCAN TIME: input_file_name()
    # is task-local and reads '' when first referenced above a join.
    table = table.withColumn(FILE_COL, F.input_file_name())

    if isinstance(keys, DataFrame):
        keys = (
            keys.select(F.col(key_column))
            .distinct()
            .localCheckpoint(eager=True)
        )
        matches = table.join(keys, key_column, "left_semi")

        def anti(df):
            return df.join(keys, key_column, "left_anti")

    else:
        key_list = list(keys)
        matches = table.where(F.col(key_column).isin(key_list))

        def anti(df):
            # NULL-key rows are never doomed: bare ~isin is NULL for
            # them (three-valued logic) and where() would silently
            # drop innocent rows from every rewritten partition — the
            # left_anti path keeps them, so this path must too.
            return df.where(
                ~F.col(key_column).isin(key_list)
                | F.col(key_column).isNull()
            )

    # One aggregate: the distinct doomed keys present (matches hold no
    # NULL key) and the files holding them.
    report.keys_matched, files = matches.agg(
        F.countDistinct(key_column), F.collect_set(FILE_COL)
    ).first()
    if not all(files):  # pragma: no cover - defensive
        raise RuntimeError("input_file_name lost provenance above a join")
    dirs = sorted({file_dir(f) for f in files})
    for d in dirs:
        if not d.startswith(f"{partition_col}="):
            # A matching file NOT under a partition dir means the
            # layout assumption is wrong — refuse rather than skip.
            raise ValueError(f"matched file outside the partition layout: {d!r}")
    # One write for all affected partitions; the swaps drop stale manifests.
    for d, before, after, _ in rewrite_partitions(
        spark,
        path,
        dirs,
        lambda df, _olds: anti(df),
        deleting=True,
    ):
        report.partitions_affected += 1
        report.rows_deleted += before - after
        report.details.append((d, before - after))
    if maintain_indexes:
        from goe_spark.operators.index_maintenance import evict_keys

        # Evict AFTER the corpus rewrite so the bumped fingerprint
        # sees the post-delete source state. All requested keys are
        # tombstoned (not just matched ones): a key absent from the
        # corpus is also absent from its indexes, so the extra
        # tombstone is a no-op, and eviction stays a pure function of
        # the takedown list.
        for idx_dir in maintain_indexes:
            evict_keys(spark, idx_dir, keys, key_column)
    return report
