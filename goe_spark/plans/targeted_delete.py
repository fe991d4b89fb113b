"""Targeted row deletion (right-to-be-forgotten / takedown) over an
offloaded parquet target — the lakehouse DELETE the reference
delegates to its warehouse backend.

Spark-first shape: deletion is two phases. Phase 1 finds the
partition DIRECTORIES that contain any doomed key — one aggregate
over a scan with the key set applied, collecting `input_file_name()`
of matching rows and counting the distinct matched keys, so
the affected set is exact file-system truth (no reconstruction of
directory names from partition values, which breaks on type-inferred
reads: lpad-padded numerics, Hive-escaped characters,
__HIVE_DEFAULT_PARTITION__). Phase 2 rewrites ONLY those directories
with the key anti-filter through compaction's rewrite_partition (one
write job, footer row counts, marker-driven crash-safe swap), so
untouched partitions stay byte-identical. At
100 TB a delete of k keys costs O(affected partitions), never a table
rewrite.

Crash safety is compaction's: temp dir -> marker -> swap -> unmark,
healed on the next run. A crash between phase-2 partitions resumes by
re-running the delete (already-rewritten partitions simply match no
keys on the second pass).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.plans.compaction import heal_interrupted_swaps, rewrite_partition

HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


FILE_COL = "_goe_src_file"


def affected_partition_dirs(files: list[str]) -> list[str]:
    """Distinct immediate parent directory NAMES of ``files``, the
    collected FILE_COL values of the matching rows — exact (from
    input_file_name), driver-bounded by affected-partition file
    counts. The matches must carry FILE_COL projected AT SCAN TIME:
    input_file_name() is task-local and evaluates to '' when first
    referenced above a shuffle join.

    input_file_name returns a URI, so each segment is URL-encoded ON
    TOP of whatever Hive escaping the on-disk name carries (dir
    'goe_part_key=a%2Fb' arrives as '...a%252Fb/...', a literal space
    as '%20') — one unquote restores the on-disk spelling."""
    from urllib.parse import unquote

    if any(not f for f in files):  # pragma: no cover - defensive
        raise RuntimeError(
            "input_file_name lost provenance — FILE_COL must be "
            "projected before any join"
        )
    return sorted({unquote(f.rstrip("/").rsplit("/", 2)[-2]) for f in files})


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
    keyset is checkpointed once: phase 1 and every per-partition
    anti-join must see the SAME key set, and a non-deterministic keys
    plan (limit, sample) re-evaluated per partition would delete an
    inconsistent set.

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

    if use_bloom and not isinstance(keys, DataFrame):
        from goe_spark.plans.bloom_skip import prune_partitioned_bloom_in

        files, _total = prune_partitioned_bloom_in(
            path, key_column, list(keys)
        )
        if not files:
            return report  # no file can hold any doomed key
        table = spark.read.option("basePath", path).parquet(*files)
    else:
        table = spark.read.option("basePath", path).parquet(path)
    if partition_col not in table.columns:
        raise ValueError(
            f"{path} is not partitioned by {partition_col!r}; targeted "
            "delete needs the partition layout to bound the rewrite"
        )

    # Project the provenance column AT SCAN TIME (see
    # affected_partition_dirs) before any join can shuffle it away.
    table_f = table.withColumn(FILE_COL, F.input_file_name())

    if isinstance(keys, DataFrame):
        keys = (
            keys.select(F.col(key_column))
            .distinct()
            .localCheckpoint(eager=True)
        )
        matches = table_f.join(keys, key_column, "left_semi")

        def anti(df):
            return df.join(keys, key_column, "left_anti")

    else:
        key_list = list(keys)
        matches = table_f.where(F.col(key_column).isin(key_list))

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
    for d in affected_partition_dirs(files):
        if d != HIVE_NULL_DIR and not d.startswith(f"{partition_col}="):
            # A matching file NOT under a partition dir means the
            # layout assumption is wrong — refuse rather than skip.
            raise ValueError(
                f"matched file outside the partition layout: {d!r}"
            )
        # The swap drops the partition's stale manifests.
        rw = rewrite_partition(
            spark,
            path,
            d,
            lambda df, tmp: anti(df).write.mode("overwrite").parquet(tmp),
            deleting=True,
        )
        if rw is None:
            continue
        deleted = rw[0] - rw[1]
        report.partitions_affected += 1
        report.rows_deleted += deleted
        report.details.append((d, deleted))
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
