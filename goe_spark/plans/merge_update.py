"""Keyed merge (upsert) into an offloaded parquet target — the
reference product line's "Incremental Update" capability (changed-row
sync from the frontend after the bulk offload), rebuilt as
stage-then-delete-then-append.

Semantics: each update row REPLACES the existing row with its key
(wherever it lives — a changed partition-source value moves the row);
keys with no existing row insert. ``updates`` must be unique per key
(a CDC batch with several events per key must be collapsed to the
latest first — enforced, because silently writing every version would
corrupt the keyed table).

Spark-first shape, with a durable write-ahead:
- Phase 0 STAGES the update set to a dot-prefixed directory inside
  the target (invisible to readers) and writes a pending-merge
  marker. From this point the new row versions exist on disk, so no
  later crash can lose data that exists nowhere durable.
- Phase A deletes the existing versions of the updated keys via
  plans/targeted_delete — partition-bounded rewrites behind the
  marker-driven crash-safe swap, affected directories taken from
  (URL-decoded) input_file_name.
- Phase B appends the STAGED rows with
  ``write.partitionBy(partition_col)`` — Spark itself lays out the
  directories (padding, Hive escaping, __HIVE_DEFAULT_PARTITION__ for
  a NULL partition value), so a moved row lands correctly and a brand
  new partition needs no special case. The marker and staging dir are
  removed last.

Crash contract: every merge (and heal_pending_merge) begins by
completing any crashed merge found on disk — phase A re-deletes the
staged keys (removing partial phase-B appends too), phase B
re-appends from the durable staging copy. Idempotent at every crash
point. Merge cost is O(affected partitions) + one partitioned append
— never a table rewrite — and untouched partitions stay
byte-identical.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.plans.metadata import atomic_write_json
from goe_spark.plans.offload import SYNTHETIC_COL, PartitionSpec
from goe_spark.plans.targeted_delete import delete_rows

MERGE_STAGING_DIR = ".merge_staging"
MERGE_MARKER = ".merge_pending.json"


@dataclass
class MergeReport:
    partitions_affected: int = 0  # rewritten by the delete phase
    partitions_healed: int = 0
    merges_healed: int = 0  # crashed merges completed first
    rows_updated: int = 0
    rows_inserted: int = 0
    details: list = field(default_factory=list)  # (partition, old versions)


def _run_pending(spark: SparkSession, path: str) -> None:
    """Complete the staged merge recorded by the marker: delete the
    staged keys (covers old versions AND partial phase-B appends),
    append the staged rows, clean up. Idempotent."""
    marker_path = os.path.join(path, MERGE_MARKER)
    with open(marker_path) as fh:
        import json

        marker = json.load(fh)
    staged = spark.read.parquet(os.path.join(path, MERGE_STAGING_DIR))
    key_column = marker["key_column"]
    partition_col = marker["partition_col"]
    delete_rows(
        spark,
        path,
        key_column,
        staged.select(key_column),
        partition_col=partition_col,
    )
    staged.write.mode("append").partitionBy(partition_col).parquet(path)
    os.remove(marker_path)
    shutil.rmtree(os.path.join(path, MERGE_STAGING_DIR))


def heal_pending_merge(spark: SparkSession, path: str) -> bool:
    """Complete a crashed merge if one is pending; True if healed."""
    if not os.path.exists(os.path.join(path, MERGE_MARKER)):
        return False
    _run_pending(spark, path)
    return True


def merge_rows(
    spark: SparkSession,
    path: str,
    key_column: str,
    updates: DataFrame,
    partition: PartitionSpec,
    partition_col: str = SYNTHETIC_COL,
    maintain_indexes: list | None = None,
) -> MergeReport:
    """Upsert ``updates`` (frontend-shaped rows, no synthetic column)
    into the partitioned parquet table at ``path``.

    ``maintain_indexes``: managed index dirs (minhash / segment / IVF)
    to maintain IN-PASS with O(changed) work — each changed key is
    tombstoned and its recomputed row lands in the index's overrides
    store (operators/index_maintenance.upsert_for_index), the upsert
    twin of delete_rows' eviction. Runs AFTER the corpus rewrite so
    the bumped fingerprint reflects the post-merge source; a crash
    between the rewrite and the index hook leaves a STALE fingerprint,
    so the next ensure_* full-rebuilds — slower, never wrong."""
    report = MergeReport()
    if heal_pending_merge(spark, path):
        report.merges_healed = 1

    table = spark.read.option("basePath", path).parquet(path)
    if partition_col not in table.columns:
        raise ValueError(
            f"{path} is not partitioned by {partition_col!r}; merge "
            "needs the partition layout to bound the rewrite"
        )
    data_cols = [c for c in table.columns if c != partition_col]
    missing = [c for c in data_cols if c not in updates.columns]
    if missing:
        raise ValueError(f"updates are missing table columns: {missing}")

    # Phase 0: stage durably (write-ahead), then arm the marker. The
    # staging write is also what freezes a non-deterministic updates
    # plan — every later phase reads this one copy.
    staging = os.path.join(path, MERGE_STAGING_DIR)
    if os.path.exists(staging):
        shutil.rmtree(staging)
    staged = updates.select(*data_cols).withColumn(
        partition_col, partition.expr()
    )
    staged.write.mode("overwrite").parquet(staging)
    upd = spark.read.schema(staged.schema).parquet(staging)
    # One aggregate validates the batch; NULL keys count as one key,
    # as distinct() counts them.
    key = F.col(key_column)
    v = upd.agg(
        F.count(F.lit(1)), F.countDistinct(key), F.count_if(key.isNull())
    ).first()
    n_rows, n_keys, n_null = v[0], v[1] + (v[2] > 0), v[2]
    if n_rows != n_keys:
        shutil.rmtree(staging)
        raise ValueError(
            f"updates must be unique per {key_column}: {n_rows} rows "
            f"but {n_keys} distinct keys — collapse the CDC batch to "
            "the latest version per key first"
        )
    # A NULL key can never be matched by the delete phase (semi/anti
    # joins skip NULLs), so 'replace the existing row' degrades to
    # append-another-copy on every merge and heal replay — reject it
    # instead of silently breaking the upsert and idempotence
    # contracts.
    if n_null:
        shutil.rmtree(staging)
        raise ValueError(
            f"updates contain a NULL {key_column}; a keyed merge "
            "cannot replace a NULL-keyed row — filter or key them "
            "first"
        )
    atomic_write_json(
        os.path.join(path, MERGE_MARKER),
        {"key_column": key_column, "partition_col": partition_col},
    )

    # Phase A: remove existing versions; phase B: append staged rows.
    del_rep = delete_rows(
        spark,
        path,
        key_column,
        upd.select(key_column),
        partition_col=partition_col,
    )
    upd.write.mode("append").partitionBy(partition_col).parquet(path)
    os.remove(os.path.join(path, MERGE_MARKER))

    if maintain_indexes:
        from goe_spark.operators.index_maintenance import upsert_for_index

        # the staged copy IS the frozen new-row versions: checkpoint
        # it (O(changed)), DROP the staging dir, THEN upsert — the
        # eviction re-fingerprints the table dir, so staging (which
        # lives inside it) must be gone first or the recorded
        # fingerprint never matches the post-merge table and the next
        # ensure_* would full-rebuild away the side stores
        new_rows = upd.drop(partition_col).localCheckpoint(eager=True)
        shutil.rmtree(staging)
        for idx_dir in maintain_indexes:
            upsert_for_index(spark, idx_dir, new_rows)
    else:
        shutil.rmtree(staging)

    report.partitions_affected = del_rep.partitions_affected
    report.partitions_healed = del_rep.partitions_healed
    report.rows_updated = del_rep.keys_matched
    report.rows_inserted = n_rows - del_rep.keys_matched
    report.details = del_rep.details
    return report
