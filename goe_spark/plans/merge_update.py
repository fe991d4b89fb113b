"""Keyed merge (upsert) into an offloaded parquet target — the
reference product line's "Incremental Update" capability (changed-row
sync from the frontend after the bulk offload), rebuilt as one keyed
rewrite.

Semantics: each update row REPLACES the existing row with its key
(wherever it lives — a changed partition-source value moves the row);
keys with no existing row insert. ``updates`` must be unique per key
(collapse a CDC batch to the latest event per key first — enforced:
writing every version would corrupt the keyed table).

Shape: the batch is STAGED in the table's column types to a
dot-prefixed directory inside the target and validated (its keys and
partition values counted on the driver), and a pending-merge marker is
armed (the write-ahead: from then on no crash
loses the new versions). Then ONE keyed rewrite
(targeted_delete.keyed_rewrite): each directory holding a staged key
gets its old rows minus those keys plus its staged rows, and every
other directory the batch names, new ones included, only gains its
staged rows. A staged row goes to the directory Spark's own partition
writer names for its value (padding, Hive escaping,
__HIVE_DEFAULT_PARTITION__ for NULL). Cost: O(partitions holding
updated keys) plus O(batch) for insert-only ones; untouched partitions
stay byte-identical. heal_pending_merge, which every merge runs first,
reruns the same rewrite from the staging copy: it replaces every
version of a staged key wherever it lives, so any crash point heals to
the same table.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.plans.compaction import DIR, footer_reader, heal_interrupted_swaps
from goe_spark.plans.metadata import atomic_write_json
from goe_spark.plans.offload import SYNTHETIC_COL, PartitionSpec
from goe_spark.plans.targeted_delete import keyed_rewrite, read_partitioned

MERGE_STAGING_DIR = ".merge_staging"
MERGE_MARKER = ".merge_pending.json"


@dataclass
class MergeReport:
    partitions_affected: int = 0  # holding an old version of a staged key
    partitions_healed: int = 0
    merges_healed: int = 0  # crashed merges completed first
    rows_updated: int = 0
    rows_inserted: int = 0
    details: list = field(default_factory=list)  # (partition, old versions)


def _merge_staged(spark, path, table, key_column, partition_col):
    """Validate the staged batch, arm the marker and run the keyed
    rewrite that completes the merge: the code a merge and its heal
    share. Returns the rewrite's report and the staged row count."""
    staging = os.path.join(path, MERGE_STAGING_DIR)
    # The batch's keys and partition values, read on the driver: the
    # copy is CDC-sized, and its counts then cost no Spark job.
    batch = pq.read_table(staging, columns=[key_column, partition_col])
    keys = batch[key_column]
    n_rows, n_null = len(keys), keys.null_count
    if n_null or pc.count_distinct(keys).as_py() != n_rows:
        # A NULL key is never matched (semi/anti joins skip NULLs):
        # every merge and heal would append another copy of its row.
        shutil.rmtree(staging)
        raise ValueError(
            f"updates must be unique per {key_column}, with no NULL "
            f"{key_column}: {n_rows} rows, {n_null} NULL — collapse the "
            "CDC batch to the latest version per key, and filter or key "
            "NULL-keyed rows first"
        )
    counts = pc.value_counts(batch[partition_col].cast(pa.string())).to_pylist()
    marker = os.path.join(path, MERGE_MARKER)
    if not os.path.exists(marker):
        atomic_write_json(
            marker, {"key_column": key_column, "partition_col": partition_col}
        )
    # A value's directory as Spark's partition writer names it (from
    # the value as a string; '' and NULL: the Hive default one).
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    values = {c["values"] for c in counts} | {""}
    names = {v: utils.getPartitionPathString(partition_col, v) for v in values}
    per_dir = Counter()
    for c in counts:
        per_dir[names[c["values"]]] += c["counts"]
    pairs = [F.lit(x) for kv in names.items() if kv[0] is not None for x in kv]
    staged = footer_reader(spark, staging).parquet(staging)
    lookup = F.element_at(F.create_map(*pairs), F.col(partition_col).cast("string"))
    rows = staged.withColumn(DIR, F.coalesce(lookup, F.lit(names[""])))
    keys = staged.select(key_column)  # parquet: phase 2 reads the same keys
    rep = keyed_rewrite(
        spark, path, table, key_column, keys, partition_col,
        added=(rows.drop(partition_col), per_dir),
    )
    os.remove(marker)
    shutil.rmtree(staging)
    return rep, n_rows


def heal_pending_merge(spark: SparkSession, path: str) -> bool:
    """Complete a crashed merge if one is pending; True if healed."""
    marker_path = os.path.join(path, MERGE_MARKER)
    if not os.path.exists(marker_path):
        return False
    with open(marker_path) as fh:
        marker = json.load(fh)  # key_column, partition_col
    heal_interrupted_swaps(path)
    table = read_partitioned(spark, path, marker["partition_col"])
    _merge_staged(spark, path, table, **marker)
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
    report.partitions_healed = len(heal_interrupted_swaps(path))
    if heal_pending_merge(spark, path):
        report.merges_healed = 1

    table = read_partitioned(spark, path, partition_col)
    types = {f.name: f.dataType for f in table.schema if f.name != partition_col}
    missing = [c for c in types if c not in updates.columns]
    if missing:
        raise ValueError(f"updates are missing table columns: {missing}")

    # Stage durably (the write-ahead). The staging write is also what
    # freezes a non-deterministic updates plan — every later phase
    # reads this one copy; the index upsert reads a checkpoint (O(changed))
    # of the same rows.
    staging = os.path.join(path, MERGE_STAGING_DIR)
    if os.path.exists(staging):
        shutil.rmtree(staging)
    new_rows = updates.select(*[F.col(c).cast(t).alias(c) for c, t in types.items()])
    if maintain_indexes:
        new_rows = new_rows.localCheckpoint(eager=True)
    new_rows.withColumn(partition_col, partition.expr()).write.mode(
        "overwrite"
    ).parquet(staging)
    rep, n_rows = _merge_staged(spark, path, table, key_column, partition_col)
    if maintain_indexes:
        from goe_spark.operators.index_maintenance import upsert_for_index

        # After the rewrite dropped staging: the eviction
        # re-fingerprints the table dir, which held it.
        for idx_dir in maintain_indexes:
            upsert_for_index(spark, idx_dir, new_rows)

    report.partitions_affected = rep.partitions_affected
    report.rows_updated = rep.keys_matched
    report.rows_inserted = n_rows - rep.keys_matched
    report.details = rep.details
    return report
