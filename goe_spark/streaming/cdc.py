"""Streaming CDC apply — continuous change-data-capture upsert/delete
into an offloaded parquet target.

This closes the loop on the reference product line's "Incremental
Update" capability (changed-row sync after the bulk offload; the
reference extracts Oracle changes and replays insert/update/delete
against the backend) with the repo's streaming path: a Structured
Streaming source of change rows is applied micro-batch by micro-batch
through ``plans/merge_update.merge_rows`` (upserts) and
``plans/targeted_delete.delete_rows`` (deletes). Both are one keyed
rewrite behind crash-safe marker swaps: delete rewrites the partitions
holding doomed keys without them; merge gives the partitions holding
changed keys their new versions and only adds files to the partitions
that just gain rows.

Change-row contract: each row carries the full table payload plus
- ``op_column``   ('I' | 'U' | 'D') — insert/update collapse to the
  same upsert (the target is keyed; applying an I to an existing key
  is what at-least-once replay produces), D deletes the key;
- ``seq_column``  a monotonically increasing change sequence (SCN,
  LSN, binlog offset). Within one micro-batch a key may appear many
  times; only the row with the greatest sequence per key is applied —
  intermediate versions are superseded BEFORE touching the target, so
  a batch costs O(affected partitions), not O(change events).

Exactly-once into a non-transactional sink, the same contract as
``streaming/ingest.py``: the checkpoint gives at-least-once batch
delivery with stable batch ids; the ledger short-circuits re-delivery
of committed batches; and a crash INSIDE a batch is healed by
merge_rows' pending-merge write-ahead (the staged rows are durable
before any target mutation, and the heal reruns the same keyed
rewrite from them, which replaces every version of a staged key)
plus delete idempotence (deleting absent keys is a no-op) —
re-applying the same collapsed batch reaches the same final state.

At scale the per-batch plan is: one shuffle of the (small, CDC-sized)
batch to collapse per key, then partition-bounded rewrites of only the
partitions the surviving keys touch. The 100 TB table itself is never
rescanned beyond the affected-partition probe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.plans.merge_update import heal_pending_merge, merge_rows
from goe_spark.plans.offload import SYNTHETIC_COL, PartitionSpec
from goe_spark.plans.targeted_delete import delete_rows
from goe_spark.streaming.ingest import BatchLedger

OPS = ("I", "U", "D")


def collapse_batch(
    batch: DataFrame, key_column: str, seq_column: str, op_column: str
) -> DataFrame:
    """One surviving change per key: the row with the greatest
    ``seq_column``. Returns the full batch schema minus nothing —
    callers split on the surviving op.

    (key, seq) must be unique — with ties, "which version wins" is
    undefined in any engine, so refuse rather than pick silently.
    """
    n_rows = batch.count()
    n_pairs = batch.select(key_column, seq_column).distinct().count()
    if n_rows != n_pairs:
        raise ValueError(
            f"CDC batch has duplicate ({key_column}, {seq_column}) "
            f"pairs: {n_rows} rows, {n_pairs} distinct — the change "
            "sequence must order every key's versions totally"
        )
    payload = [c for c in batch.columns]
    return (
        batch.groupBy(key_column)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload if c != key_column]),
                F.col(seq_column),
            ).alias("__v")
        )
        .select(
            key_column,
            *[F.col(f"__v.{c}") for c in payload if c != key_column],
        )
    )


def make_cdc_sink(
    target_path: str,
    checkpoint_dir: str,
    metadata_dir: str,
    key_column: str,
    partition: PartitionSpec,
    partition_col: str = SYNTHETIC_COL,
    seq_column: str = "cdc_seq",
    op_column: str = "cdc_op",
    owner: str = "default",
    table: str = "cdc_target",
):
    """The foreachBatch sink, exposed (like ingest.make_batch_sink) so
    the at-least-once contract is testable directly: calling it twice
    with the same batch_id — with or without the ledger entry
    surviving the 'crash' — must leave the same final table."""
    ledger = BatchLedger(metadata_dir, owner, table, checkpoint_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in ledger.committed():
            return  # re-delivery of a fully committed batch
        spark = batch_df.sparkSession
        # NULL ops must be caught too: bare ~isin is NULL for them
        # (three-valued logic) and a NULL-op change row would
        # otherwise fall through BOTH the upsert and delete branches —
        # a silently dropped change in a batch the ledger then records
        # as fully applied.
        bad_ops = (
            batch_df.select(op_column)
            .where(
                ~F.col(op_column).isin(list(OPS))
                | F.col(op_column).isNull()
            )
            .limit(1)
            .collect()
        )
        if bad_ops:
            raise ValueError(
                f"unknown CDC op {bad_ops[0][0]!r}; expected one of {OPS}"
            )
        latest = collapse_batch(
            batch_df, key_column, seq_column, op_column
        ).localCheckpoint(eager=True)

        upserts = latest.where(F.col(op_column) != "D").drop(
            seq_column, op_column
        )
        doomed = latest.where(F.col(op_column) == "D").select(key_column)

        if upserts.limit(1).count():
            merge_rows(
                spark,
                target_path,
                key_column,
                upserts,
                partition,
                partition_col=partition_col,
            )
        if doomed.limit(1).count():
            delete_rows(
                spark,
                target_path,
                key_column,
                doomed,
                partition_col=partition_col,
            )
        ledger.commit(batch_id)

    return sink


def stream_cdc_apply(
    spark: SparkSession,
    changes: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    metadata_dir: str,
    key_column: str,
    partition: PartitionSpec,
    partition_col: str = SYNTHETIC_COL,
    seq_column: str = "cdc_seq",
    op_column: str = "cdc_op",
    owner: str = "default",
    table: str = "cdc_target",
) -> None:
    """Drain a streaming DataFrame of change rows into the target
    (availableNow trigger; on a live cluster the same code runs
    unbounded on the default trigger). Heals any crashed merge before
    starting so a restart never applies a new batch on top of a
    half-merged table."""
    if os.path.isdir(target_path):
        heal_pending_merge(spark, target_path)
    sink = make_cdc_sink(
        target_path,
        checkpoint_dir,
        metadata_dir,
        key_column,
        partition,
        partition_col=partition_col,
        seq_column=seq_column,
        op_column=op_column,
        owner=owner,
        table=table,
    )
    q = (
        changes.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
