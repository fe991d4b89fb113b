"""Streaming incremental offload — continuous ingest of the events
stream into a partitioned final table with the repo's own HWM
bookkeeping.

Additive scope over the reference (its offload is batch-only): the
same FINAL_LOAD semantics the batch pipeline applies (synthetic
partition column, partitioned append), driven by Structured Streaming
micro-batches via foreachBatch.

Exactly-once into a non-transactional sink: Structured Streaming's
checkpoint guarantees each micro-batch is DELIVERED at least once with
a stable batch_id (after a crash the last batch may be re-delivered).
Each batch writes mode("overwrite") into its OWN subdirectory
(target/batch-<id>/goe_part_key=...), so a re-delivery — whether the
ledger saw the first attempt or the crash hit between the data write
and the ledger commit — overwrites the same directory instead of
appending a duplicate. The ledger (committed batch_ids, atomic JSON)
then only short-circuits redundant rewrites and keeps the HWM update
idempotent. Read through read_streamed_table(), which lists the batch
roots; partition discovery applies per root, so goe_part_key behaves
exactly as on a batch-offloaded table. The HWM (max partition key
seen) is folded into the offload metadata store after each batch.
The fold janitor (fold_protocol) replaces old batch roots with one
``base/`` root behind compaction's marker swap, so `cli heal` and the
next fold complete a crashed one.

At 100 TB/day the plan per micro-batch is map-side only (projection +
partitioned write, no shuffle unless the sink repartitions); state is
one ledger write per batch on the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from goe_spark.plans.compaction import heal_swap, swap_in, swap_pending, swap_tmp
from goe_spark.plans.metadata import MetadataStore, OffloadMetadata
from goe_spark.plans.slices import SYNTHETIC_COL, PartitionSpec
from goe_spark.streaming.events import events_stream


class BatchLedger:
    """Committed micro-batch ids for one streaming sink, persisted
    atomically. Keyed by checkpoint dir so a NEW checkpoint (batch ids
    restart at 0) gets a fresh ledger instead of wrongly skipping."""

    def __init__(self, metadata_dir: str, owner: str, table: str, checkpoint_dir: str):
        import hashlib

        key = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
        self.path = os.path.join(
            metadata_dir, f"{owner}.{table}.stream_batches.{key}.json".lower()
        )
        os.makedirs(metadata_dir, exist_ok=True)

    def committed(self) -> set[int]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as fh:
            return set(json.load(fh))

    def commit(self, batch_id: int) -> None:
        from goe_spark.plans.metadata import atomic_write_json

        ids = self.committed() | {int(batch_id)}
        atomic_write_json(self.path, sorted(ids), indent=None)


def _batch_dir(target_dir: str, batch_id: int) -> str:
    return os.path.join(target_dir, f"batch-{int(batch_id):06d}")


def _sorted_batches(target_dir: str) -> list[tuple[int, str]]:
    """[(batch_id, dirname)] sorted NUMERICALLY — lexicographic order
    misorders once ids outgrow the %06d padding (batch-1000000 sorts
    before batch-999995), which would make the fold janitor fold the
    newest batches instead of the oldest."""
    out = []
    for d in os.listdir(target_dir):
        if d.startswith("batch-"):
            out.append((int(d.rsplit("-", 1)[1]), d))
    return sorted(out)


def _union_roots(spark: SparkSession, roots: list[str]):
    """One read PER root, unioned explicitly: handing Spark all roots
    at once makes partition discovery hunt for a common ancestor and
    trip over the non-k=v 'batch-...' segment
    (CONFLICTING_DIRECTORY_STRUCTURES) whenever batches differ in
    partition layout; per-root reads discover partitions
    independently, and allowMissingColumns covers a batch that saw no
    rows for some partition column. Shared by the reader and the fold
    janitor so the workaround lives once."""
    dfs = [spark.read.parquet(r) for r in roots]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def read_streamed_table(
    spark: SparkSession, target_dir: str, as_of_batch: int | None = None
):
    """The streamed table as one DataFrame: union of the per-batch
    roots (partition discovery runs per root, so goe_part_key columns
    behave as on a batch-offloaded table). Returns None when nothing
    has been committed yet.

    ``as_of_batch`` gives snapshot reads for free from the per-batch
    layout: only roots with batch id <= the given id are unioned — the
    table exactly as it stood after that micro-batch committed. The
    fold janitor (fold_streamed_batches) bounds this time travel to
    its retention window: a snapshot older than the folded ``base/``
    root can no longer be reconstructed and raises.

    An armed fold swap means a crash left the roots mid-swap — some
    may already be removed — so reading would silently drop rows;
    refuse until the fold is healed (run fold, or CLI/REST heal)."""
    if not os.path.isdir(target_dir):
        return None
    if swap_pending(target_dir):
        raise RuntimeError(
            f"{target_dir} has a crashed fold pending (some batch roots "
            "may already be removed); heal it first — rerun fold, or "
            "`cli heal` / POST /api/heal"
        )
    batches = _sorted_batches(target_dir)
    base = os.path.join(target_dir, BASE_DIR)
    roots = [
        os.path.join(target_dir, d)
        for i, d in batches
        if as_of_batch is None or i <= as_of_batch
    ]
    if os.path.isdir(base):
        if as_of_batch is not None and (
            not batches or as_of_batch < batches[0][0]
        ):
            raise ValueError(
                f"as_of_batch={as_of_batch} predates the fold janitor's "
                "retention window — those batch roots were folded into "
                "base/"
            )
        roots.insert(0, base)
    if not roots:
        return None
    return _union_roots(spark, roots)


def make_batch_sink(
    target_dir: str,
    checkpoint_dir: str,
    metadata_dir: str,
    owner: str = "default",
    table: str = "events",
    granularity: str = "M",
):
    """The foreachBatch sink, exposed so the at-least-once contract
    is testable directly: calling it twice with the same batch_id —
    with or without the ledger entry surviving the 'crash' — must
    leave exactly one copy of the batch."""
    ledger = BatchLedger(metadata_dir, owner, table, checkpoint_dir)
    store = MetadataStore(metadata_dir)
    spec = PartitionSpec("ts", "date", granularity)

    def sink(batch_df, batch_id: int) -> None:
        if int(batch_id) in ledger.committed():
            return  # re-delivery of a fully committed batch
        out = batch_df.withColumn(SYNTHETIC_COL, spec.expr())
        # Per-batch directory + overwrite: a re-delivered batch (crash
        # between this write and the ledger commit) rewrites the SAME
        # directory — idempotent without sink transactions.
        out.write.mode("overwrite").partitionBy(SYNTHETIC_COL).parquet(
            _batch_dir(target_dir, batch_id)
        )
        hwm = out.agg(F.max(SYNTHETIC_COL)).first()[0]
        md = store.get(owner, table) or OffloadMetadata(
            owner=owner, table_name=table
        )
        md.offload_type = "RANGE"
        md.incremental_key = "ts"
        if hwm is not None and (
            md.incremental_high_value is None
            or str(hwm) > str(md.incremental_high_value)
        ):
            md.incremental_high_value = hwm
        spec.to_metadata(md)
        store.save(md)
        ledger.commit(batch_id)

    return sink


BASE_DIR = "base"


def fold_protocol(
    spark: SparkSession, target_dir: str, keep_last: int, compact
) -> dict:
    """The crash-safe fold, shared by the row-preserving ingest fold
    and the merging rollup fold (streaming/rollup.py): heal any crashed
    predecessor, pick the roots older than the newest ``keep_last``,
    let ``compact(src_df, out_dir, spark) -> extra`` write the COMPLETE
    folded ``base/`` into the target's staged copy (raising if its own
    invariant fails), then swap it in with compaction's marker swap:
    the folded roots go and the new ``base/`` replaces the old. A
    crash at any point is healed at the start of the next fold (or by
    `cli heal`); readers refuse while the swap is armed."""
    healed = heal_swap(target_dir)
    fold = [d for _, d in _sorted_batches(target_dir)]
    fold = fold[: max(0, len(fold) - keep_last)]
    if not fold:
        return {"folded": 0, "healed": healed}
    roots = [os.path.join(target_dir, d) for d in fold]
    base = os.path.join(target_dir, BASE_DIR)
    if os.path.isdir(base):
        roots.append(base)
    out = os.path.join(swap_tmp(target_dir), BASE_DIR)
    extra = compact(_union_roots(spark, roots), out, spark)
    swap_in(target_dir, fold)
    return {"folded": len(fold), "healed": healed, **extra}


def fold_streamed_batches(
    spark: SparkSession, target_dir: str, keep_last: int = 10
) -> dict:
    """Retention janitor for the per-batch layout: batch roots grow
    one per micro-batch forever, which at 100 TB/day is an unbounded
    file-listing cost. Fold every batch root older than the newest
    ``keep_last`` into one partitioned ``base/`` root (itself included
    in the next fold), leaving recent batches intact so ``as_of_batch``
    snapshot reads keep working across the retention window.
    Invariant before the swap: row count survives the fold exactly."""

    def compact(out, tmp, spark):
        n_before = out.count()
        out.write.mode("overwrite").partitionBy(SYNTHETIC_COL).parquet(tmp)
        if spark.read.parquet(tmp).count() != n_before:  # pragma: no cover
            raise RuntimeError("fold row mismatch")
        return {"rows": n_before}

    return fold_protocol(spark, target_dir, keep_last, compact)


def stream_offload_events(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    metadata_dir: str,
    owner: str = "default",
    granularity: str = "M",
) -> int:
    """Drain the events stream into a day/month-partitioned final
    table (availableNow trigger; on a live cluster the same code runs
    unbounded). Returns rows written this run. Re-running with the
    same checkpoint writes nothing (source-side progress) and a
    re-delivered batch is skipped by the ledger (sink-side guard)."""
    table = "events"
    sink = make_batch_sink(
        target_dir, checkpoint_dir, metadata_dir, owner, table, granularity
    )
    stream = events_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    df = read_streamed_table(spark, target_dir)
    return 0 if df is None else df.count()
