"""Continuous aggregate (hypertable-rollup) maintenance: a daily
(day, event_type) revenue rollup kept incrementally up to date by the
event stream, without ever rescanning history.

Design — materialized partials, merge at read, background compaction
(the TimescaleDB continuous-aggregate shape, rebuilt on the repo's
own streamed-batch machinery from streaming/ingest.py):

- each micro-batch aggregates ITSELF to the rollup grain and writes
  the partial result into its own ``batch-<id>/`` root — the same
  per-batch-directory idempotence contract as the ingest sink, so a
  re-delivered batch overwrites its partial instead of double-
  counting, with the ledger short-circuiting committed ids;
- reading the rollup unions the partial roots (reusing
  read_streamed_table: armed-swap guard and ``as_of_batch`` snapshot
  reads come free) and merge-aggregates them — sums of partial sums,
  exact because the measures are additive and money math is
  decimal(20,2);
- the fold janitor compacts old partial roots into one merged
  ``base/`` root through the SAME fold_protocol, behind compaction's
  crash-safe marker swap; unlike the row-preserving ingest fold,
  folding a rollup re-aggregates — the invariant checked before the
  swap is measure preservation (total n_events), not row count.

Scale: per micro-batch cost is one batch-sized shuffle down to grain
cardinality (days x event types — thousands of rows regardless of
stream volume); the read-side merge touches only partial rows. This
is what makes a 100 TB/day event stream queryable at day grain
without a nightly full recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.streaming.events import events_stream
from goe_spark.streaming.ingest import (
    BatchLedger,
    _batch_dir,
    fold_protocol,
    read_streamed_table,
)

from goe_spark.streaming.tuning import stream_state_partitions

# Rollup grain and measures. sum_value is decimal(20,2): the fixture's
# value column carries at most 2 decimals, so partial sums and their
# merge are EXACT — merged results equal a direct aggregate
# bit-for-bit, which the equivalence test pins.
_GRAIN = ("day", "event_type")


def _partial(batch_df: DataFrame) -> DataFrame:
    return (
        batch_df.groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,2)")).alias("sum_value"),
        )
    )


def _merge(partials: DataFrame) -> DataFrame:
    return (
        partials.groupBy(*_GRAIN)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("decimal(20,2)").alias("sum_value"),
        )
    )


def make_rollup_sink(
    rollup_dir: str,
    checkpoint_dir: str,
    metadata_dir: str,
    owner: str = "default",
    table: str = "events_rollup",
):
    """foreachBatch sink maintaining the rollup. Exposed (like
    make_batch_sink) so the at-least-once contract is testable by
    calling it twice with one batch_id."""
    ledger = BatchLedger(metadata_dir, owner, table, checkpoint_dir)

    def sink(batch_df, batch_id: int) -> None:
        if int(batch_id) in ledger.committed():
            return  # re-delivery of a fully committed batch
        _partial(batch_df).write.mode("overwrite").parquet(
            _batch_dir(rollup_dir, batch_id)
        )
        ledger.commit(batch_id)

    return sink


def read_rollup(
    spark: SparkSession, rollup_dir: str, as_of_batch: int | None = None
) -> DataFrame | None:
    """The rollup as one merged DataFrame (sum_value rounded to 2 for
    presentation — the underlying decimals are exact). ``as_of_batch``
    returns the rollup exactly as it stood after that micro-batch,
    within the fold janitor's retention window."""
    partials = read_streamed_table(spark, rollup_dir, as_of_batch)
    if partials is None:
        return None
    return _merge(partials).select(
        *_GRAIN,
        "n_events",
        # round-then-cast-to-DOUBLE: keeps the presentation dtype
        # aligned with the DuckDB oracle's pandas fetch (which turns
        # DECIMAL into float64); the stored partials stay exact decimal
        F.round("sum_value", 2).cast("double").alias("sum_value"),
    )


def fold_rollup(
    spark: SparkSession, rollup_dir: str, keep_last: int = 10
) -> dict:
    """Compact partial roots older than the newest ``keep_last`` into
    one MERGED ``base/`` root — the shared crash-safe fold_protocol
    with a re-aggregating compaction whose pre-swap invariant is
    measure preservation: total n_events across the folded roots must
    survive the merge (None-totals collapse to 0 for all-empty
    partials)."""

    def compact(partials, tmp, spark):
        total_before = partials.agg(F.sum("n_events")).first()[0] or 0
        _merge(partials).write.mode("overwrite").parquet(tmp)
        total_after = (
            spark.read.parquet(tmp).agg(F.sum("n_events")).first()[0] or 0
        )
        if total_after != total_before:  # pragma: no cover - defensive
            raise RuntimeError("rollup fold measure mismatch")
        # Same result key as the ingest fold so `cli fold` output has
        # one schema regardless of --rollup; here it counts the merged
        # grain rows in base/ (the measure check above is internal).
        return {"rows": spark.read.parquet(tmp).count()}

    return fold_protocol(spark, rollup_dir, keep_last, compact)


def stream_rollup_events(
    spark: SparkSession,
    sf_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    metadata_dir: str,
) -> DataFrame | None:
    """Drain the events stream into the continuous rollup
    (availableNow; unbounded on a live cluster) and return the merged
    rollup. Re-running with the same checkpoint writes nothing."""
    sink = make_rollup_sink(rollup_dir, checkpoint_dir, metadata_dir)
    # state-store partition count is captured at start(); see streaming/tuning.py
    with stream_state_partitions(spark):
        q = (
            events_stream(spark, sf_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return read_rollup(spark, rollup_dir)
