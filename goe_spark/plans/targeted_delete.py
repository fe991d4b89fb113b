"""Targeted row deletion (right-to-be-forgotten / takedown) over an
offloaded parquet target — the lakehouse DELETE the reference
delegates to its warehouse backend.

Spark-first shape: one keyed rewrite (``keyed_rewrite``, which merge
runs too, adding its staged rows to the write) in two phases. Phase 1
finds the partition DIRECTORIES holding any doomed key — one aggregate
over a scan with the key set applied, collecting the matched rows and
keys of each `input_file_name()` — so the affected set is file-system
truth (no directory names rebuilt from type-inferred partition values:
padded numerics, Hive escaping, __HIVE_DEFAULT_PARTITION__). Phase 2
rewrites ONLY those directories with the key anti-filter in one
compaction.rewrite_partitions write, each directory's row count
checked to be exactly old minus matched before any swap, so untouched
partitions stay byte-identical and a lost subtree fails instead of
passing as "every row deleted". At 100 TB a delete of k keys reads and
writes O(affected partitions) in a fixed number of Spark jobs.

Crash safety is compaction's: temp tree -> temp dirs -> every marker
-> swaps -> unmark, healed on the next run. A crash before the markers
leaves the table as it was, and re-running the delete redoes it; a
crash after them is completed by the heal.
"""

from __future__ import annotations

import datetime
from collections import Counter
from dataclasses import dataclass, field
from decimal import Context, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DateType,
    DecimalType,
    FractionalType,
    IntegralType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

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
    # Distinct doomed keys present, for merge accounting: rows_deleted
    # exceeds it when a key has several physical row versions.
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

    ``keys`` is a Python list (small takedown lists; typed to the key
    column's type by ``typed_keys``, so the CLI's strings and a JSON
    body's numbers delete alike) or a DataFrame with a ``key_column``
    column (large removal sets). A DataFrame
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
    healed = len(heal_interrupted_swaps(path))
    table = read_partitioned(spark, path, partition_col)
    if isinstance(keys, DataFrame):
        keys = keys.select(key_column).distinct().localCheckpoint(eager=True)
    else:
        keys = typed_keys(keys, table.schema[key_column].dataType)
        if use_bloom:
            from goe_spark.plans.bloom_skip import prune_partitioned_bloom_in

            sources, _ = prune_partitioned_bloom_in(path, key_column, keys)
            if not sources:  # no file can hold any doomed key
                return DeleteReport(partitions_healed=healed)
            table = read_partitioned(spark, path, partition_col, sources)
    report = keyed_rewrite(spark, path, table, key_column, keys, partition_col)
    report.partitions_healed = healed
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


def typed_keys(keys, dtype: DataType) -> list:
    """``keys`` (a CLI's strings, a JSON body's numbers) as values of
    the key column's Spark type ``dtype``: Spark compares them exactly
    (a decimal(38,0) key never goes through double, a string key
    '0123' stays a string) and the bloom probe spells them as Spark
    does (a decimal at the column's scale, a double as a double)."""

    def iso(parse):  # dates and timestamps: ISO text, or already typed
        return lambda k: parse(k) if isinstance(k, str) else k

    def scaled(k):  # a key with more digits than the scale matches no row
        d = Decimal(str(k))
        q = d.quantize(Decimal(1).scaleb(-dtype.scale), context=Context(prec=100))
        return q if q == d else d

    conv = {
        IntegralType: int,
        DecimalType: scaled,  # before FractionalType, its base class
        FractionalType: float,
        DateType: iso(datetime.date.fromisoformat),
        TimestampType: iso(datetime.datetime.fromisoformat),
        TimestampNTZType: iso(datetime.datetime.fromisoformat),
        StringType: str,
    }
    for t, f in conv.items():
        if isinstance(dtype, t):
            return [None if k is None else f(k) for k in keys]
    return list(keys)


def read_partitioned(
    spark: SparkSession, path: str, partition_col: str, sources=None
) -> DataFrame:
    """The table at ``path`` (its files under ``sources``, default all)
    with ``partition_col`` from the directory names."""
    sources = sources or [path]
    table = footer_reader(spark, sources[0]).option("basePath", path).parquet(*sources)
    if partition_col not in table.columns:
        raise ValueError(
            f"{path} is not partitioned by {partition_col!r}; a keyed "
            "rewrite needs the partition layout to bound it"
        )
    return table


def keyed_rewrite(
    spark: SparkSession,
    path: str,
    table: DataFrame,
    key_column: str,
    keys: list | DataFrame,
    partition_col: str,
    added: tuple[DataFrame, dict[str, int]] | None = None,
) -> DeleteReport:
    """Rewrite each directory of ``table`` (read from ``path``) holding
    a key in ``keys`` (a list, or a DataFrame that reads the same keys
    every time) without those keys' rows, and add the rows of ``added``
    = (rows tagged ``DIR``, {directory: rows}), in one write; the
    caller heals first."""
    # The provenance column is projected AT SCAN TIME: input_file_name()
    # is task-local and reads '' when first referenced above a join.
    table = table.withColumn(FILE_COL, F.input_file_name())
    if isinstance(keys, DataFrame):
        matches = table.join(keys, key_column, "left_semi")

        def anti(df):
            return df.join(keys, key_column, "left_anti")

    else:
        key_list = [k for k in keys if k is not None]  # NULL matches nothing
        matches = table.where(F.col(key_column).isin(key_list))

        def anti(df):
            # NULL-key rows are never doomed (left_anti keeps them too);
            # bare ~isin is NULL for them, and where() would drop them.
            key = F.col(key_column)
            return df.where(~key.isin(key_list) | key.isNull())

    # One aggregate: the matched rows and keys of each file (bounded by
    # the key count; matches hold no NULL key).
    matched, present = Counter(), set()
    for f, n, file_keys in (
        matches.groupBy(FILE_COL)
        .agg(F.count(F.lit(1)), F.collect_set(key_column))
        .collect()
    ):
        if not f:  # pragma: no cover - defensive
            raise RuntimeError("input_file_name lost provenance above a join")
        d = file_dir(f)
        if not d.startswith(f"{partition_col}="):
            # A matching file NOT under a partition dir means the
            # layout assumption is wrong — refuse rather than skip.
            raise ValueError(f"matched file outside the partition layout: {d!r}")
        matched[d] += n
        present.update(file_keys)
    dirs = sorted(matched)
    rows, per_dir = added or (None, {})
    delta = Counter(per_dir)
    delta.subtract(matched)
    # One write for all affected partitions; the swaps drop stale manifests.
    rewrite_partitions(
        spark, path, dirs, lambda df, _olds: anti(df), delta=delta, added=rows
    )
    return DeleteReport(
        partitions_affected=len(dirs),
        rows_deleted=sum(matched.values()),
        keys_matched=len(present),
        details=[(d, matched[d]) for d in dirs],
    )
