"""SCD Type-2 dimension maintenance: versioned upsert (close the
current row, insert the new version) over a parquet dimension.

The reference's Incremental Update replaces a key's row
(plans/merge_update.py); a warehouse DIMENSION usually must not lose
the old attributes — fact rows joined at time T need the attributes
that were true at T. SCD2 keeps every version with
[goe_valid_from, goe_valid_to) validity and a goe_is_current flag;
the batch twin of this reconstruction (gaps-and-islands) is
queries/timeseries.py::order_status_islands, and THIS module is the
incremental maintainer that keeps such a table current as change
batches arrive.

Semantics per change row (key, attrs..., effective):
- key unknown                -> insert version 1 [effective, null)
- attrs differ from current  -> close current at `effective`, insert
                                a new current version
- attrs equal current        -> no-op (idempotent re-delivery)
Changes must be unique per key (collapse a CDC batch to the latest
event first — enforced, same contract as merge_rows).

Spark-first shape: one broadcast-able join of the change batch
against CURRENT rows only (the current slice is key-cardinality; the
history can be arbitrarily deep and is never joined), null-safe
attribute comparison, then untouched ∪ closed ∪ new versions written
behind compaction's whole-directory swap:

Crash contract: the new table is COMPLETE in the dimension's staged
copy (dot-prefixed, invisible to readers) before the marker arms; the
swap moves the old table aside whole and the new one in, one rename
each, then drops the old and unmarks. heal_swap (run at every apply
start; `cli heal` and POST /api/heal run it too) finishes an armed
swap or discards an unarmed staged copy. Readers see the old or the
new table, never a mix.

Scale: dimensions are orders of magnitude smaller than facts (the
customer dim at 100 TB of facts is GBs), so the whole-dimension
rewrite is the honest cost of a full-width version table; a dimension
that outgrows that moves to the partition-bounded merge machinery
with (key, valid_from) composite physical keys — same semantics,
plans/merge_update.py's swap discipline.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.plans.compaction import heal_swap, swap_in, swap_tmp

VALID_FROM = "goe_valid_from"
VALID_TO = "goe_valid_to"
IS_CURRENT = "goe_is_current"


@dataclass
class Scd2Report:
    keys_new: int = 0
    keys_changed: int = 0
    keys_unchanged: int = 0
    healed: bool = False


def scd2_init(
    spark: SparkSession,
    dim_path: str,
    rows: DataFrame,
    effective,
) -> None:
    """Write version 1 of every row: [effective, null), current."""
    (
        rows.withColumn(VALID_FROM, F.lit(effective))
        .withColumn(VALID_TO, F.lit(None).cast("date"))
        .withColumn(IS_CURRENT, F.lit(True))
        .write.mode("overwrite")
        .parquet(dim_path)
    )


def scd2_apply(
    spark: SparkSession,
    dim_path: str,
    changes: DataFrame,
    key_col: str,
    attr_cols: list[str],
    effective,
) -> Scd2Report:
    """Apply one change batch (unique per key) effective at
    ``effective``. See module docstring for semantics."""
    report = Scd2Report(healed=heal_swap(dim_path))

    n = changes.count()
    n_keys = changes.select(key_col).distinct().count()
    if n != n_keys:
        raise ValueError(
            f"changes must be unique per {key_col!r}: {n} rows, "
            f"{n_keys} keys — collapse the batch to latest-per-key first"
        )

    dim = spark.read.parquet(dim_path)
    cur = dim.where(F.col(IS_CURRENT))
    ch = changes.select(key_col, *attr_cols)

    same_attrs = None
    for a in attr_cols:
        c = F.col(f"cur.{a}").eqNullSafe(F.col(f"ch.{a}"))
        same_attrs = c if same_attrs is None else (same_attrs & c)

    joined = ch.alias("ch").join(
        cur.alias("cur"), on=key_col, how="left"
    )
    status = joined.select(
        key_col,
        F.when(F.col(f"cur.{IS_CURRENT}").isNull(), F.lit("new"))
        .when(same_attrs, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("st"),
    )
    counts = {r.st: r.n for r in status.groupBy("st").agg(F.count(F.lit(1)).alias("n")).collect()}
    report.keys_new = counts.get("new", 0)
    report.keys_changed = counts.get("changed", 0)
    report.keys_unchanged = counts.get("unchanged", 0)
    if report.keys_new == 0 and report.keys_changed == 0:
        return report  # pure re-delivery: no write at all

    affected = status.where(F.col("st") != "unchanged").select(key_col)
    # current rows of changed keys get closed; everything else is
    # carried over untouched (history rows AND current rows of
    # unaffected keys).
    closed = (
        cur.join(
            F.broadcast(
                status.where(F.col("st") == "changed").select(key_col)
            ),
            key_col,
            "left_semi",
        )
        .withColumn(VALID_TO, F.lit(effective))
        .withColumn(IS_CURRENT, F.lit(False))
    )
    changed_keys = status.where(F.col("st") == "changed").select(
        F.col(key_col).alias("__ck")
    )
    carried = dim.alias("d").join(
        F.broadcast(changed_keys),
        (F.col(f"d.{key_col}") == F.col("__ck")) & F.col(f"d.{IS_CURRENT}"),
        "left_anti",
    )
    fresh = (
        ch.join(F.broadcast(affected), key_col, "left_semi")
        .withColumn(VALID_FROM, F.lit(effective))
        .withColumn(VALID_TO, F.lit(None).cast("date"))
        .withColumn(IS_CURRENT, F.lit(True))
    )
    result = carried.unionByName(closed).unionByName(fresh)

    result.write.mode("overwrite").parquet(swap_tmp(dim_path))
    swap_in(dim_path)
    return report
