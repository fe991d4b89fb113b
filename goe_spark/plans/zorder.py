"""Z-order (Morton-curve) clustering on write + a per-file min/max
manifest for multi-dimensional file skipping.

The reference clusters backend tables for scan locality on ONE
leading-column prefix (BigQuery CLUSTER BY, rendered in this repo as
``plans/sort_columns.py`` sortWithinPartitions). A linear sort prunes
only predicates on the leading column: sort 100 TB by (custkey) and a
predicate on totalprice still reads every file. Interleaving the bits
of several columns into one Morton key and range-partitioning on it
gives every clustered column bounded per-file value ranges — a
predicate on ANY of the columns skips most files. This is the same
trade Delta Lake OPTIMIZE ZORDER BY and Databricks data skipping make;
here it is built from stock Spark operators:

1. stats: each clustered column's min/max, from the parquet footers of
   the files being rewritten when they record it (numeric and date
   columns), else one ``agg(min, max)`` (O(1) rows to the driver);
2. map-side: scale each column linearly to a ``BITS``-bit integer rank
   and bit-interleave the ranks into one long — pure JVM expressions
   inside whole-stage codegen, no UDF, applied as SQL text (one
   ``selectExpr`` each for the ranks and the interleave);
3. ``repartitionByRange(n_files, z)`` + ``sortWithinPartitions(z)``:
   each output file covers a contiguous Morton range, i.e. a small
   hyper-rectangle of the clustered space;
4. manifest: per-file min/max of the clustered columns, read from the
   footers of the files just written (parquet-mr records the same
   min/max Spark's aggregate returns, NaN included), else one
   aggregate grouped on ``input_file_name``; persisted as JSON next to
   the data.

``read_pruned`` then intersects a conjunction of range predicates with
the manifest and hands Spark only the surviving files. At 100 TB the
manifest is thousands of rows of bounds — driver-trivial — while the
skipped bytes are the win; parquet row-group stats still apply inside
every file that survives. Linear min/max ranking keeps the rank pass
one-shot; heavily skewed columns would use range-partition ranks
(a sampled sort) instead — stated trade-off, same downstream plan.

Scope: numeric, date and timestamp columns (dates rank by epoch day,
timestamps by epoch micros). Strings would rank by sampled quantile —
not implemented, rejected loudly.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DecimalType,
    NumericType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from goe_spark.functions.casts import quote
from goe_spark.plans.compaction import (
    FooterFacts,
    _data_files,
    _nan_last,
    footer_facts,
    heal_interrupted_swaps,
    partition_dirs,
    rewrite_partition,
)
from goe_spark.plans.metadata import atomic_write_json

BITS = 16  # rank bits per column; 4 columns max fills a signed long
MANIFEST_NAME = "_zorder_manifest.json"
_FILE = "__zfile"
_EPOCH = datetime.date(1970, 1, 1)


def _rankable(schema: StructType, col: str) -> str:
    """The column as a double suitable for linear min/max ranking, as
    Spark SQL text."""
    t = schema[col].dataType
    c = quote(col)
    if isinstance(t, NumericType):
        return f"CAST({c} AS DOUBLE)"
    if isinstance(t, DateType):
        return f"CAST(datediff({c}, DATE'1970-01-01') AS DOUBLE)"
    if isinstance(t, (TimestampType, TimestampNTZType)):
        return f"CAST(unix_micros(CAST({c} AS TIMESTAMP)) AS DOUBLE)"
    raise ValueError(
        f"zorder supports numeric/date/timestamp columns; {col!r} is "
        f"{t.simpleString()} (string ranking needs sampled quantiles)"
    )


def _double(x: float) -> str:
    """``x`` as a DOUBLE constant (a bare ``1.5`` parses as DECIMAL),
    NaN and infinities included."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _linear_ranks(
    schema: StructType,
    cols: list[str],
    stats: dict[str, tuple[float, float]],
) -> list[str]:
    """Each column scaled linearly onto a BITS-bit rank. ``stats`` maps
    column -> (min, max) on the rank scale. NULL ranks as 0 (start of
    the curve) — range predicates never match NULL rows, so their
    placement only affects locality, not pruning correctness."""
    ranks = []
    for c in cols:
        lo, hi = stats[c]
        if lo is None or hi == lo:
            ranks.append("0L")
            continue
        span = _double(float(hi) - float(lo))
        scaled = f"({_rankable(schema, c)} - {_double(float(lo))}) / {span}"
        ranks.append(_rank(f"({scaled}) * {1 << BITS}"))
    return ranks


def _rank(x: str) -> str:
    """floor(x) as a BITS-bit rank, capped at the top; NULL ranks 0."""
    top = (1 << BITS) - 1
    return f"coalesce(least(CAST(floor({x}) AS BIGINT), {top}L), 0L)"


def _interleave(ranks: list[str]) -> str:
    """Bit-interleave BITS-bit rank columns into one Morton key."""
    n = len(ranks)
    return " | ".join(
        f"shiftleft(shiftright({r}, {bit}) & 1, {bit * n + j})"
        for bit in range(BITS)
        for j, r in enumerate(ranks)
    )


def _with_z(df: DataFrame, ranks: list[str]) -> DataFrame:
    """``df`` + the ``__z`` Morton key of the SQL ``ranks``. Each rank
    is named once and the interleave reads the names, so a rank is
    computed once per row, not once per bit."""
    names = [f"__r{j}" for j in range(len(ranks))]
    return (
        df.selectExpr("*", *[f"{r} AS {n}" for r, n in zip(ranks, names)])
        .selectExpr("*", f"{_interleave(names)} AS __z")
        .drop(*names)
    )


def _quantile_z(
    df: DataFrame, schema: StructType, cols: list[str]
) -> DataFrame:
    """``df`` + a ``__z`` Morton key built from EQUI-DEPTH ranks: each
    column is bucketed on its own approx quantile cuts (one
    Greenwald-Khanna pass for all columns), so a heavily skewed
    distribution still spreads over the full rank range — the linear
    min/max ranking collapses such a column onto a few rank values and
    its dimension stops contributing locality. Bucket boundaries come
    from pyspark.ml's Bucketizer (JVM binary search per row); columns
    whose data has fewer distinct quantiles get proportionally scaled
    ranks. NULLs land in Bucketizer's invalid bucket and rank LAST
    (capped at max rank) — placement only affects locality, never
    pruning correctness (range predicates don't match NULL)."""
    from pyspark.ml.feature import Bucketizer

    # Quantile granularity is deliberately COARSER than the rank range
    # (2^10 equi-depth buckets rescaled onto the 2^16 rank scale): a
    # Greenwald-Khanna sketch's size grows ~1/relativeError, so asking
    # for 65535 cuts at 4e-6 error would blow up driver memory on any
    # real table — 1024 buckets bound the sketch while still giving
    # file-grain layouts (even 4096 files only consume 12 curve bits).
    n_buckets = 1 << 10
    probs = [i / n_buckets for i in range(1, n_buckets)]
    in_cols = [f"__v{j}" for j in range(len(cols))]
    out_cols = [f"__b{j}" for j in range(len(cols))]
    work = df.selectExpr(
        "*",
        *[f"{_rankable(schema, c)} AS {v}" for c, v in zip(cols, in_cols)],
    )
    cuts = work.approxQuantile(in_cols, probs, 1.0 / (4 * n_buckets))
    splits_arr = [[float("-inf"), *sorted(set(c)), float("inf")] for c in cuts]
    bucketed = Bucketizer(
        splitsArray=splits_arr,
        inputCols=in_cols,
        outputCols=out_cols,
        handleInvalid="keep",
    ).transform(work)
    ranks = [  # rescale each column's buckets onto the full rank range
        _rank(f"__b{j} * {_double((1 << BITS) / (len(splits_arr[j]) - 1))}")
        for j in range(len(cols))
    ]
    return _with_z(bucketed, ranks).drop(*in_cols, *out_cols)


@dataclass
class ZorderReport:
    n_files: int
    cols: list[str]
    manifest_path: str


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    rank: str = "linear",
) -> ZorderReport:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    Morton curve over ``cols``, then build the per-file min/max
    manifest. The data written is bit-identical in content to ``df``
    (layout only).

    ``rank``: 'linear' (min/max ranking; right when values spread
    evenly) or 'quantile' (equi-depth ranks from an approx-quantile
    pass; right when a column is heavily skewed — linear ranking
    collapses a skewed column onto a few rank values and its dimension
    stops skipping files). The manifest stores raw value bounds either
    way, so pruning semantics are identical."""
    manifest = _write_zordered(df, path, cols, n_files, rank)
    return ZorderReport(
        n_files=len(manifest), cols=list(cols), manifest_path=_mpath(path)
    )


def heal_flat_zorder(target: str) -> bool:
    """Finish or discard a flat zorder swap a crash interrupted: old
    without target = the crash fell between the two renames, so the
    original goes back in; old WITH target = stale cleanup debris that
    would wedge the next rename, discarded; tmp = an incomplete copy,
    discarded. Returns whether anything was healed. Idempotent."""
    target = target.rstrip("/")
    tmp, old = f"{target}.zorder_tmp", f"{target}.zorder_old"
    healed = False
    if os.path.isdir(old):
        if os.path.isdir(target):
            shutil.rmtree(old)
        else:
            os.rename(old, target)
        healed = True
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
        healed = True
    return healed


def zorder_flat_table(
    df: DataFrame,
    target: str,
    cols: list[str],
    n_files: int = 16,
    rank: str = "linear",
) -> ZorderReport:
    """Re-cluster the flat parquet table at ``target`` (which ``df``
    reads) in place. Crash-safe: the clustered copy is COMPLETE in a
    sibling ``.zorder_tmp`` dir before two renames swap it in, so a
    crash leaves the original (tmp partial), both renamed halves, or
    the new table plus a stale ``.zorder_old`` — each healed by
    ``heal_flat_zorder``, which this begins with. An in-place
    overwrite backed only by localCheckpoint would destroy the table
    on a crash or an executor loss mid-write."""
    target = target.rstrip("/")
    heal_flat_zorder(target)
    tmp, old = f"{target}.zorder_tmp", f"{target}.zorder_old"
    rep = write_zordered(df, tmp, cols, n_files=n_files, rank=rank)
    os.rename(target, old)
    os.rename(tmp, target)
    shutil.rmtree(old)
    rep.manifest_path = _mpath(target)
    return rep


def _write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    rank: str,
    old: FooterFacts | None = None,
) -> dict[str, dict[str, list]]:
    """write_zordered's body; returns the manifest. ``old``: footer
    facts (with ``cols`` bounds) of the files ``df`` reads, which
    serve the linear ranks' min/max when they can."""
    if not 2 <= len(cols) <= 64 // BITS:
        raise ValueError(
            f"zorder needs 2..{64 // BITS} columns, got {len(cols)}"
        )
    # A rewrite reads ``df`` with the schema its footers record.
    schema = (old and old.schema) or df.schema
    if rank == "quantile":
        zdf = _quantile_z(df, schema, cols)
    elif rank == "linear":
        old_bounds = _footer_manifest(schema, cols, old and old.bounds)
        if old_bounds is not None:
            stats = _overall_bounds(old_bounds, cols)
        else:
            row = df.selectExpr(
                *[f"{f}({_rankable(schema, c)})" for c in cols for f in ("min", "max")]
            ).first()
            stats = {
                c: (row[2 * i], row[2 * i + 1]) for i, c in enumerate(cols)
            }
        zdf = _with_z(df, _linear_ranks(schema, cols, stats))
    else:
        raise ValueError(f"rank must be 'linear' or 'quantile': {rank!r}")
    (
        zdf.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    written = footer_facts(path, _data_files(path), cols)
    manifest = _footer_manifest(schema, cols, written.bounds)
    if manifest is None:
        # The files hold df's schema: read them back without inferring it.
        read = df.sparkSession.read.schema(schema).parquet(path)
        manifest = _spark_manifest(read, cols)
    atomic_write_json(_mpath(path), manifest)
    return manifest


def _mpath(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def _footer_rank(t):
    """Maps a footer min/max of Spark type ``t`` onto the rank scale
    exactly as ``_rankable``'s cast does; None for types whose footer
    values the rank scale can't take (decimals, timestamps), which
    fall back to a Spark aggregate."""
    if isinstance(t, DateType):
        return lambda v: float((v - _EPOCH).days)
    if isinstance(t, NumericType) and not isinstance(t, DecimalType):
        return float
    return None


def _footer_manifest(
    schema: StructType, cols: list[str], bounds: dict | None
) -> dict[str, dict[str, list]] | None:
    """FooterFacts bounds on the rank scale, or None when some footer
    or some column type can't answer."""
    if bounds is None:
        return None
    conv = {c: _footer_rank(schema[c].dataType) for c in cols}
    if None in conv.values():
        return None
    return {
        f: {
            c: [None if v is None else conv[c](v) for v in per_col[c]]
            for c in cols
        }
        for f, per_col in bounds.items()
    }


def _overall_bounds(
    manifest: dict[str, dict[str, list]], cols: list[str]
) -> dict[str, tuple]:
    """Per column, (min, max) over the files of a manifest — what one
    Spark min/max aggregate over those files returns."""
    out = {}
    for c in cols:
        los = [m[c][0] for m in manifest.values() if m[c][0] is not None]
        his = [m[c][1] for m in manifest.values() if m[c][1] is not None]
        out[c] = (
            min(los, key=_nan_last) if los else None,
            max(his, key=_nan_last) if his else None,
        )
    return out


def build_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> dict[str, dict[str, list]]:
    """{file_name: {col: [min, max]}} over the clustered columns,
    recomputed by Spark (one aggregate grouped on input_file_name) and
    persisted to MANIFEST_NAME inside ``path``. Zorder itself takes
    these bounds from the footers of the files it wrote; this is the
    engine-side recompute that keeps those semantics testable. Bounds
    are stored on the RANK scale (epoch days/micros for temporal
    columns) so JSON stays typed-neutral."""
    manifest = _spark_manifest(spark.read.parquet(path), cols)
    atomic_write_json(_mpath(path), manifest)
    return manifest


def _spark_manifest(
    df: DataFrame, cols: list[str]
) -> dict[str, dict[str, list]]:
    schema = df.schema
    per_file = (
        df.selectExpr(
            f"input_file_name() AS {_FILE}",
            *[f"{_rankable(schema, c)} AS {quote(c)}" for c in cols],
        )
        .groupBy(_FILE)
        .agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        )
        .collect()
    )
    return {
        os.path.basename(r[_FILE]): {
            c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in cols
        }
        for r in per_file
    }


def prune_files(
    path: str, bounds: dict[str, tuple[float | None, float | None]]
) -> tuple[list[str], int]:
    """Files whose manifest ranges intersect EVERY (lo, hi) bound
    (None = unbounded on that side; bounds on the rank scale — epoch
    days/micros for temporal columns). Returns (surviving file paths,
    total file count). A file with NULL-only bounds for a bounded
    column is skipped — range predicates never match NULL."""
    with open(_mpath(path)) as fh:
        manifest = json.load(fh)
    survivors = []
    for fname, colstats in manifest.items():
        keep = True
        for c, (lo, hi) in bounds.items():
            if c not in colstats:
                raise KeyError(f"{c!r} not in zorder manifest for {path}")
            fmin, fmax = colstats[c]
            if fmin is None:
                keep = False
                break
            if (lo is not None and fmax < lo) or (
                hi is not None and fmin > hi
            ):
                keep = False
                break
        if keep:
            survivors.append(os.path.join(path, fname))
    return survivors, len(manifest)


def read_pruned(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple[float | None, float | None]],
) -> tuple[DataFrame | None, int, int]:
    """Manifest-pruned read: (DataFrame over surviving files | None if
    zero survive, n_read, n_total). The caller still applies the exact
    predicate — the manifest only shrinks the file list, the same
    contract as partition pruning."""
    files, total = prune_files(path, bounds)
    if not files:
        return None, 0, total
    return spark.read.parquet(*files), len(files), total


@dataclass
class PartitionedZorderReport:
    partitions_rewritten: int = 0
    partitions_healed: int = 0
    files_after: int = 0


def zorder_partitioned_table(
    spark: SparkSession,
    path: str,
    cols: list[str],
    partition_col: str = "goe_part_key",
    n_files: int = 4,
    rank: str = "linear",
) -> PartitionedZorderReport:
    """Re-cluster EVERY partition of a Hive-partitioned target on the
    Morton curve, each behind compaction's marker-driven crash-safe
    swap — so zorder composes with the offload layout instead of
    refusing it (the flat CLI path): partition pruning on
    ``partition_col`` stays native, and the per-partition manifest
    adds file skipping WITHIN each partition.

    Crash contract is compaction's: the clustered copy is complete in
    a dot-prefixed temp dir before the marker arms; any crash is
    healed by the next run (which this one begins with). The old
    manifest is removed IN the swap and the fresh one (computed on the
    temp copy, whose file names the swap keeps) written after —
    a crash in between leaves a manifest-less partition, which
    read_pruned_partitioned treats as unprunable-but-correct (reads
    all its files) until the next zorder pass."""
    report = PartitionedZorderReport()
    report.partitions_healed = len(heal_interrupted_swaps(path))
    part_dirs = partition_dirs(path, partition_col)
    if not part_dirs:
        raise ValueError(
            f"{path} has no {partition_col}= partition directories; "
            "use write_zordered for flat tables"
        )

    def _rewrite_one(d: str) -> int:
        manifest: dict = {}

        def write(df: DataFrame, tmp: str, old: FooterFacts) -> None:
            # Keyed by bare file names, which the swap keeps: this is
            # the partition's manifest once the files are moved in.
            manifest.update(_write_zordered(df, tmp, cols, n_files, rank, old))

        _, _, n_files_after = rewrite_partition(
            spark, path, d, write, bounds_cols=cols
        )
        atomic_write_json(_mpath(os.path.join(path, d)), manifest)
        return n_files_after

    # Partitions are INDEPENDENT (own dirs, own markers, own temp
    # dirs), so a driver thread pool overlaps the per-partition
    # rewrite jobs instead of running a month-partitioned table's
    # dozens of tiny actions strictly back to back (guide §2.6 —
    # 3-4 jobs in flight fills each job's straggler tail). The crash
    # contract is per partition and unchanged: a failure mid-pool
    # leaves every partition either swapped or marker-armed, and the
    # next run's heal pass completes the armed ones.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    workers = max(1, min(4, len(part_dirs)))
    with ThreadPoolExecutor(max_workers=workers) as tp:
        for n_after in tp.map(
            inheritable_thread_target(spark)(_rewrite_one), part_dirs
        ):
            report.files_after += n_after
            report.partitions_rewritten += 1
    return report


def read_pruned_partitioned(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple[float | None, float | None]],
    partition_col: str = "goe_part_key",
) -> tuple[DataFrame | None, int, int]:
    """Manifest-pruned read across a partitioned target: every
    partition's manifest shrinks its file list (a manifest-less
    partition contributes all its files — correct, just unpruned);
    the union reads with basePath so ``partition_col`` survives.
    Returns (DataFrame | None, files_read, files_total)."""
    files: list[str] = []
    total = 0
    for d in partition_dirs(path, partition_col):
        full = os.path.join(path, d)
        if os.path.exists(_mpath(full)):
            keep, n = prune_files(full, bounds)
            files.extend(keep)
            total += n
        else:
            part_files = [
                os.path.join(full, f) for f in _data_files(full)
            ]
            files.extend(part_files)
            total += len(part_files)
    if not files:
        return None, 0, total
    return (
        spark.read.option("basePath", path).parquet(*files),
        len(files),
        total,
    )
