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
   hyper-rectangle of the clustered space (a partitioned table: one
   plan for all P partitions, ``repartitionByRange`` on (partition, z));
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

Re-clustering a table in place runs behind compaction's marker swap: a
partitioned table swaps each partition's files, a flat one is replaced
whole (old aside, new in, one rename each); `cli heal` completes either.
"""

from __future__ import annotations

import datetime
import json
import os
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
    PART,
    FooterFacts,
    _data_files,
    _nan_last,
    file_dir,
    footer_facts,
    heal_interrupted_swaps,
    heal_swap,
    partition_dirs,
    rewrite_partitions,
    swap_in,
    swap_tmp,
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
    schema = df.schema
    (
        _z_frame(df, schema, cols, rank)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    (manifest,) = _write_manifests(df.sparkSession, cols, [path])
    return ZorderReport(
        n_files=len(manifest), cols=list(cols), manifest_path=_mpath(path)
    )


def zorder_flat_table(
    df: DataFrame,
    target: str,
    cols: list[str],
    n_files: int = 16,
    rank: str = "linear",
) -> ZorderReport:
    """Re-cluster the flat parquet table at ``target`` (which ``df``
    reads) in place, behind compaction's whole-directory swap: the
    clustered copy is COMPLETE in the staged copy before the swap
    replaces the table whole, and a crash is healed by ``heal_swap``
    (which this begins with; `cli heal`). An in-place overwrite backed
    only by localCheckpoint would destroy the table on a crash or an
    executor loss mid-write."""
    heal_swap(target)
    rep = write_zordered(df, swap_tmp(target), cols, n_files=n_files, rank=rank)
    swap_in(target)
    rep.manifest_path = _mpath(target.rstrip("/"))
    return rep


def _z_frame(
    df: DataFrame,
    schema: StructType,
    cols: list[str],
    rank: str,
    old: list[dict[str, dict[str, list]]] | None = None,
) -> DataFrame:
    """``df`` + the ``__z`` Morton key over ``cols``. The linear ranks'
    min/max come from ``old`` (footer manifests, rank scale, covering
    every file ``df`` reads) when given, else one aggregate."""
    if not 2 <= len(cols) <= 64 // BITS:
        raise ValueError(
            f"zorder needs 2..{64 // BITS} columns, got {len(cols)}"
        )
    if rank == "quantile":
        return _quantile_z(df, schema, cols)
    if rank != "linear":
        raise ValueError(f"rank must be 'linear' or 'quantile': {rank!r}")
    if old is not None:
        stats = _overall_bounds(old, cols)
    else:
        row = df.selectExpr(
            *[f"{f}({_rankable(schema, c)})" for c in cols for f in ("min", "max")]
        ).first()
        stats = {c: (row[2 * i], row[2 * i + 1]) for i, c in enumerate(cols)}
    return _with_z(df, _linear_ranks(schema, cols, stats))


def _mpath(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def _write_manifests(
    spark: SparkSession, cols: list[str], dirs: list[str]
) -> list[dict[str, dict[str, list]]]:
    """Write and return each directory's manifest, from the footers of
    its files; when some footer cannot answer, from one aggregate over
    all ``dirs``, read with the Spark schema the footers record."""
    facts = [footer_facts(d, _data_files(d), cols) for d in dirs]
    manifests = [
        f.schema and _footer_manifest(f.schema, cols, f.bounds) for f in facts
    ]
    if None in manifests:
        schema = next((f.schema for f in facts if f.schema), None)
        reader = spark.read if schema is None else spark.read.schema(schema)
        index = {os.path.basename(d): i for i, d in enumerate(dirs)}
        manifests = [{} for _ in dirs]
        for uri, bounds in _spark_manifest(reader.parquet(*dirs), cols).items():
            manifests[index[file_dir(uri)]][os.path.basename(uri)] = bounds
    for d, manifest in zip(dirs, manifests):
        atomic_write_json(_mpath(d), manifest)
    return manifests


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
    manifests: list[dict[str, dict[str, list]]], cols: list[str]
) -> dict[str, tuple]:
    """Per column, (min, max) over the files of some manifests — what
    one Spark min/max aggregate over those files returns."""
    per_file = [b for m in manifests for b in m.values()]
    out = {}
    for c in cols:
        los = [b[c][0] for b in per_file if b[c][0] is not None]
        his = [b[c][1] for b in per_file if b[c][1] is not None]
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
    manifest = {
        os.path.basename(uri): bounds
        for uri, bounds in _spark_manifest(spark.read.parquet(path), cols).items()
    }
    atomic_write_json(_mpath(path), manifest)
    return manifest


def _spark_manifest(
    df: DataFrame, cols: list[str]
) -> dict[str, dict[str, list]]:
    """{input_file_name: {col: [min, max]}}: one aggregate grouped on
    the file."""
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
        r[_FILE]: {c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in cols}
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
    Morton curve behind compaction's marker swaps: partition pruning
    stays native and each partition's manifest skips files within it.
    One plan covers all P partitions (``rewrite_partitions``): ranks
    are table-wide, then ``repartitionByRange`` on (partition, z) into
    equal-depth ranges, as many as put ``n_files`` of them in the
    largest partition (``n_files * P`` on equal partitions). A range
    can straddle two partitions, so a partition holds at most about
    ``n_files + 1`` files; one with a small share of the rows holds
    fewer. Fresh manifests are written after the swaps; a crash in
    between leaves a manifest-less partition, read unpruned by
    read_pruned_partitioned until the next pass."""
    report = PartitionedZorderReport()
    report.partitions_healed = len(heal_interrupted_swaps(path))
    dirs = partition_dirs(path, partition_col)
    if not dirs:
        raise ValueError(
            f"{path} has no {partition_col}= partition directories; "
            "use write_zordered for flat tables"
        )

    def plan(df: DataFrame, olds: list[FooterFacts]) -> DataFrame:
        old = [_footer_manifest(df.schema, cols, o.bounds) for o in olds]
        rows = [o.rows for o in olds]
        # Equal-depth ranges sized so the largest partition spans n_files.
        ranges = max(1, n_files * sum(rows) // (max(rows) or 1))
        return (
            _z_frame(df, df.schema, cols, rank, None if None in old else old)
            .repartitionByRange(ranges, PART, "__z")
            .sortWithinPartitions(PART, "__z")
            .drop("__z")
        )

    done = rewrite_partitions(spark, path, dirs, plan, bounds_cols=cols)
    report.partitions_rewritten = len(done)
    report.files_after = sum(n for *_, n in done)
    _write_manifests(spark, cols, [os.path.join(path, d) for d, *_ in done])
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
        else:
            keep = [os.path.join(full, f) for f in _data_files(full)]
            n = len(keep)
        files.extend(keep)
        total += n
    if not files:
        return None, 0, total
    return (
        spark.read.option("basePath", path).parquet(*files),
        len(files),
        total,
    )
