"""Small-file compaction for offloaded targets.

Incremental offloads append; every chunk writes its own files into
each partition, so a long-running migration fragments the target
(the classic small-file problem: file-listing latency, tiny row
groups, scan task overhead). The reference leans on the warehouse to
manage storage; a parquet-on-DFS backend has to do it itself.

Spark-first design: selection is metadata-only (file listing, no data
read); only partitions whose file count exceeds the threshold are
rewritten. Rewrites are per-partition so restart scope is one
partition, and untouched partitions keep their files byte-identical.

Crash safety (directories cannot be renamed atomically over data):
the swap is marker-driven. Compacted data is written to a DOT-PREFIXED
temp dir (invisible to Spark readers and to the partition scan), a
swap marker recording the old file list is written atomically, and
only then are old files deleted and new files moved in; the marker is
removed last. Every run begins by HEALING: a marker found on disk
means a crash interrupted a swap, and the heal completes it (delete
listed old files still present, move remaining temp files in).
Marker-less temp dirs are leftovers from a crash before the marker
and are discarded — the partition is still intact and will simply be
recompacted. The only externally visible inconsistency is the window
after a crash mid-swap and before the next run's heal.

Every partition rewrite (compaction, targeted delete, partitioned
zorder) goes through ``rewrite_partition``. Its schema and its row
checks on the old and new files come from the parquet footers — the
metadata Spark's own count of a parquet directory reads — so a
rewrite is one Spark write job, with no inference or count jobs.

At 100 TB you run this as a background janitor over partitions the
chunker has finished with (HWM-closed partitions never receive new
appends, so compaction and ingest don't race).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

from goe_spark.plans.metadata import atomic_write_json
from goe_spark.sinks.backend_writer import is_dfs_uri

# Footer key holding the Spark schema a file was written with.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class CompactionReport:
    partitions_scanned: int = 0
    partitions_compacted: int = 0
    partitions_healed: int = 0
    files_before: int = 0
    files_after: int = 0
    details: list = field(default_factory=list)  # (partition, before, after)


def _data_files(d: str) -> list[str]:
    return [
        f
        for f in os.listdir(d)
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
    ]


def partition_dirs(path: str, partition_col: str | None = None) -> list[str]:
    """The Hive partition directories (``col=value``, the Hive null dir
    included) of a partitioned root, sorted; only ``partition_col``'s
    when given. Never a directory Spark's reader hides: a ``.`` prefix
    (maintenance debris — compact tmp dirs, markers) or a ``_`` prefix
    without ``=`` (a leftover ``_temporary``)."""
    return sorted(
        d
        for d in os.listdir(path)
        if "=" in d
        and not d.startswith(".")
        and partition_col in (None, d.split("=", 1)[0])
        and os.path.isdir(os.path.join(path, d))
    )


def _tmp_dir(path: str, d: str) -> str:
    # Dot-prefixed: invisible to Spark readers AND to the partition
    # scan (which matches 'partition_col=' prefixes).
    return os.path.join(path, f".{d}._compact_tmp")


def _marker_path(path: str, d: str) -> str:
    return os.path.join(path, f".compact_swap.{d}.json")


def _complete_swap(path: str, d: str, old_files: list[str]) -> int:
    """Finish a marker-recorded swap: remove listed old files still
    present, move remaining temp files in, clean up. Idempotent.
    Returns the partition's final data-file count."""
    full = os.path.join(path, d)
    tmp = _tmp_dir(path, d)
    for f in old_files:
        p = os.path.join(full, f)
        if os.path.exists(p):
            os.remove(p)
    if os.path.isdir(tmp):
        for f in _data_files(tmp):
            shutil.move(os.path.join(tmp, f), os.path.join(full, f))
        shutil.rmtree(tmp)
    # Any rewrite through this swap (compaction, targeted delete,
    # merge, zorder-partitioned) invalidates the partition's bloom
    # and zorder manifests: the files they described are gone (a
    # stale zorder manifest would list deleted files and miss new
    # ones). Rebuild with `cli bloom` / `cli zorder` after
    # maintenance; zorder writes its fresh one right after its swap.
    from goe_spark.plans.bloom_skip import BLOOM_MANIFEST_NAME
    from goe_spark.plans.zorder import MANIFEST_NAME

    for name in (BLOOM_MANIFEST_NAME, MANIFEST_NAME):
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(full, name))
    os.remove(_marker_path(path, d))
    return len(_data_files(full))


@dataclass
class FooterFacts:
    """What the parquet footers of a set of files record."""

    rows: int
    # The Spark schema the files were written with; None (the reader
    # infers) for foreign files.
    schema: StructType | None
    # {file name: {col: [min, max]}} over the files holding rows, the
    # way Spark's own min/max sees them ([None, None] for an all-NULL
    # column); None when some footer cannot answer for some column.
    bounds: dict[str, dict[str, list]] | None


def _nan_last(v):
    # Spark orders NaN above every other double; parquet-mr writes
    # min/max in the same order.
    return (isinstance(v, float) and math.isnan(v), v)


def _column_bounds(meta, j: int) -> list | None:
    """[min, max] of column ``j`` over the row groups of one footer,
    or None when the footer cannot answer: a row group holding values
    has no min/max (written without statistics, or a type pyarrow
    cannot decode), or a floating column came from a writer other than
    parquet-mr (Arrow's writer leaves NaN out of min/max, so NaN rows
    would slip past a pruned range predicate)."""
    import pyarrow as pa

    lo = hi = None
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        if rg.num_rows == 0:
            continue
        col = rg.column(j)
        if col.physical_type in ("FLOAT", "DOUBLE") and not (
            meta.created_by or ""
        ).startswith(("parquet-mr", "parquet-java")):
            return None
        st = col.statistics
        if st is None:
            return None
        if not st.has_min_max:
            if st.has_null_count and st.null_count == rg.num_rows:
                continue  # all NULL
            return None
        try:
            mn, mx = st.min, st.max
        except pa.ArrowException:
            return None
        if lo is None or _nan_last(mn) < _nan_last(lo):
            lo = mn
        if hi is None or _nan_last(mx) > _nan_last(hi):
            hi = mx
    return [lo, hi]


def footer_facts(d: str, files: list[str], cols=()) -> FooterFacts:
    """Row count, Spark schema and, for ``cols``, per-file min/max of
    parquet ``files`` in ``d``, from their footers read on the driver
    — the driver-side reader for every footer question the write path
    asks, so none of them costs a Spark job."""
    import pyarrow.parquet as pq

    facts = FooterFacts(0, None, {} if cols else None)
    for f in files:
        meta = pq.read_metadata(os.path.join(d, f))
        facts.rows += meta.num_rows
        raw = (meta.metadata or {}).get(SPARK_SCHEMA_KEY)
        if facts.schema is None and raw:
            facts.schema = StructType.fromJson(json.loads(raw))
        if facts.bounds is None or meta.num_rows == 0:
            continue
        index = {
            meta.schema.column(j).path: j for j in range(meta.num_columns)
        }
        per_col = {
            c: _column_bounds(meta, index[c]) if c in index else None
            for c in cols
        }
        if None in per_col.values():
            facts.bounds = None
        else:
            facts.bounds[f] = per_col
    return facts


def _first_data_file(path: str) -> str | None:
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            return os.path.join(root, data[0])
    return None


def footer_reader(spark: SparkSession, path: str) -> DataFrameReader:
    """``spark.read`` carrying the Spark schema in the footer of
    ``path``, or of the first data file under it (a flat directory or
    a Hive-partitioned root): reading back files Spark wrote then runs
    no schema-inference job. A Hive partition column is still inferred
    from the directory names, and file sources read every column as
    nullable whatever the recorded schema says. Foreign files, an
    empty tree or a DFS URI leave the reader to infer."""
    import pyarrow as pa

    first = None if is_dfs_uri(path) else _first_data_file(path)
    schema = None
    if first is not None:
        d, f = os.path.split(first)
        try:
            schema = footer_facts(d, [f]).schema
        except (OSError, pa.ArrowException):
            pass  # not parquet: the reader's own error is clearer
    return spark.read if schema is None else spark.read.schema(schema)


def rewrite_partition(
    spark: SparkSession,
    path: str,
    d: str,
    write: Callable[[DataFrame, str, FooterFacts], object],
    deleting: bool = False,
    bounds_cols=(),
) -> tuple[int, int, int] | None:
    """Rewrite partition directory ``d`` of the table at ``path``
    behind the crash-safe marker swap; the caller heals the table
    first. ``write(df, tmp, old)`` writes the partition's new contents
    to the temp dir, ``df`` read with the schema its footers record
    and ``old`` the old files' footer facts (with min/max of
    ``bounds_cols``). The footer row counts of the written files must
    equal the old ones, or be lower when ``deleting`` (equal: no swap,
    returns None). Returns (rows before, rows after, data files
    after)."""
    full = os.path.join(path, d)
    old_files = _data_files(full)
    old = footer_facts(full, old_files, bounds_cols)
    n_before = old.rows
    reader = spark.read if old.schema is None else spark.read.schema(old.schema)
    tmp = _tmp_dir(path, d)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write(reader.parquet(full), tmp, old)
    n_after = footer_facts(tmp, _data_files(tmp)).rows
    if (n_after >= n_before) if deleting else (n_after != n_before):
        shutil.rmtree(tmp)
        if deleting and n_after == n_before:
            return None  # nothing left to delete: keep the old files
        raise RuntimeError(  # pragma: no cover - defensive
            f"rewrite of {d} went from {n_before} to {n_after} rows"
        )
    # Marker BEFORE touching the partition: from here a crash at any
    # point is completed by the next run's heal.
    atomic_write_json(
        _marker_path(path, d), {"partition": d, "old_files": old_files}
    )
    return n_before, n_after, _complete_swap(path, d, old_files)


def heal_interrupted_swaps(path: str) -> list[str]:
    """Complete any swap a crash interrupted (marker present) and
    discard marker-less temp dirs (crash before the marker — the
    partition is still intact). Returns healed partition names."""
    healed = []
    for name in sorted(os.listdir(path)):
        if name.startswith(".compact_swap.") and name.endswith(".json"):
            with open(os.path.join(path, name)) as fh:
                marker = json.load(fh)
            _complete_swap(path, marker["partition"], marker["old_files"])
            healed.append(marker["partition"])
    for name in sorted(os.listdir(path)):
        if name.endswith("._compact_tmp") and not os.path.exists(
            _marker_path(path, name[1 : -len("._compact_tmp")])
        ):
            shutil.rmtree(os.path.join(path, name))
    return healed


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    partition_col: str = "goe_part_key",
    max_files_per_partition: int = 4,
    target_files: int = 1,
) -> CompactionReport:
    """Rewrite every partition directory holding more than
    ``max_files_per_partition`` data files down to ``target_files``.
    Data is bit-stable: the rewrite is a plain read+coalesce+write of
    the same rows (footer row counts checked before the swap). Begins
    by healing any swap a previous crash interrupted."""
    report = CompactionReport()
    report.partitions_healed = len(heal_interrupted_swaps(path))
    for d in partition_dirs(path, partition_col):
        full = os.path.join(path, d)
        files = _data_files(full)
        report.partitions_scanned += 1
        report.files_before += len(files)
        if len(files) <= max_files_per_partition:
            report.files_after += len(files)
            continue
        _, _, n_files = rewrite_partition(
            spark,
            path,
            d,
            lambda df, tmp, _old: df.coalesce(target_files)
            .write.mode("overwrite")
            .parquet(tmp),
        )
        report.partitions_compacted += 1
        report.files_after += n_files
        report.details.append((d, len(files), n_files))
    return report
