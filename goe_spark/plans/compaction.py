"""Small-file compaction for offloaded targets, and the partition
rewrite every maintenance verb shares.

Incremental offloads append; every chunk writes its own files into
each partition, so a long-running migration fragments the target
(file-listing latency, tiny row groups, scan task overhead). The
reference leans on the warehouse to manage storage; a parquet-on-DFS
backend has to do it itself. Selection is metadata-only (file
listing): only partitions over the file-count threshold are rewritten,
each to one file; the others keep their files byte-identical.

Every partition rewrite (compaction, targeted delete, keyed merge,
partitioned zorder) is one Spark write for all its partitions
(``rewrite_partitions``): the directories are read in one scan, each
row tagged with its directory's index (from input_file_name(); a
merge's staged rows by their directory's name), and written
``partitionBy`` that index into one DOT-PREFIXED temp tree (invisible
to Spark readers and the partition scan), so directory names never
pass through partition-value parsing. Compaction reads each directory
in its own task, so each gets one file with no shuffle. Schemas and
exact row checks come from the footers: no inference or counts.

Crash safety is one marker swap, for any directory: its staged copy
(``.<dir>._compact_tmp``) and marker (``.compact_swap.<dir>.json``,
recording the old entries) live in its PARENT, so healing a directory
touches only its own two names and a partitioned root heals all its
partitions from one listing. The staged copy is complete before the
marker is written atomically; then the listed old entries go, the
staged entries move in (each replacing a namesake directory, so a name
both removed and brought in survives every crash point), and the
marker goes last. A marker without entries (``old_files`` null)
replaces the directory WHOLE: the old one moves aside and the staged
one in, one rename each, so a reader sees the old table or the new,
never a mix. Partition rewrites (compact, delete, merge, partitioned
zorder) swap files inside each partition; flat zorder and SCD2 apply
swap a whole table; the streaming fold swaps batch roots for a new
``base/``. Every run begins by HEALING: a marker on disk means a
crash interrupted a swap, which the heal completes; the temp tree and
marker-less staged copies predate the markers and are discarded. At
100 TB compaction runs as a background janitor over HWM-closed
partitions, which never receive appends, so it and ingest don't race.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import shutil
import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from goe_spark.plans.metadata import atomic_write_json
from goe_spark.sinks.backend_writer import is_dfs_uri

# Footer key holding the Spark schema a file was written with.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
PART = "__goe_part"  # a rewritten directory's index; the temp tree's partition
DIR = "__goe_dir"  # an added row's directory, by its on-disk name
_TREE = ".compact_tree"


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


def file_dir(uri: str) -> str:
    """The on-disk name of the directory of an input_file_name()
    ``uri``: one unquote undoes the URI encoding on top of any Hive
    escaping ('goe_part_key=a%2Fb' arrives as '...a%252Fb/...')."""
    return unquote(uri.rstrip("/").rsplit("/", 2)[-2])


def _tmp_dir(path: str, d: str) -> str:
    # Dot-prefixed: invisible to Spark readers AND to the partition
    # scan (which matches 'partition_col=' prefixes).
    return os.path.join(path, f".{d}._compact_tmp")


def _marker_path(path: str, d: str) -> str:
    return os.path.join(path, f".compact_swap.{d}.json")


_REPLACED = "._replaced"  # a whole swap's old directory, until dropped


def _drop(p: str) -> None:
    """Remove the file or directory tree at ``p``, if there is one."""
    if os.path.isdir(p):
        shutil.rmtree(p)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)


def _move(src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, replacing a directory there: a name
    is dropped only while its replacement still waits in ``src``."""
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.rename(src, dst)


def _complete_swap(path: str, d: str, old_files: list[str] | None) -> int:
    """Finish a marker-recorded swap of directory ``d`` of ``path``:
    drop the listed old entries still present and move the staged ones
    in, or (``old_files`` None) move the old directory aside whole and
    the staged one in its place. Idempotent. Returns the directory's
    final data-file count."""
    full = os.path.join(path, d)
    tmp = _tmp_dir(path, d)
    if old_files is None:
        if os.path.isdir(tmp):
            if os.path.isdir(full):
                _move(full, os.path.join(tmp, _REPLACED))
            _move(tmp, full)
        _drop(os.path.join(full, _REPLACED))
    else:
        for f in old_files:
            _drop(os.path.join(full, f))
        if os.path.isdir(tmp):
            os.makedirs(full, exist_ok=True)  # a partition the swap adds
            for f in os.listdir(tmp):
                if not f.startswith(("_", ".")):
                    _move(os.path.join(tmp, f), os.path.join(full, f))
            shutil.rmtree(tmp)
        # A swap invalidates the partition's bloom and zorder manifests
        # (they describe gone files and miss new ones): rebuild with `cli
        # bloom` / `cli zorder`; zorder writes its own after its swaps.
        from goe_spark.plans.bloom_skip import BLOOM_MANIFEST_NAME
        from goe_spark.plans.zorder import MANIFEST_NAME

        for name in (BLOOM_MANIFEST_NAME, MANIFEST_NAME):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(full, name))
    os.remove(_marker_path(path, d))
    return len(_data_files(full))


def _arm(path: str, d: str, old_files: list[str] | None) -> None:
    atomic_write_json(_marker_path(path, d), {"partition": d, "old_files": old_files})


def swap_tmp(full: str) -> str:
    """Where the staged copy of directory ``full`` is written."""
    return _tmp_dir(*os.path.split(full.rstrip("/")))


def swap_in(full: str, old_files: list[str] | None = None) -> None:
    """Swap the complete staged copy (``swap_tmp(full)``) in behind a
    marker: its entries replace ``old_files`` of ``full`` and their
    namesakes, or (None) it replaces ``full`` whole."""
    path, d = os.path.split(full.rstrip("/"))
    _arm(path, d, old_files)
    _complete_swap(path, d, old_files)


def swap_pending(full: str) -> bool:
    """Whether a crash left the swap of directory ``full`` armed."""
    return os.path.exists(_marker_path(*os.path.split(full.rstrip("/"))))


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


def footer_rows(d: str) -> int:
    """Rows in the data files of directory ``d``, from their footers."""
    return footer_facts(d, _data_files(d)).rows


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


# Compaction reads each directory in one task, as one branch of a union.
# Spark would run a union of single-task branches as ONE task, and plan
# a Sort on the partitionBy column above it that buffers (and past
# executor memory spills) each whole partition. Held for that write
# only: every branch stays its own task, and the writer streams its
# rows into one open file.
_STREAMING_WRITE = {
    "spark.sql.unionOutputPartitioning": "false",
    "spark.sql.optimizer.plannedWrite.enabled": "false",
    "spark.sql.maxConcurrentOutputFileWriters": "1",
}
_CONF_LOCK = threading.Lock()


@contextlib.contextmanager
def _streaming_write(spark: SparkSession):
    with _CONF_LOCK:
        old = {k: spark.conf.get(k) for k in _STREAMING_WRITE}
        try:
            for k, v in _STREAMING_WRITE.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)


def _dir_index(df: DataFrame, dirs: list[str]) -> str:
    """SQL: the index in ``dirs`` of the directory holding the row's
    file (-1: none), matched as input_file_name() spells it
    (URI-encoded, as ``df.inputFiles()`` gives it)."""
    if len(dirs) == 1:
        return "0"
    spelled = {file_dir(f): f.rsplit("/", 2)[-2] for f in df.inputFiles()}
    names = ", ".join(repr(spelled[d]) for d in dirs)  # as SQL string literals
    seg = "substring_index(substring_index(input_file_name(), '/', -2), '/', 1)"
    return f"CAST(array_position(array({names}), {seg}) - 1 AS INT)"


def _merged_schema(olds: list[FooterFacts]) -> StructType | None:
    """Every column the footers record, first type seen: a partition
    lacking a column reads NULL there. None when no footer records a
    Spark schema (the reader infers)."""
    fields = {}
    for o in olds:
        for f in o.schema or ():
            fields.setdefault(f.name, f)
    return StructType(list(fields.values())) if fields else None


def rewrite_partitions(
    spark: SparkSession,
    path: str,
    dirs: list[str],
    plan: Callable[[DataFrame, list[FooterFacts]], DataFrame] = lambda df, _: df,
    delta: dict[str, int] | None = None,
    added: DataFrame | None = None,
    bounds_cols=(),
    one_task_each: bool = False,
) -> list[tuple[str, int]]:
    """Rewrite partition directories in one Spark write, behind the
    marker swaps; the caller heals first. ``plan(df, olds)`` maps ``df``
    (the rows of ``dirs``, read in one scan with the columns their
    footers record and tagged ``PART`` = the directory's index among
    those holding data files) to the rows to write, still tagged;
    ``olds[i]`` are the i-th one's old footer facts (with min/max of
    ``bounds_cols``). ``one_task_each`` reads each directory in one
    task: one file per partition, with no shuffle and no sort. ``added``
    rows join the write in the directory their ``DIR`` column names; one
    outside ``dirs`` keeps its old files. The rows written to ``d`` must
    be its old rows (0 if not read) plus ``delta[d]`` (default 0).
    Returns (dir, data files after) of each swap."""
    delta = delta or {}
    pending = [  # (dir, old files, old footer facts) of each directory read
        (d, files, footer_facts(os.path.join(path, d), files, bounds_cols))
        for d in dirs
        if (files := _data_files(os.path.join(path, d)))
    ]
    read = {d for d, _, _ in pending}
    new = [(d, [], FooterFacts(0, None, None)) for d in delta if d not in read]
    targets = pending + new
    if not targets:
        return []
    parts = []
    if pending:
        olds = [old for _, _, old in pending]
        schema = _merged_schema(olds)
        reader = spark.read if schema is None else spark.read.schema(schema)
        paths = [os.path.join(path, d) for d, _, _ in pending]
        if one_task_each:
            df = functools.reduce(
                DataFrame.unionByName,
                (
                    reader.parquet(p).coalesce(1).selectExpr("*", f"{i} AS {PART}")
                    for i, p in enumerate(paths)
                ),
            )
        else:  # the write sorts each task's rows (one input split) on PART
            df = reader.parquet(*paths)
            index = _dir_index(df, [d for d, _, _ in pending])
            df = df.selectExpr("*", f"{index} AS {PART}")
        parts.append(plan(df, olds))
    if added is not None:
        names = F.array(*[F.lit(d) for d, _, _ in targets])
        index = F.coalesce(F.array_position(names, F.col(DIR)), F.lit(0)) - 1
        parts.append(added.withColumn(PART, index.cast("int")).drop(DIR))
    tree = os.path.join(path, _TREE)
    union = functools.partial(DataFrame.unionByName, allowMissingColumns=True)
    with _streaming_write(spark) if one_task_each else contextlib.nullcontext():
        functools.reduce(union, parts).write.mode("overwrite").partitionBy(
            PART
        ).parquet(tree)
    # Every directory's rows are checked before any is touched: a lost
    # or misrouted row (untraced ones go to PART -1) fails here, with no
    # marker armed.
    subs = [os.path.join(tree, f"{PART}={i}") for i in range(len(targets))]
    rows = [
        footer_facts(s, _data_files(s)).rows if os.path.isdir(s) else 0 for s in subs
    ]
    want = [old.rows + delta.get(d, 0) for d, _, old in targets]
    if rows != want:
        shutil.rmtree(tree)
        raise RuntimeError(f"rows of {path} lost or misrouted: {rows}, not {want}")
    for (d, _, _), sub in zip(targets, subs):
        os.makedirs(sub, exist_ok=True)  # a partition left with no rows
        os.rename(sub, _tmp_dir(path, d))
    shutil.rmtree(tree)
    # Every marker BEFORE any partition is touched: from here a crash
    # at any point is completed by the next run's heal.
    for d, old_files, _ in targets:
        _arm(path, d, old_files)
    return [(d, _complete_swap(path, d, old_files)) for d, old_files, _ in targets]


def _heal(path: str, d: str) -> bool:
    """Complete the armed swap of directory ``d`` of ``path``, or
    discard its unarmed staged copy; True if a swap was completed."""
    try:
        with open(_marker_path(path, d)) as fh:
            old_files = json.load(fh)["old_files"]
    except FileNotFoundError:
        _drop(_tmp_dir(path, d))
        return False
    _complete_swap(path, d, old_files)
    return True


def heal_interrupted_swaps(path: str) -> list[str]:
    """Heal the swaps of the directories of ``path`` (one listing) and
    discard the temp tree. Returns the directories whose swap a crash
    interrupted (marker present), now completed."""
    names = os.listdir(path)
    dirs = {
        n[len(".compact_swap.") : -len(".json")]
        for n in names
        if n.startswith(".compact_swap.") and n.endswith(".json")
    }
    dirs |= {n[1 : -len("._compact_tmp")] for n in names if n.endswith("._compact_tmp")}
    if _TREE in names:
        shutil.rmtree(os.path.join(path, _TREE))
    return [d for d in sorted(dirs) if _heal(path, d)]


def heal_swap(full: str) -> bool:
    """Heal the swap of directory ``full`` itself: its marker and
    staged copy only, never a sibling's. True if a swap was completed."""
    return _heal(*os.path.split(full.rstrip("/")))


def heal_swaps(full: str) -> list[str]:
    """Heal the swap of directory ``full`` itself (reported as ``.``)
    and those of its directories (by name)."""
    own = ["."] if heal_swap(full) else []
    return own + (heal_interrupted_swaps(full) if os.path.isdir(full) else [])


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    partition_col: str = "goe_part_key",
    max_files_per_partition: int = 4,
) -> CompactionReport:
    """Rewrite every partition directory holding more than
    ``max_files_per_partition`` data files down to one file, in one
    shuffle-free write job (each partition's read coalesced to one
    task) of the same rows, footer row counts checked before the swap.
    Begins by healing any swap a previous crash interrupted."""
    report = CompactionReport()
    report.partitions_healed = len(heal_interrupted_swaps(path))
    fragmented = {}
    for d in partition_dirs(path, partition_col):
        n = len(_data_files(os.path.join(path, d)))
        report.partitions_scanned += 1
        report.files_before += n
        if n > max_files_per_partition:
            fragmented[d] = n
        else:
            report.files_after += n
    for d, n_files in rewrite_partitions(
        spark, path, list(fragmented), one_task_each=True
    ):
        report.partitions_compacted += 1
        report.files_after += n_files
        report.details.append((d, fragmented[d], n_files))
    return report
