"""Per-file Bloom-filter manifest for equality-predicate file skipping.

The z-order manifest (plans/zorder.py) prunes RANGE predicates via
per-file min/max; it is useless for point lookups on high-cardinality
keys whose values are spread across every file's range (the takedown /
right-to-be-forgotten scan, a CDC key probe, "fetch doc_id = X").
A per-file Bloom filter answers exactly that: "can this file contain
key = v?" with no false negatives, so a point predicate reads only
the files whose filter fires. This is the same trade Parquet
bloom_filter_enabled and Delta's bloom-filter index make; here it is
an explicit manifest built from stock aggregates so the pruning
happens at FILE granularity before Spark even lists row groups.

Construction: ONE aggregate over the whole table for every indexed
column (and every partition directory):
- map-side: k = {K_HASHES} bit positions per value, from the
  cross-engine md5 hash64 (functions/hashing.py) pushed through the
  (a*h + b) mod p universal family and folded mod m = {M_BITS}, then
  offset by m times the column's index. JVM expressions, no UDF.
- one narrow shuffle groups positions per file: collect_set is
  bounded by m per file and column.
- manifest JSON per directory, written by the driver: {file: {col:
  sorted set-bit positions}}, same lifecycle as the z-order manifest.

Probing runs on the DRIVER with hashlib.md5 — bit-identical to the
Spark expression by construction (pinned by a property test), so a
prune is pure Python over the manifest: no Spark job, no scan.

At 100 TB: the manifest holds <= m ints per (file, col) — thousands
of files times a few KB — while a fired filter skips whole files the
min/max manifest must read. False positives cost one extra file read;
false negatives cannot happen (the no-false-negative property is the
test suite's invariant, not a hope).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
from collections.abc import Callable
from decimal import Decimal
from urllib.parse import unquote

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.functions.casts import quote
from goe_spark.functions.hashing import MERSENNE_P, minhash_coeffs
from goe_spark.plans.compaction import file_dir, footer_reader, partition_dirs
from goe_spark.plans.metadata import atomic_write_json

M_BITS = 1024  # filter width per (file, column)
K_HASHES = 4  # probes per value
BLOOM_MANIFEST_NAME = "_bloom_manifest.json"
_FILE = "__bfile"

# Fixed (a, b) pairs — same deterministic LCG family minhash uses, a
# different seed so bloom positions never correlate with signatures.
_COEFFS = minhash_coeffs(K_HASHES, seed=20240814)


def _positions_sql(col: str) -> str:
    """Spark SQL array of the k bit positions of a column value: the
    hash64 of its string form (md5's first 15 hex chars as a long),
    folded mod p, then each (a*h + b) mod p mod m."""
    h = (
        f"pmod(cast(conv(substring(md5(cast({quote(col)} as string)), 1, 15),"
        f" 16, 10) as bigint), {MERSENNE_P})"
    )
    return "array({})".format(
        ", ".join(
            f"pmod({h} * {a} + {b}, {MERSENNE_P}) % {M_BITS}" for a, b in _COEFFS
        )
    )


def spark_string(value) -> str:
    """``value`` spelled as Spark's CAST(... AS STRING) spells it in a
    column of its type: the running JVM's Double.toString for floats
    (``5.0``, ``1.0E-4``; before JDK 19 some doubles take more digits
    than their shortest repr, ``2.82879384806159008E17``), Java's
    BigDecimal.toString for decimals (at the column's scale:
    ``1.50``), ``true``/``false``, timestamps with their fraction's
    trailing zeros dropped (``2024-01-05 10:00:00.5``); str() otherwise
    (ints, strings, dates)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, Decimal):
        return str(abs(value) if value == 0 else value)  # no -0 in Spark
    if isinstance(value, float):
        return _java_double(value)
    if isinstance(value, datetime.datetime):
        text = value.isoformat(sep=" ", timespec="seconds")
        frac = f"{value.microsecond:06d}".rstrip("0")
        return f"{text}.{frac}" if frac else text
    return str(value)


def _java_double(value: float) -> str:
    """Double.toString of the JVM behind the active SparkContext (a
    py4j call, no Spark job)."""
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("spelling a double probe needs a running SparkContext")
    return sc._jvm.java.lang.Double.toString(value)


def value_positions(value) -> list[int]:
    """The SAME k positions computed driver-side: md5 of the value's
    Spark string form (``spark_string``), first 15 hex chars as the
    60-bit hash, then the identical arithmetic."""
    text = spark_string(value)
    h = int(hashlib.md5(text.encode()).hexdigest()[:15], 16) % MERSENNE_P
    return [((h * a + b) % MERSENNE_P) % M_BITS for a, b in _COEFFS]


def _mpath(path: str) -> str:
    return os.path.join(path, BLOOM_MANIFEST_NAME)


def _bloom_entries(
    table: DataFrame, cols: list[str]
) -> dict[str, dict[str, list[int]]]:
    """{input_file_name: {col: sorted set-bit positions}} for ``cols``
    of ``table``: ONE aggregate over every column, grouped by file,
    whose shuffle carries at most (n_files x m x len(cols)) position
    rows after map-side set-dedup. NULLs are skipped (a NULL never
    matches an equality probe)."""
    codes = ", ".join(
        f"IF({quote(c)} IS NULL, array(),"
        f" transform({_positions_sql(c)}, p -> p + {j * M_BITS}))"
        for j, c in enumerate(cols)
    )
    rows = (
        table.selectExpr(
            f"input_file_name() AS {_FILE}", f"explode(concat({codes})) AS code"
        )
        .groupBy(_FILE)
        .agg(F.sort_array(F.collect_set("code")).alias("codes"))
        .collect()
    )
    out: dict[str, dict[str, list[int]]] = {}
    for r in rows:
        entry = out[r[_FILE]] = {}
        for code in r.codes:  # ascending: each column's list comes sorted
            entry.setdefault(cols[code // M_BITS], []).append(int(code % M_BITS))
    return out


def build_bloom_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> dict:
    """Build and persist the per-file Bloom manifest for ``cols`` of
    the flat table at ``path``."""
    table = footer_reader(spark, path).parquet(path)
    manifest = {
        unquote(os.path.basename(f)): entry
        for f, entry in _bloom_entries(table, cols).items()
    }
    # Atomic: a torn manifest would fail every later bloom-pruned read.
    atomic_write_json(_mpath(path), manifest, indent=None)
    return manifest


def _surviving(
    path: str, fires: Callable[[dict[str, list[int]]], bool]
) -> tuple[list[str], int]:
    """The data files of the FLAT directory ``path`` that are absent
    from its Bloom manifest (written after the build, or no manifest
    at all: correct, just unpruned) or whose entry ``fires``; returns
    (surviving file paths, total data files)."""
    data_files = sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    try:
        with open(_mpath(path)) as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        manifest = {}
    out = [
        os.path.join(path, f)
        for f in data_files
        if f not in manifest or fires(manifest[f])
    ]
    return out, len(data_files)


def prune_files_bloom(
    path: str, equals: dict[str, object]
) -> tuple[list[str], int]:
    """Files that can contain ALL the equality predicates in
    ``equals`` (col -> value): a file survives iff, for every probed
    column it has a filter for, all k positions are set (a column not
    indexed in a file makes no claim)."""
    probe = {c: value_positions(v) for c, v in equals.items()}
    return _surviving(
        path,
        lambda entry: all(
            c not in entry or set(entry[c]).issuperset(ps)
            for c, ps in probe.items()
        ),
    )


def read_pruned_bloom(
    spark: SparkSession, path: str, equals: dict[str, object]
) -> tuple[DataFrame | None, int, int]:
    """Bloom-pruned read: (DataFrame over surviving files | None if
    zero survive, n_read, n_total). The caller still applies the
    exact predicate — same contract as zorder.read_pruned."""
    files, total = prune_files_bloom(path, equals)
    if not files:
        return None, 0, total
    return spark.read.parquet(*files), len(files), total

# --- partitioned layouts -------------------------------------------------


def build_bloom_manifest_partitioned(
    spark: SparkSession, path: str, cols: list[str]
) -> int:
    """One Bloom manifest per partition directory, all from one
    aggregate over the whole table; returns the number of partitions
    indexed."""
    manifests: dict[str, dict] = {d: {} for d in partition_dirs(path)}
    if not manifests:
        return 0
    table = footer_reader(spark, path).parquet(path)
    for f, entry in _bloom_entries(table, cols).items():
        # A file below a nested directory stays unindexed: it survives.
        manifests.get(file_dir(f), {})[unquote(os.path.basename(f))] = entry
    for d, manifest in manifests.items():
        atomic_write_json(_mpath(os.path.join(path, d)), manifest, indent=None)
    return len(manifests)


def prune_files_bloom_in(
    path: str, col: str, keys: list
) -> tuple[list[str], int]:
    """Files that can contain ``col`` IN ``keys`` (any-of probe) in a
    FLAT directory: a file survives iff at least one key's positions
    are all set (or the file/column is unindexed). Same no-false-
    negative contract as the single-value probe."""
    probes = [value_positions(k) for k in keys]

    def fires(entry: dict[str, list[int]]) -> bool:
        if col not in entry:
            return True
        bits = set(entry[col])
        return any(bits.issuperset(ps) for ps in probes)

    return _surviving(path, fires)


def prune_partitioned_bloom_in(
    path: str, col: str, keys: list
) -> tuple[list[str], int]:
    """The any-of probe across every partition of a Hive-partitioned
    root. Returns (surviving file paths, total data files) — the
    phase-1 scan bound for a targeted delete: partitions whose every
    file's filter rejects every doomed key are never read at all."""
    files: list[str] = []
    total = 0
    for d in partition_dirs(path):
        sub, n = prune_files_bloom_in(os.path.join(path, d), col, keys)
        files.extend(sub)
        total += n
    return files, total
