"""Test-data catalog: load the driver's parquet tables.

Mirrors the reference's frontend/backend table abstraction at its
simplest (a named table you can read) — the full typed-source
machinery lives in goe_spark.sources.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any realistic scale
# factor (region=5, nation=25 rows; supplier/part grow with SF but
# stay far below lineitem).
BROADCAST_DIMS = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The events fixture's ts column has shipped both as parquet
# TIMESTAMP(NANOS) (reads as long with nanosAsLong) and as
# TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ). Sniff once per sf_dir —
# the footer read costs a driver round-trip that dedup_event_counts
# would otherwise pay four times per query.
_EVENTS_TS_CACHE: dict[str, object] = {}


def events_ts_type(spark: SparkSession, sf_dir: str):
    """The raw (pre-normalization) Spark type of events.ts at sf_dir.

    The nanosAsLong conf is session-scoped but the cache is
    process-global, so the conf is set UNCONDITIONALLY — a second
    session hitting the cache still needs it for its own reads."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if sf_dir not in _EVENTS_TS_CACHE:
        _EVENTS_TS_CACHE[sf_dir] = (
            spark.read.parquet(table_path(sf_dir, "events"))
            .schema["ts"]
            .dataType
        )
    return _EVENTS_TS_CACHE[sf_dir]


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to one canonical type: TimestampType at
    microsecond resolution, whatever encoding the fixture shipped with.

    - long nanos -> truncate to micros (what micro-resolution engines,
      DuckDB included, see).
    - TIMESTAMP_NTZ -> cast to TimestampType. The session timezone is
      pinned UTC (session.py), so the instant is unchanged; downstream
      consumers (unix_micros, window(), the streaming twin) then see a
      single type.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Reader-plan cache: spark.read.parquet costs a driver round-trip
# (py4j + a parquet footer read for schema inference) EVERY call —
# 80-200 ms on the bench box, paid 1-3x per query invocation across
# the whole registry. The DataFrame object is an immutable lazy plan,
# so reusing it is pure plan-level reuse: every execution still scans
# the parquet files; no row ever persists here. The key carries the
# file set's (mtime, size) fingerprint so a regenerated fixture (the
# scale probes rewrite .scale dirs in place) invalidates the entry,
# and the session id so a restarted JVM never serves a stale plan.
_TABLE_DF_CACHE: dict[tuple, DataFrame] = {}


def _path_fingerprint(path: str) -> tuple:
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    parts = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            s = os.stat(os.path.join(root, f))
            parts.append((f, s.st_mtime_ns, s.st_size))
    return tuple(parts)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # ts may be parquet TIMESTAMP(NANOS), which Spark rejects
        # unless nanosAsLong is set. Set it here (runtime-settable) so
        # the read works on ANY session, not just ours from session.py
        # — the correctness driver builds its own unconfigured session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    # the session OBJECT is part of the key (identity hash): holding
    # it prevents id-reuse serving a stale plan to a new session
    key = (spark, path, _path_fingerprint(path))
    df = _TABLE_DF_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(path)
        if name == "events":
            df = normalize_events_ts(df)
        _TABLE_DF_CACHE[key] = df
    return df


# Expression memo: a Column is an immutable, unresolved expression
# tree — a pure plan object holding no data and bound to no session,
# only to the process-wide py4j gateway. Building a large tree (the
# media synthesis + header parsers run to hundreds of Column ops)
# costs one py4j round-trip PER op — 0.3-1.4 s of driver time per
# query call at bench load. Build once per SparkContext and reuse,
# prepared-statement style: what is reused is the unresolved plan
# fragment, never data. Keyed on the context OBJECT so a restarted
# JVM rebuilds and id-reuse can never serve a stale gateway ref.
_EXPR_MEMO: dict = {}


def memo_exprs(name: str, builder):
    """Return builder()'s Column structure, memoized per (name, active
    SparkContext). builder must be pure: literals + F.col references
    only, no DataFrame or session capture."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = (name, sc)
    out = _EXPR_MEMO.get(key)
    if out is None:
        out = builder()
        _EXPR_MEMO[key] = out
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql access."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def spread(df: DataFrame, key: str) -> DataFrame:
    """Ensure a CPU-heavy downstream projection gets real parallelism.

    Expression-dominated stages (shingle hashing, signature folds,
    n-gram explodes) inherit the SCAN's partition count — for a small
    single-file table that is ONE task doing all the codegen work
    (round-8 bench measured 37 s on one core for the shingle pass).
    When the input under-splits, hash-repartition the narrow
    projection on ``key`` across the cores; on a many-file corpus
    (the 100 TB case, where maxPartitionBytes already yields
    thousands of splits) the condition is false and NO extra shuffle
    is added."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _scan_partitions_estimate(df) < min(8, target):
        return df.repartition(target, key)
    return df


def pin_cpu_stage(df: DataFrame, *keys: str) -> DataFrame:
    """Pin the partition count of a CPU-heavy, byte-light stage.

    AQE's partition coalescing is BYTE-based: a post-shuffle stage
    holding a few MB of collected groups gets folded into one or two
    partitions even when the work per row (group-local pair
    expansion, array_intersect verification, per-pair dot products)
    is thousands of times the row's size — measured in round 13 as a
    single 1.7 s task behind a 551 KB exchange. A user-specified
    repartition is exempt from coalescing, so this hash-repartitions
    on ``keys`` into exactly defaultParallelism slots — one per core,
    the measured r13/r14 configuration (a 4x multiplier was
    considered and rejected: the pinned stages are single-wave CPU
    work, so more slots only adds scheduling rounds). The group/pair
    key count scales with the data (never with the core count), so
    every slot fills at scale while a local run simply spreads its
    groups across the cores. The exchange it adds carries only the
    already-aggregated rows — KBs, not the corpus.

    Deliberately NOT condition-gated on the child's partition count
    (unlike spread): the child is a post-shuffle relation, so probing
    its partitioning costs a full RDD-graph conversion (measured
    54-170 ms of driver time per call) — more than the no-op exchange
    it would skip — and when the child is already wide the optimizer
    collapses an adjacent redundant repartition anyway. Placement
    rules (r13 §15): pin BELOW the aggregate whose clustering it
    satisfies, never above it on the aggregate's own keys."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, *keys)


def _scan_partitions_estimate(df: DataFrame) -> int:
    """Estimated partition count of ``df``'s scan — the input to
    spread's under-split decision. For a file-backed frame (every
    production caller: load_table output or a curation stage's
    parquet, possibly filtered/projected — narrow ops keep the scan's
    partitioning) the count follows from file sizes alone:
    ceil(bytes / maxPartitionBytes)-ish, which is exact enough for a
    "< 8 partitions?" threshold and costs ONE plan analysis
    (inputFiles) instead of the full RDD-graph conversion
    df.rdd.getNumPartitions() forces — measured 25 ms vs 54-170 ms
    per call, a real tax across the 200+-query registry. Non-file
    frames (createDataFrame fixtures in tests) fall back to the
    exact RDD probe."""
    import urllib.parse
    import urllib.request

    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - defensive
        files = []
    if not files:
        return df.rdd.getNumPartitions()
    total = 0
    for f in files:
        p = urllib.parse.urlparse(f)
        local = urllib.request.url2pathname(p.path) if p.scheme else f
        try:
            total += os.stat(local).st_size
        except OSError:
            return df.rdd.getNumPartitions()
    max_split = 128 * 1024 * 1024  # spark.sql.files.maxPartitionBytes
    return max(1, (total + max_split - 1) // max_split)
