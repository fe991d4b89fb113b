"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same config
block is what we would ship to a 1000-executor cluster — AQE owns the
shuffle-partition decision at runtime, broadcast threshold is left to
Spark's default (10 MB) plus explicit ``broadcast()`` hints on
dimension tables, and the session timezone is pinned to UTC so
timestamp semantics match the DuckDB correctness oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the local[32]/128GiB test box; on a real cluster the same
# settings hold except shuffle.partitions, which AQE coalesces anyway.
_DEFAULT_CONF = {
    # AQE: runtime re-planning (skew-join splitting, partition
    # coalescing, dynamic join-strategy switch). Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's coalescing floor. The engine's hot stages are expression-
    # dense and byte-light (collected group arrays, candidate pairs,
    # hash keys), so the stock 1 MB floor folds real CPU stages onto
    # 1-2 cores (r13 §15 measured a 1.7 s single task behind a 551 KB
    # exchange). Env-overridable for A/B; scale-safe either way —
    # at volume the 64 MB advisory target dominates and the floor
    # only governs small stages.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "GOE_AQE_MIN_PARTITION_SIZE", "1m"
    ),
    # Deterministic timestamp semantics (matches DuckDB oracle).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scan: pushdown + pruning are defaults, stated here as
    # load-bearing config we rely on.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # ANSI off by default: GOE semantics are "cast failure => NULL"
    # (SAFE_CAST); we use try_* functions explicitly where it matters.
    # The VERIFICATION stack (tools/check_oracle.py, the oracle pytest
    # gate, bench.py) overrides this to "true" for driver parity —
    # round 11 proved an ANSI-off mirror is blind to DIVIDE_BY_ZERO /
    # CAST_INVALID_INPUT bugs the driver's ANSI-on session raises.
    # Env override SPARK_GRAFT_ANSI=1/0 wins over both.
    "spark.sql.ansi.enabled": "false",
    # events.parquet carries TIMESTAMP(NANOS) which Spark has no native
    # type for; read as long and convert in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Janino-compiled classes the JVM keeps, LRU-evicted past this
    # count (Spark's default is 100). One warm offload pass runs 109
    # distinct generated classes and the 8-query registry slice ~180;
    # a cyclic working set larger than an LRU misses on nearly every
    # access, so at 100 each warm pass recompiled ~70 and 175 of them
    # (0.6-1.9 s of single-threaded driver time). 1000 leaves 5x
    # headroom at ~2.6 KB of bytecode per class. Static: fixed by the
    # first session in a JVM and shared by every later one.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


# goe_spark/jvm: a local file system whose setPermission uses java.nio.
# Without libhadoop, Hadoop's RawLocalFileSystem forks ``chmod`` for
# every file, .crc sidecar and directory it creates (~4 ms each).
# Checksums are kept: the class is still a LocalFileSystem. Rebuild
# the jar with tools/build_localfs_jar.sh.
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "goe-localfs.jar"
)
LOCAL_FS_CLASS = "goe.NioLocalFileSystem"


def _local_fs_conf(master: str, conf: dict[str, str]) -> None:
    """Name the non-forking local FS in ``conf`` when every task runs
    in the driver JVM (``local`` / ``local[...]``): the jar goes on the
    driver classpath only. Other masters keep stock Hadoop."""
    if not (master == "local" or master.startswith("local[")):
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        return  # a running context keeps its classpath and file system
    jvm = SparkContext._jvm
    if jvm is not None and jvm.org.apache.hadoop.conf.Configuration(
        False
    ).getClassByNameOrNull(LOCAL_FS_CLASS) is None:
        # A JVM started without the jar keeps its classpath.
        return
    cp = conf.get("spark.driver.extraClassPath")
    conf["spark.driver.extraClassPath"] = (
        f"{cp}{os.pathsep}{LOCAL_FS_JAR}" if cp else LOCAL_FS_JAR
    )
    conf.setdefault("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "goe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``shuffle_partitions`` defaults to the local core count — AQE
    coalesces down from there; on a cluster you'd set it high (or rely
    on spark.sql.adaptive.coalescePartitions.initialPartitionNum).

    On a live session only what the caller asks for is applied
    (``shuffle_partitions`` if given, ``extra_conf`` and the
    ``SPARK_GRAFT_ANSI`` override): the defaults would overwrite what
    the session's owner set, e.g. for an in-process CLI command.
    """
    session = SparkSession._instantiatedSession
    live = session is not None and session._sc._jsc is not None
    if live:
        builder = SparkSession.builder
        conf = {}
        if shuffle_partitions:
            conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        master = master or default_master()
        builder = SparkSession.builder.appName(app_name).master(master)
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        conf = dict(_DEFAULT_CONF)
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cores)
        # Listing a partitioned table past the parallel-discovery
        # threshold (32 paths) runs one Spark task per path by default:
        # a read-back of an 83-month target scheduled 83 tasks to list
        # 83 tiny dirs. One task per core lists the same paths in a
        # single wave; the threshold stays, since a serial driver-side
        # listing is the slow path at 10k partitions on an object store.
        conf["spark.sql.sources.parallelPartitionDiscovery.parallelism"] = str(
            cores
        )
    if extra_conf:
        conf.update(extra_conf)
    if not live:
        _local_fs_conf(master, conf)
    ansi_env = os.environ.get("SPARK_GRAFT_ANSI")
    if ansi_env is not None:
        conf["spark.sql.ansi.enabled"] = (
            "true" if ansi_env.lower() in ("1", "true") else "false"
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
