"""The local file system the session installs (goe_spark/jvm): modes
set without forking chmod, checksums kept, and the committed jar built
from the committed source."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess

import pytest
from pyspark.sql import functions as F

from goe_spark.session import LOCAL_FS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSES = ["goe.NioLocalFileSystem", "goe.NioRawLocalFileSystem"]


def forks() -> int:
    """Processes and threads created on this machine since boot."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("no processes line in /proc/stat")


def local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )


def mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_session_raw_local_fs_is_nio(spark):
    fs = local_fs(spark)
    assert fs.getClass().getName() == "goe.NioLocalFileSystem"
    assert fs.getRaw().getClass().getName() == "goe.NioRawLocalFileSystem"


def test_set_permission_exact_bits(spark, tmp_path):
    jvm = spark._jvm
    fs = local_fs(spark)

    def set_mode(path, bits):
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            jvm.org.apache.hadoop.fs.permission.FsPermission(bits),
        )

    for name, bits in (("a", 0o640), ("b", 0o600)):
        f = tmp_path / name
        f.write_text("x")
        set_mode(f, bits)
        assert mode(f) == bits
    d = tmp_path / "d"
    d.mkdir()
    set_mode(d, 0o750)
    assert mode(d) == 0o750
    # The sticky bit is beyond nio's PosixFilePermission: the stock
    # chmod path runs (a fork) and the bits are still exact.
    sticky = tmp_path / "sticky"
    sticky.mkdir()
    n0 = forks()
    set_mode(sticky, 0o1777)
    assert forks() > n0
    assert mode(sticky) == 0o1777


def test_partitioned_write_modes_checksums_and_forks(spark, tmp_path):
    parts = 40
    df = spark.range(4000).withColumn("p", F.col("id") % parts).repartition(4)
    df.write.partitionBy("p").parquet(str(tmp_path / "warm"))
    n0 = forks()
    df.write.partitionBy("p").parquet(str(tmp_path / "out"))
    # Stock Hadoop without libhadoop forks chmod for every file, .crc
    # and directory: at least 5 per partition here.
    assert forks() - n0 < parts

    root = tmp_path / "out"
    dirs = [p for p in root.rglob("*") if p.is_dir()]
    data = list(root.rglob("*.parquet"))
    assert len(dirs) == parts and len(data) >= parts
    # Hadoop's default umask (fs.permissions.umask-mode 022) applies
    # whatever the process umask is.
    assert {mode(d) for d in [root, *dirs]} == {0o755}
    assert {mode(f) for f in data} == {0o644}
    for f in data:
        assert (f.parent / f".{f.name}.crc").is_file(), f


@pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("jar") is None,
    reason="needs a JDK (javac, jar)",
)
def test_committed_jar_matches_source(tmp_path):
    fresh = tmp_path / "fresh.jar"
    subprocess.run(
        [os.path.join(REPO, "tools", "build_localfs_jar.sh"), str(fresh)],
        check=True,
        capture_output=True,
    )

    def disassembly(jar):
        return subprocess.run(
            ["javap", "-c", "-p", "-cp", str(jar), *CLASSES],
            check=True,
            capture_output=True,
            text=True,
        ).stdout

    assert disassembly(LOCAL_FS_JAR) == disassembly(fresh)
