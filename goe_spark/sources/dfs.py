"""Scheme-agnostic DFS abstraction over the Hadoop FileSystem API.

The reference abstracts HDFS/GCS/S3/Azure behind one DFS interface
(src/goe/filesystem/goe_dfs.py; per-cloud clients in goe_gcs.py,
goe_s3.py, goe_azure.py:483, web_hdfs.py). Spark ships the same
abstraction natively: every executor and the driver already hold a
Hadoop ``FileSystem`` registry keyed by URI scheme, and the cloud
connector jars (gcs-connector, hadoop-aws, hadoop-azure) plug into
it. So the Spark-first rebuild is NOT a per-cloud client — it is one
thin wrapper over ``FileSystem.get(uri, hadoopConf)`` that works
identically for ``file://``, ``hdfs://``, ``gs://``, ``s3a://`` and
``abfss://`` paths; which schemes actually resolve depends only on
the jars present, exactly like the reference depends on which cloud
SDKs are installed.

In this sandbox only ``file://`` (and scheme-less local paths) are
exercisable; the API shape and the URI handling are what the tests
pin.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

# Scheme names the reference enumerates (goe_dfs.py OFFLOAD_FS_SCHEME_*).
SCHEME_FILE = "file"
SCHEME_HDFS = "hdfs"
SCHEME_GS = "gs"
SCHEME_S3A = "s3a"
SCHEME_ABFS = "abfs"
SCHEME_ABFSS = "abfss"
SCHEME_WASB = "wasb"
KNOWN_SCHEMES = (
    SCHEME_FILE,
    SCHEME_HDFS,
    SCHEME_GS,
    SCHEME_S3A,
    SCHEME_ABFS,
    SCHEME_ABFSS,
    SCHEME_WASB,
)


@dataclass(frozen=True)
class UriParts:
    scheme: str | None
    container: str | None  # bucket / filesystem / authority
    path: str


def parse_uri(uri: str) -> UriParts:
    """Split a DFS URI the way the reference's gen_fs_from_options
    does: scheme://container/path, scheme-less input is a local path."""
    if "://" not in uri:
        return UriParts(None, None, uri)
    scheme, rest = uri.split("://", 1)
    scheme = scheme.lower()
    if scheme not in KNOWN_SCHEMES:
        raise ValueError(f"unsupported DFS scheme: {scheme!r}")
    if scheme == SCHEME_FILE:
        return UriParts(scheme, None, rest if rest.startswith("/") else "/" + rest)
    container, _, path = rest.partition("/")
    return UriParts(scheme, container or None, "/" + path)


class HadoopDfs:
    """The reference's GOEDfs operations over Hadoop FileSystem.

    All calls go through the JVM gateway on the driver; data-plane
    reads/writes stay in Spark jobs — this class only serves the
    control plane (staging cleanup, byte accounting, marker files),
    mirroring how the reference uses its DFS clients.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _jpath(self, uri: str):
        return self._jvm.org.apache.hadoop.fs.Path(uri)

    def _fs(self, uri: str):
        return self._jpath(uri).getFileSystem(self._conf)

    def exists(self, uri: str) -> bool:
        return bool(self._fs(uri).exists(self._jpath(uri)))

    def mkdirs(self, uri: str) -> bool:
        return bool(self._fs(uri).mkdirs(self._jpath(uri)))

    def delete(self, uri: str, recursive: bool = False) -> bool:
        return bool(self._fs(uri).delete(self._jpath(uri), recursive))

    def file_size(self, uri: str) -> int:
        return int(self._fs(uri).getFileStatus(self._jpath(uri)).getLen())

    def list_dir(self, uri: str) -> list[str]:
        statuses = self._fs(uri).listStatus(self._jpath(uri))
        return sorted(str(s.getPath()) for s in statuses)

    def list_tree(self, uri: str) -> tuple[set[str], set[str]]:
        """(files, directories) under uri, any depth."""
        fs = self._fs(uri)
        pending = [self._jpath(uri)]
        files: set[str] = set()
        dirs: set[str] = set()
        if not fs.exists(pending[0]):
            return files, dirs
        while pending:
            for st in fs.listStatus(pending.pop()):
                p = st.getPath()
                if st.isDirectory():
                    dirs.add(str(p))
                    pending.append(p)
                else:
                    files.add(str(p))
        return files, dirs

    def total_bytes(self, uri: str) -> int:
        """Recursive byte count, skipping _SUCCESS/. markers — the
        transported-bytes accounting of offload_transport.py:1349-1399."""
        fs = self._fs(uri)
        it = fs.listFiles(self._jpath(uri), True)
        total = 0
        while it.hasNext():
            status = it.next()
            name = str(status.getPath().getName())
            if not name.startswith(("_", ".")):
                total += int(status.getLen())
        return total

    def write_text(self, uri: str, text: str) -> None:
        out = self._fs(uri).create(self._jpath(uri), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, uri: str) -> str:
        stream = self._fs(uri).open(self._jpath(uri))
        try:
            # py4j copies byte[] one-way, so a readFully into a Python
            # bytearray can't receive data — decode JVM-side instead.
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs(src).rename(self._jpath(src), self._jpath(dst)))
