"""Hadoop FileSystem helpers via the JVM gateway.

Works for any scheme Spark itself supports (file://, hdfs://, s3a://) —
the reference opened raw FileSystems the same way (`TransTablePartition.
java:82-99`) but then pumped bytes through the driver; we only use the FS
API for *metadata* (partition discovery, existence checks, atomic renames).
All data movement is executor-side.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Immediate child directory names (reference `listAllPartitions`,
    `TransWholeTablePartition.java:158-165`)."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory()
    )


def list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (path, length) listing (reference `listFile`,
    `CommonUtils.java:134-140` — which keyed by basename and silently
    collapsed collisions; we key by full path)."""
    fs, p = _fs_and_path(spark, path)
    out: list[tuple[str, int]] = []
    if not fs.exists(p):
        return out
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), int(st.getLen())))
    return sorted(out)


def data_files(spark: SparkSession, root: str) -> list[tuple[str, int]]:
    """``list_files`` without markers: files whose name starts with
    ``_`` or ``.`` (_SUCCESS, hidden/temp files) are not data."""
    return [
        (p, sz)
        for p, sz in list_files(spark, root)
        if not p.rsplit("/", 1)[-1].startswith(("_", "."))
    ]


def qualify(spark: SparkSession, path: str) -> str:
    """Fully-qualified URI form of ``path`` (file:/… locally, hdfs://…
    on a cluster) — what listFiles returns, and what a basePath must
    match when a read is given explicit file URIs."""
    fs, p = _fs_and_path(spark, path)
    return fs.makeQualified(p).toString()


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Metadata-level rename — atomic on HDFS and POSIX; on object stores
    use a commit-marker strategy instead (documented in SCALE.md)."""
    fs, s = _fs_and_path(spark, src)
    _, d = _fs_and_path(spark, dst)
    return bool(fs.rename(s, d))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.delete(p, recursive))


def mkdirs(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.mkdirs(p))
