"""Hadoop FileSystem helpers shared by every write-over-read surface
(IVF index rebuild, parquet compaction): temp-sibling writes swapped
into place by delete + rename, each atomic on HDFS-compatible stores
(and plain POSIX renames on local FS), so a live directory is never a
partially rewritten one. :func:`fs_fingerprint` is the read-side
counterpart: a content-change detector that works on any scheme."""

from __future__ import annotations

from pyspark.sql import SparkSession


def fs_swap(spark: SparkSession, src: str, dst: str) -> None:
    """Replace ``dst`` with ``src`` (delete + rename)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src_p = jvm.org.apache.hadoop.fs.Path(src)
    dst_p = jvm.org.apache.hadoop.fs.Path(dst)
    fs = dst_p.getFileSystem(conf)
    if fs.exists(dst_p):
        fs.delete(dst_p, True)
    if not fs.rename(src_p, dst_p):
        raise IOError(f"swap failed: rename {src!r} -> {dst!r}")


def fs_delete(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)


def fs_fingerprint(spark: SparkSession, path: str) -> str:
    """(path, length, mtime) of every file under ``path`` (a file or a
    directory, walked recursively), sorted and joined — changes whenever
    a file is added, removed or rewritten. Resolved through the Hadoop
    FileSystem of the path's scheme, so ``file://``, ``hdfs://`` and
    ``s3a://`` paths fingerprint like local ones. A missing path is
    ``""``. Walks with ``listStatus``: ``listFiles`` also resolves block
    locations, ~10x the py4j time on a one-file corpus."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return ""
    parts, todo = [], [p]
    while todo:
        for st in fs.listStatus(todo.pop()):
            if st.isDirectory():
                todo.append(st.getPath())
            else:
                parts.append(f"{st.getPath().toString()}:{st.getLen()}:{st.getModificationTime()}")
    return ";".join(sorted(parts))
