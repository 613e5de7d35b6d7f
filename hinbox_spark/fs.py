"""Filesystem helpers through the Hadoop FS API.

Stage checkpoints must work on whatever filesystem the SparkSession is
writing to (HDFS, S3A, file:, ...) — `os.path` only sees the driver's local
disk, so every table-path check goes through
`org.apache.hadoop.fs.FileSystem` resolved FROM THE PATH ITSELF (the same
resolution Spark's writers use). Mirrors the reference's checkpoint
existence checks (src/utils/processing_status.py) without assuming local
POSIX paths.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs_and_path(spark, path)
    fs.mkdirs(p)


def list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Immediate subdirectories of `path` (full URIs), [] if absent."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        str(s.getPath().toString())
        for s in fs.listStatus(p)
        if s.isDirectory()
    )


def list_files(spark: SparkSession, path: str) -> list[str]:
    """Immediate regular files under `path` (full URIs), [] if absent."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        str(s.getPath().toString())
        for s in fs.listStatus(p)
        if s.isFile()
    )


def read_text(spark: SparkSession, path: str) -> str:
    # py4j passes arrays BY COPY, so reading into a Python-side buffer
    # would never fill it — decode fully on the JVM side instead
    fs, p = _fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        return str(
            spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        )
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p = _fs_and_path(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def publish_without_overwrite(spark: SparkSession, src: str, dst: str) -> bool:
    """Publish a fully-written temp file at its final name, failing
    (returning False) when dst already exists — the commit primitive for
    optimistic snapshot protocols.

    On file: the publish is a POSIX hard link (os.link), whose
    create-exclusive semantics are atomic in the kernel — two racing
    committers get exactly one winner, no TOCTOU window (a plain Hadoop
    local rename can clobber, and an exists() pre-check races). On HDFS,
    rename-without-overwrite is natively atomic. On stores without atomic
    no-overwrite rename (e.g. bare S3A) the exists() pre-check is
    best-effort only — put a catalog/lock in front for multi-writer use.
    The temp file is removed on success."""
    fs, s = _fs_and_path(spark, src)
    _, d = _fs_and_path(spark, dst)
    d = fs.makeQualified(d)
    if str(d.toUri().getScheme()) == "file":
        import os

        try:
            os.link(s.toUri().getPath(), d.toUri().getPath())
        except FileExistsError:
            return False
        fs.delete(s, False)  # also drops the checksum sidecar
        return True
    if fs.exists(d):
        return False
    return bool(fs.rename(s, d))


def publish_dir_without_overwrite(
    spark: SparkSession, src: str, dst: str
) -> bool:
    """Directory variant of publish_without_overwrite: move a fully-written
    staging DIRECTORY to its final name, returning False when dst already
    exists. POSIX forbids hard links to directories, so the file-side
    os.link trick is unavailable — this is exists-precheck + rename, atomic
    on HDFS (rename-without-overwrite) and best-effort on file:/S3A. Fine
    for single-writer commit protocols (a foreachBatch sink runs its
    epochs serially); multi-writer protocols must commit through a FILE
    marker (publish_without_overwrite) and treat the directory as payload.
    The staging dir is left in place when dst wins the race (caller
    deletes it)."""
    fs, s = _fs_and_path(spark, src)
    _, d = _fs_and_path(spark, dst)
    if fs.exists(d):
        return False
    return bool(fs.rename(s, d))


def mtime(spark: SparkSession, path: str) -> int:
    """Modification time of `path` in epoch millis (Hadoop FS)."""
    fs, p = _fs_and_path(spark, path)
    return int(fs.getFileStatus(p).getModificationTime())


def delete(spark: SparkSession, path: str, recursive: bool = False) -> bool:
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def has_part_files(spark: SparkSession, path: str) -> bool:
    """True iff the table directory contains at least one part file, at the
    top level or one partition level down (partitionBy layout)."""
    fs, _ = _fs_and_path(spark, path)
    jvm = spark._jvm
    for pattern in (f"{path}/part-*", f"{path}/*/part-*"):
        statuses = fs.globStatus(jvm.org.apache.hadoop.fs.Path(pattern))
        if statuses is not None and len(statuses) > 0:
            return True
    return False
