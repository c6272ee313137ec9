"""The package's one commit protocol, over the Hadoop FileSystem API.

Every directory commit (stage tables, store migration and compaction,
the XML stitch) and every small JSON file (stage and ingest manifests)
goes through here, so each lands on the scheme of its own path
(file://, hdfs://, s3a://) rather than on one machine's local disk, and
a crash at any point leaves either the old or the new copy in place:

- ``swap_in`` replaces a directory or file by renames, old copy aside
  until the new one is in place;
- ``write_json`` writes a tmp file and swaps it in, so a reader sees
  the old file, the new one, or none, never a torn one;
- ``read_json`` reads one back, or None when missing or unparseable.

Each py4j round trip costs about half a millisecond, and a full resume
reads four manifests, so the helpers make few calls: class handles are
built directly (``spark._jvm.a.b.C`` resolves one dotted segment per
round trip) and a missing file is detected from ``open``'s exception
rather than a separate ``exists``.
"""

from __future__ import annotations

import json
import posixpath
import uuid

from py4j.java_gateway import JavaClass, is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    return JavaClass(name, spark._jvm._gateway_client)


def fs_for(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the session's Hadoop
    configuration."""
    p = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def ls(spark: SparkSession, path: str, prefix: str = "") -> list[tuple[str, int, int]]:
    """(name, length, modification time in ms) of each child of the
    directory ``path`` whose name starts with ``prefix``, by name."""
    fs, p = fs_for(spark, path)
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith(prefix):
            out.append((name, st.getLen(), st.getModificationTime()))
    return sorted(out)


def read_json(spark: SparkSession, path: str):
    """The JSON value stored at ``path``; None when the file is missing
    or does not parse (a write torn by a crash)."""
    fs, p = fs_for(spark, path)
    try:
        stream = fs.open(p)
    except Py4JJavaError as e:
        if is_instance_of(spark.sparkContext._gateway, e.java_exception,
                          "java.io.FileNotFoundException"):
            return None
        raise
    try:
        return json.loads(_jclass(spark, "org.apache.commons.io.IOUtils")
                          .toString(stream, "UTF-8"))
    except ValueError:
        return None
    finally:
        stream.close()


def write_json(spark: SparkSession, path: str, payload) -> None:
    """Write ``payload`` as JSON to ``path``: a tmp file next to it is
    written in full, then swapped in. Parent directories are created by
    FileSystem.create.

    The tmp file is written through a PRIVATE FileSystem instance
    (newInstance, closed after the write): setWriteChecksum on the
    process-wide cached instance would disable checksums for every
    later write on that scheme — streaming checkpoint/WAL files
    included — not just this file. The flag here only suppresses .crc
    sidecars next to the JSON (LocalFileSystem writes them by default;
    object stores / HDFS checksum internally)."""
    tmp = f"{path}._tmp"
    jtmp = _jclass(spark, "org.apache.hadoop.fs.Path")(tmp)
    fs = _jclass(spark, "org.apache.hadoop.fs.FileSystem").newInstance(
        jtmp.toUri(), spark._jsc.hadoopConfiguration())
    try:
        fs.setWriteChecksum(False)
        out = fs.create(jtmp, True)
        try:
            out.write(bytearray(json.dumps(payload).encode("utf-8")))
        finally:
            out.close()
    finally:
        fs.close()
    swap_in(spark, tmp, path)


def swap_in(spark: SparkSession, tmp: str, dst: str) -> None:
    """Replace ``dst`` (a directory or file) with ``tmp`` by renames:
    ``dst``, if it exists, moves aside to a fresh hidden sibling
    (``.<name>.old-<id>``, which Spark's file listing skips), ``tmp``
    moves to ``dst``, then the old copy is deleted.

    Hadoop's ``rename`` into an EXISTING directory nests the source
    inside it instead of replacing it, hence the aside step; and it
    reports failure by returning False, so every rename is checked. A
    crash between the two renames leaves ``dst`` missing and its old
    contents whole in the aside copy, which nothing deletes: rename it
    back to recover, or swap a new copy in."""
    dst = dst.rstrip("/")
    fs, d = fs_for(spark, dst)
    Path = _jclass(spark, "org.apache.hadoop.fs.Path")
    old = posixpath.join(posixpath.dirname(dst),
                         f".{posixpath.basename(dst)}.old-{uuid.uuid4().hex[:8]}")
    moved = fs.exists(d)
    if moved and not fs.rename(d, Path(old)):
        raise IOError(f"swap failed: could not move {dst} aside to {old}")
    if not fs.rename(Path(tmp), d):
        raise IOError(f"swap failed: could not rename {tmp} to {dst}"
                      + (f"; its old contents are at {old}: rename them back "
                         f"to {dst} to recover" if moved else ""))
    if moved:
        fs.delete(Path(old), True)
