"""Stage-table IO with atomic-commit semantics.

Iceberg (`spark.write.format("iceberg")`) is the production format for
the triple/stage tables per BASELINE north_rule; when the runtime jar
is absent (as in local test runs) the fallback writes parquet into a tmp dir
and swaps it into place, then writes the manifest LAST, atomically
(sources/fs.py: every step goes through the Hadoop FileSystem API). A
stage is committed iff a parseable manifest with ``complete: true``
exists, and a resume also requires the manifest's ``inputs`` (the
transcript files, with lengths and modification times) to match the
run's: a partial write, a torn manifest or changed input files are
recomputed, never resumed from. Same contract, either backend.
"""

from __future__ import annotations

import functools
import logging
import posixpath
import time
from urllib.parse import unquote

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fs import ls, read_json, swap_in, write_json

MANIFEST = "_STAGE_MANIFEST.json"
log = logging.getLogger(__name__)


@functools.cache
def _iceberg_on_classpath(jvm) -> bool:
    # an attribute probe: Class.forName marshals a
    # ClassNotFoundException through py4j, ~10x slower
    return isinstance(jvm.org.apache.iceberg.spark.source.IcebergSource, JavaClass)


def _has_iceberg(spark: SparkSession) -> bool:
    """Whether the Iceberg runtime is on the classpath, probed once per
    JVM: it is asked on every stage write and read."""
    return _iceberg_on_classpath(spark._jvm)  # noqa: SLF001


def _manifest(spark: SparkSession, root: str, stage: str) -> dict | None:
    return read_json(spark, posixpath.join(root, stage, MANIFEST))


def stage_manifest(root: str, stage: str) -> dict | None:
    """The stage's manifest (active session); None when it is missing
    or torn."""
    return _manifest(SparkSession.getActiveSession(), root, stage)


def stage_is_complete(root: str, stage: str) -> bool:
    m = stage_manifest(root, stage)
    return bool(m and m.get("complete"))


def input_identity(df: DataFrame) -> list[list]:
    """[file, length, modification time] of each file ``df`` reads,
    from a listing of their directories; empty when it reads none
    (e.g. a createDataFrame frame)."""
    files = {unquote(f) for f in df.inputFiles()}  # URIs, percent-escaped
    return sorted(
        [f"{d}/{name}", size, mtime]
        for d in {f.rsplit("/", 1)[0] for f in files}
        for name, size, mtime in ls(df.sparkSession, d)
        if f"{d}/{name}" in files
    )


def stage_is_current(
    spark: SparkSession, root: str, stage: str, inputs: list
) -> bool:
    """Whether ``stage`` is committed from ``inputs`` (see
    input_identity); logs why a complete manifest is not trusted."""
    m = _manifest(spark, root, stage)
    if not (m and m.get("complete")):
        return False
    if m.get("inputs") != inputs:
        log.warning("stage %s under %s was committed from other input "
                    "files; recomputing it", stage, root)
        return False
    return True


def write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    run_id: str,
    inputs: list | None = None,
) -> dict:
    """Write a stage table + lineage manifest; returns the manifest.
    ``inputs`` is the run's input identity, recorded for resume checks.

    Lineage = per-output-partition row counts (spark_partition_id), the
    per-partition accounting BASELINE north_rule requires. Computed in
    the same job cache as the write via a cheap second aggregation over
    the persisted data (reading back parquet footers is metadata-only
    for counts, but per-partition needs the id column, so we stamp it).
    """
    spark = df.sparkSession
    path = posixpath.join(root, stage)
    stamped = df.withColumn("_part_id", F.spark_partition_id())
    t0 = time.time()

    if _has_iceberg(spark):
        # Production path: Iceberg table, atomic snapshot commit.
        stamped.write.format("iceberg").mode("overwrite").save(path)
        written = spark.read.format("iceberg").load(path)
    else:
        # a fixed tmp name: the overwrite clears a crashed write's leftovers
        tmp = f"{path}._tmp"
        stamped.write.mode("overwrite").parquet(tmp)
        swap_in(spark, tmp, path)
        written = spark.read.parquet(path)

    lineage = [
        {"partition_id": r["_part_id"], "rows": r["rows"]}
        for r in written.groupBy("_part_id")
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    ]
    manifest = {
        "stage": stage,
        "run_id": run_id,
        "complete": True,
        "inputs": inputs or [],
        "rows": sum(p["rows"] for p in lineage),
        "n_partitions": len(lineage),
        "partitions": sorted(lineage, key=lambda p: p["partition_id"]),
        "metrics": {"write_wall_sec": round(time.time() - t0, 3),
                    "bytes": sum(n for _, n, _ in ls(spark, path, "part-"))},
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    write_json(spark, posixpath.join(path, MANIFEST), manifest)
    return manifest


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    path = posixpath.join(root, stage)
    if _has_iceberg(spark):
        try:
            return spark.read.format("iceberg").load(path).drop("_part_id")
        except Exception:
            pass
    return spark.read.parquet(path).drop("_part_id")
