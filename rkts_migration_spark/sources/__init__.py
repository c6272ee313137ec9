"""Table IO: Iceberg when its runtime is on the classpath (production
target — atomic snapshot commits, incremental reads), transparent
parquet-directory fallback with JSON manifests locally (this sandbox
has no Iceberg jar). Both paths give the pipeline the same property:
a stage is either fully committed or absent, so resume is safe.

Every directory commit and small JSON file in the package (stage
tables and manifests, ingest manifests, store migration and
compaction, the XML stitch) goes through ``fs.py``: one
swap-then-manifest protocol over the Hadoop FileSystem API."""

from .tables import read_stage, write_stage, stage_is_complete, stage_manifest  # noqa: F401
