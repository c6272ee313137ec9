"""The extract -> link -> canonicalize -> materialize pipeline
(SURVEY.md §7 stage design) as ONE ordered stage list:

  ordered    transcripts + section islands (one conv-partitioned shuffle)
  mentions   gazetteer mention extraction (extract.py picks the strategy
             by surface count)
  linked     gazetteer-scored linking + canonical ids (broadcast joins)
  triples    full (subj, pred, obj) assembly (materialize.py)

One driver loop (``_drive``) builds them in order; a boundary policy
decides what each stage boundary does:

- in-memory (``build_triples_inmem``): persist and count ``ordered``
  and ``linked``; ``mentions`` and ``triples`` stay lazy.
- commit (``run_pipeline``): write each stage table with per-partition
  lineage (sources/tables.py), then read it back. With ``resume=True``
  a re-run starts at the first stage not committed from the run's
  transcript files (manifest missing, torn, incomplete, or recording
  other input files), so a job killed between stages restarts to the
  identical triple set (tests/test_pipeline.py) and a changed input is
  recomputed.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .canonicalize import build_abstract_lookup, build_canonical_map
from .extract import _normalized_surfaces, extract_mentions
from .link import link_and_canonicalize
from .materialize import assemble_triples
from .operators.caching import attach_cached_deps
from .operators.sections import with_section_index
from .sources.tables import input_identity, read_stage, stage_is_current, write_stage

STAGES = ("ordered", "mentions", "linked", "triples")


def _drive(
    tables: dict[str, DataFrame],
    todo: tuple[str, ...],
    boundary: Callable[[str, DataFrame], tuple],
    load: Callable[[str], DataFrame] | None,
) -> DataFrame:
    """Build the stages in ``todo`` (a non-empty run of STAGES) and
    return the last one's frame; earlier stages a builder reads come
    from ``load``. ``boundary(stage, df)`` returns the frame
    downstream stages read and the action that materializes it (None if
    the policy already did).

    The serial driver work — dictionary collect jobs, the union-find
    fixpoint, and the py4j-heavy construction + eager analysis of the
    assemble DAG — is parallelism-INDEPENDENT wall: inline it adds the
    same seconds at every cluster size and caps scaling efficiency
    (measured: ~3s of inter-job driver gaps at 8 cores inside a 24s
    wall). So it runs on background threads: the dimension work from
    the start, and each next stage's plan while the boundary action
    materializes the current one; the tiny collect jobs slot into free
    task slots under the FIFO scheduler. The dimension work runs only
    if a stage after ``ordered`` is built."""
    gaz = tables["gazetteer"]
    frames: dict[str, DataFrame] = {}

    def frame(stage: str) -> DataFrame:
        if stage not in frames:
            frames[stage] = load(stage)
        return frames[stage]

    def dimensions():
        surfaces = _normalized_surfaces(gaz) if "mentions" in todo else None
        canonical_map = build_canonical_map(
            tables["id_remap"], tables["cross_corpus_map"],
            tables["same_text_map"],
        )
        return surfaces, canonical_map

    def build(stage: str) -> DataFrame:
        if stage == "ordered":
            return with_section_index(tables["transcripts"])
        surfaces, canonical_map = dims.result()
        if stage == "mentions":
            return extract_mentions(frame("ordered"), gaz, surfaces)
        if stage == "linked":
            # one broadcast join over the mention stream (canonicalization
            # is pre-composed onto the winners dimension)
            return link_and_canonicalize(frame("mentions"), gaz, canonical_map)
        abstract_lookup = build_abstract_lookup(
            tables["abstract_map"], canonical_map
        )
        return assemble_triples(
            frame("ordered"), frame("linked"), canonical_map, abstract_lookup,
            tables["entity_props"], gazetteer=gaz,
        )

    with ThreadPoolExecutor(2) as pool:
        dims = pool.submit(dimensions) if todo[-1] != "ordered" else None
        df = build(todo[0])
        for stage, nxt in zip(todo, todo[1:] + (None,)):
            frames[stage], materialize = boundary(stage, df)
            ahead = pool.submit(build, nxt) if nxt else None
            if materialize:
                materialize()
            df = ahead.result() if ahead else None
    return frames[todo[-1]]


def build_triples_inmem(
    spark: SparkSession, tables: dict[str, DataFrame]
) -> DataFrame:
    """Compose the full pipeline with no checkpoint IO (driver contract,
    bench and micro-batch ingest; production runs use run_pipeline for
    resumability).

    ``ordered`` and ``linked`` feed several triple families each, so
    they are persisted (memory-and-disk) — without this the Python
    extraction stage would re-run once per family, the same work the
    commit policy avoids by writing stage tables. They are attached to
    the result (operators/caching.py): release them with
    ``release_cached_deps`` once the caller's actions on it are done.
    If a stage raises, whatever was persisted is released before the
    error propagates."""
    held: list[DataFrame] = []

    def persist(stage: str, df: DataFrame):
        if stage not in ("ordered", "linked"):
            return df, None
        held.append(df.persist())
        # Eager materialization: the triple families are independent
        # plan branches that AQE submits CONCURRENTLY; left lazy, their
        # tasks race to build the same cache partitions and block on
        # the per-partition cache lock while holding task slots
        # (observed: 4 duplicate 64-task stages spanning the whole
        # extraction phase). One eager pass each runs extraction
        # exactly once at full parallelism; every family then reads the
        # finished cache.
        return df, df.count

    try:
        return attach_cached_deps(_drive(tables, STAGES, persist, None), held)
    except BaseException:
        for df in held:
            df.unpersist()
        raise


@dataclass
class RunResult:
    run_id: str
    triples: DataFrame
    manifests: dict[str, dict] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    checkpoint_root: str,
    run_id: str | None = None,
    resume: bool = True,
    stop_after: str | None = None,
) -> RunResult:
    """Run (or resume) the full pipeline; returns the triples DataFrame
    and the manifests of the stages committed in this run.

    ``tables`` needs: transcripts, gazetteer, id_remap, cross_corpus_map,
    same_text_map, abstract_map, entity_props.
    ``stop_after`` lets tests kill the run at a stage boundary; the
    result then holds that stage's table.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    manifests: dict[str, dict] = {}
    inputs = input_identity(tables["transcripts"])
    target = stop_after or STAGES[-1]
    todo = STAGES[: STAGES.index(target) + 1]
    while resume and todo and stage_is_current(
            spark, checkpoint_root, todo[0], inputs):
        todo = todo[1:]

    def load(stage: str) -> DataFrame:
        return read_stage(spark, checkpoint_root, stage)

    def commit(stage: str, df: DataFrame):
        manifests[stage] = write_stage(
            df, checkpoint_root, stage, run_id, inputs)
        return load(stage), None

    triples = _drive(tables, todo, commit, load) if todo else load(target)
    return RunResult(run_id, triples, manifests)
