"""End-to-end gate: the distributed pipeline's (subj, pred, obj) set
must match the single-node golden oracle at P/R >= 0.95 (BASELINE.md;
we assert exact equality), survive kill-and-resume, and be invariant
to input partitioning (the order-sensitivity hazard SURVEY.md §4.3)."""

from __future__ import annotations

import pytest

from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
from rkts_migration_spark.oracle import precision_recall, run_oracle
from rkts_migration_spark.pipeline import STAGES, run_pipeline
from rkts_migration_spark.sources.tables import stage_manifest


@pytest.fixture(scope="module")
def fx():
    return make_fixtures(seed=42, n_convs=80)


@pytest.fixture(scope="module")
def oracle_triples(fx):
    return run_oracle(fx)


def _collect_triples(df) -> set[tuple[str, str, str]]:
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_pipeline_matches_oracle(spark, fx, oracle_triples, tmpdir_ckpt):
    tables = fixtures_to_spark(spark, fx)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="t1", resume=False)
    rows = res.triples.collect()
    got = {(r["subj"], r["pred"], r["obj"]) for r in rows}
    # assemble_triples emits NO global distinct — prove it never needs
    # one: every family must be internally unique and pairwise disjoint
    assert len(rows) == len(got), f"{len(rows) - len(got)} duplicate triples"
    p, r = precision_recall(got, oracle_triples)
    extra = sorted(got - oracle_triples)[:5]
    missing = sorted(oracle_triples - got)[:5]
    assert p == 1.0 and r == 1.0, (p, r, extra, missing)
    # lineage: per-partition rows sum to stage totals
    for stage in ("ordered", "mentions", "linked", "triples"):
        m = stage_manifest(tmpdir_ckpt, stage)
        assert m and m["complete"]
        assert sum(x["rows"] for x in m["partitions"]) == m["rows"]


@pytest.mark.parametrize("stop_after", ["ordered", "mentions", "linked"])
def test_resume_reproduces_triples(
    spark, fx, oracle_triples, tmpdir_ckpt, stop_after
):
    tables = fixtures_to_spark(spark, fx)
    # run 1: killed after the stop_after stage
    run_pipeline(spark, tables, tmpdir_ckpt, run_id="a", stop_after=stop_after)
    kept = STAGES[: STAGES.index(stop_after) + 1]
    assert stage_manifest(tmpdir_ckpt, stop_after)["run_id"] == "a"
    assert stage_manifest(tmpdir_ckpt, "triples") is None
    # run 2: resumes — completed stages are NOT recomputed
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="b", resume=True)
    assert list(res.manifests) == [s for s in STAGES if s not in kept]
    for stage in kept:
        assert stage_manifest(tmpdir_ckpt, stage)["run_id"] == "a"
    assert stage_manifest(tmpdir_ckpt, "triples")["run_id"] == "b"
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0


def test_full_resume_runs_no_dictionary_job(
    spark, fx, oracle_triples, tmpdir_ckpt, monkeypatch
):
    """With every stage committed, a resume only reads the triples
    table: the dimension work (gazetteer collect, union-find) must not
    run at all."""
    from rkts_migration_spark import pipeline

    tables = fixtures_to_spark(spark, fx)
    run_pipeline(spark, tables, tmpdir_ckpt, run_id="a")

    def boom(*_a, **_kw):
        raise AssertionError("dimension work ran on a full resume")

    monkeypatch.setattr(pipeline, "build_canonical_map", boom)
    monkeypatch.setattr(pipeline, "_normalized_surfaces", boom)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="b", resume=True)
    assert res.manifests == {}
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0


def test_partitioning_invariance(spark, fx, oracle_triples, tmpdir_ckpt):
    """Repartitioning the input arbitrarily must not change one triple:
    every order-sensitive op keys on (conv_id, turn_idx), not physical
    order."""
    tables = fixtures_to_spark(spark, fx)
    tables["transcripts"] = tables["transcripts"].repartition(13)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="p", resume=False)
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0


def test_pipeline_matches_oracle_second_seed(spark, tmpdir_ckpt):
    """Guard against seed-overfitting: a different RNG seed and scale
    must also match the golden oracle exactly."""
    fx2 = make_fixtures(seed=7, n_convs=40)
    tables = fixtures_to_spark(spark, fx2)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="s7", resume=False)
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, run_oracle(fx2))
    assert p == 1.0 and r == 1.0


def test_flagship_documents_path_matches_oracle(spark):
    """The driver-contract flagship (documents.parquet adapted to the
    transcript shape, full multi-token-gazetteer pipeline) is rows-only
    in the SQL contract — gate it here against the golden oracle by
    feeding the SAME adapted rows to both sides."""
    from rkts_migration_spark.entrydata import transcripts_from_documents
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.pipeline import build_triples_inmem

    fx = make_fixtures(seed=42, n_convs=1)  # dictionaries only
    tr = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    rows = [r.asDict() for r in tr.collect()]
    fx.transcripts = rows

    tables = fixtures_to_spark(spark, fx)
    got = _collect_triples(build_triples_inmem(spark, tables))
    p, r = precision_recall(got, run_oracle(fx))
    assert p == 1.0 and r == 1.0 and len(got) > 1000


def test_pipeline_trie_path_matches_oracle(spark, fx, oracle_triples, monkeypatch):
    """Force the mapInPandas Aho-Corasick path (the north-star scale
    strategy) through the FULL pipeline: with the regex threshold at 0
    every extraction goes through the Arrow trie, and the triple set
    must still match the oracle exactly."""
    from rkts_migration_spark import extract
    from rkts_migration_spark.pipeline import build_triples_inmem

    monkeypatch.setattr(extract, "REGEX_MAX_SURFACES", 0)
    tables = fixtures_to_spark(spark, fx)
    got = _collect_triples(build_triples_inmem(spark, tables))
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0


def test_inmem_background_dimension_error_propagates(spark, fx, monkeypatch):
    """build_triples_inmem runs the dimension work (gazetteer collect,
    union-find) on a background thread overlapped with the ordered
    cache build; a failure there must surface as the original loud
    error at the call site, not a hang or a downstream symptom, and
    leave nothing persisted. Pin it with the gazetteer-cap guard raised
    from the background thread."""
    import pytest as _pytest

    from rkts_migration_spark import extract
    from rkts_migration_spark.pipeline import build_triples_inmem

    monkeypatch.setattr(extract, "MAX_GAZETTEER_SURFACES", 2)
    tables = fixtures_to_spark(spark, fx)
    spark.catalog.clearCache()  # earlier tests' caches are not ours
    with _pytest.raises(ValueError, match="distributed strategy"):
        build_triples_inmem(spark, tables)
    # the ordered cache built before the error is released, not leaked
    # into the session
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_torn_manifest_is_recomputed(spark, fx, oracle_triples, tmpdir_ckpt):
    """Crash during a manifest write: a truncated manifest reads as
    "not committed", so the resume recomputes from that stage on
    instead of failing to parse it."""
    import os

    tables = fixtures_to_spark(spark, fx)
    run_pipeline(spark, tables, tmpdir_ckpt, run_id="a", stop_after="linked")
    path = os.path.join(tmpdir_ckpt, "linked", "_STAGE_MANIFEST.json")
    with open(path, "rb") as f:
        head = f.read()[:40]
    with open(path, "wb") as f:
        f.write(head)
    assert stage_manifest(tmpdir_ckpt, "linked") is None
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="b", resume=True)
    assert list(res.manifests) == ["linked", "triples"]
    p, r = precision_recall(_collect_triples(res.triples), oracle_triples)
    assert p == 1.0 and r == 1.0


def test_swapped_stage_without_manifest_is_recomputed(
    spark, fx, oracle_triples, tmpdir_ckpt, monkeypatch
):
    """Crash between the data swap and the manifest write: the stage
    dir is in place but has no manifest, so the resume recomputes it."""
    import os

    from rkts_migration_spark.sources import tables as T

    tables = fixtures_to_spark(spark, fx)
    run_pipeline(spark, tables, tmpdir_ckpt, run_id="a", stop_after="mentions")
    real = T.write_json

    def killed(spark_, path, payload):
        if payload.get("stage") == "linked":
            raise RuntimeError("killed before the manifest")
        real(spark_, path, payload)

    monkeypatch.setattr(T, "write_json", killed)
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(spark, tables, tmpdir_ckpt, run_id="b", resume=True)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(tmpdir_ckpt, "linked"))
    assert stage_manifest(tmpdir_ckpt, "linked") is None
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="c", resume=True)
    assert list(res.manifests) == ["linked", "triples"]
    p, r = precision_recall(_collect_triples(res.triples), oracle_triples)
    assert p == 1.0 and r == 1.0


def test_leftover_tmp_does_not_break_commit(
    spark, fx, oracle_triples, tmpdir_ckpt
):
    """A crashed write's half-written tmp dir does not break the next
    write of that stage, and a successful commit over existing stages
    leaves no tmp or moved-aside copy behind."""
    import os

    tables = fixtures_to_spark(spark, fx)
    run_pipeline(spark, tables, tmpdir_ckpt, run_id="a")
    junk = os.path.join(tmpdir_ckpt, "linked._tmp", "_temporary", "0")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="b", resume=False)
    p, r = precision_recall(_collect_triples(res.triples), oracle_triples)
    assert p == 1.0 and r == 1.0
    assert sorted(os.listdir(tmpdir_ckpt)) == sorted(STAGES)


def test_resume_on_changed_input_files_recomputes(spark, fx, tmpdir_ckpt):
    """A resume over the same checkpoint root with different transcript
    files must not serve the first input's triples: each manifest
    records the input files (length, modification time), and a
    mismatch recomputes."""
    import dataclasses
    import os

    from pyspark.sql import functions as F

    tables = fixtures_to_spark(spark, fx)
    convs = sorted({t["conv_id"] for t in fx.transcripts})
    halves = {"A": set(convs[::2]), "B": set(convs[1::2])}
    inputs = {}
    for name, keep in halves.items():
        d = os.path.join(tmpdir_ckpt, f"input_{name}")
        tables["transcripts"].filter(F.col("conv_id").isin(*keep)).write.parquet(d)
        inputs[name] = spark.read.parquet(d)
    root = os.path.join(tmpdir_ckpt, "ckpt")
    run_pipeline(spark, {**tables, "transcripts": inputs["A"]}, root, run_id="a")
    res = run_pipeline(spark, {**tables, "transcripts": inputs["B"]}, root,
                       run_id="b", resume=True)
    want = run_oracle(dataclasses.replace(
        fx, transcripts=[t for t in fx.transcripts
                         if t["conv_id"] in halves["B"]]))
    assert _collect_triples(res.triples) == want
    assert list(res.manifests) == list(STAGES)
