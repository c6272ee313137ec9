"""The per-layer table of a traced pass: span self times joined with
the event log's jobs and tasks, plus the counters recorded at each
layer boundary. Layers are the package's modules; see DESIGN.md for
which end-to-end metric each row should move, and on which workload.
"""

from __future__ import annotations

import statistics

from spans import layer_table, read_event_log

STAGES = ("ordered", "mentions", "linked", "triples")
TABLE_FIELDS = ("write_s", "read_s", "mb", "rows", "partitions", "skew")
UNITS = {"_s": "s", "mb": "MB", "ratio": "ratio", "skew": "ratio", "share": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def build(result, tracer, session_s: float, warm_wall_s: float, inp,
          log_dir: str) -> dict:
    c = result.counters
    jobs, tasks = read_event_log(log_dir)
    root = next(s for s in tracer.spans if s.parent is None)
    t = layer_table(tracer.spans, jobs, tasks, root)
    L = t["layers"]

    def lay(name: str, field: str) -> float:
        return L.get(name, {}).get(field, 0.0)

    def span_total(name: str) -> float:
        return sum(s.end - s.start for s in tracer.spans if s.name == name)

    mentions = c.get("extract.mentions_out", 0)
    fx = inp.fixtures
    m = {
        "session.start_s": session_s,
        "sections.wall_s": lay("sections", "wall_s"),
        "sections.task_s": lay("sections", "task_s"),
        "sections.shuffle_write_mb": lay("sections", "shuffle_write_mb"),
        "sections.rows_out": c.get("sections.rows_out", 0),
        "sections.skew": statistics.median(c.get("sections.skew_list") or [0.0]),
        "canonicalize.wall_s": lay("canonicalize", "wall_s"),
        "canonicalize.edges": len(fx.id_remap) + len(fx.cross_corpus_map)
        + len(fx.same_text_map),
        "canonicalize.jobs": lay("canonicalize", "jobs"),
        "extract.surfaces_s": span_total("extract.surfaces"),
        "extract.wall_s": lay("extract", "wall_s"),
        "extract.task_s": lay("extract", "task_s"),
        "extract.rows_in": c.get("extract.rows_in", 0),
        "extract.mentions_out": mentions,
        "extract.hit_ratio": c.get("extract.hit_turns", 0) / max(1, c.get("extract.rows_in", 0)),
        "extract.trie": int(c.get("extract.strategy") == "trie"),
        "link.wall_s": lay("link", "wall_s"),
        "link.task_s": lay("link", "task_s"),
        "link.rows_out": c.get("link.rows_out", 0),
        "link.match_ratio": c.get("link.rows_out", 0) / max(1, mentions),
        "materialize.dag_build_s": span_total("materialize.dag_build"),
        "materialize.wall_s": lay("materialize", "wall_s"),
        "materialize.task_s": lay("materialize", "task_s"),
        "materialize.shuffle_write_mb": lay("materialize", "shuffle_write_mb"),
        "materialize.triples_out": c.get("materialize.triples_out", 0),
        "materialize.jobs": lay("materialize", "jobs"),
        "pipeline.driver_gap_s": t["pass"]["driver_gap_s"],
        "pipeline.jobs": t["pass"]["jobs"],
        "pipeline.stages": t["pass"]["stages"],
        "pipeline.tasks_failed": t["pass"]["tasks_failed"],
        "pipeline.cached_mb": c.get("pipeline.cached_mb", 0.0),
        "pipeline.gc_s": t["pass"]["gc_s"],
    }
    commit = 0.0
    for stage in STAGES:
        for f in TABLE_FIELDS:
            m[f"tables.{stage}.{f}"] = c.get(f"tables.{stage}.{f}", 0)
        commit += c.get(f"tables.{stage}.write_s", 0) + c.get(f"tables.{stage}.read_s", 0)
    wall = t["pass"]["wall_s"]
    m["tables.commit_share"] = commit / wall
    b = [x for x in result.batches[:-1]] if result.batches else []
    m.update({
        "incremental.wall_s": lay("incremental", "wall_s"),
        "incremental.batch_s": statistics.median(x["latency_s"] for x in b) if b else 0.0,
        "incremental.appended": sum(x["appended"] for x in result.batches),
        "incremental.store_buckets_read": sum(x.get("store_buckets_read", 0) for x in result.batches),
        "incremental.store_read_mb": sum(x.get("store_mb_read", 0.0) for x in result.batches),
        "incremental.store_files": sum(x.get("store_files_read", 0) for x in result.batches),
        "incremental.persisted_rdds": max((x["persisted_rdds"] for x in result.batches), default=0),
        "incremental.cached_mb": max((x["cached_mb"] for x in result.batches), default=0.0),
        "trace.wall_s": wall,
        "trace.overhead_s": wall - warm_wall_s,
        "trace.counters_s": lay("trace", "wall_s"),
        "trace.self_time_share": t["pass"]["self_time_sum_s"] / wall,
    })
    return {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}
