"""Seeded input generation. Everything is made in Python before any
Spark job runs, so the first pass of a run is the first Spark work the
JVM does. The program receives only the tables written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rkts_migration_spark.entrydata import _BENCH_WORDS
from rkts_migration_spark.fixtures import FixtureSet, make_fixtures
from rkts_migration_spark.oracle import run_oracle

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])
ROLES = ("user", "assistant", "tool")


def lineitem_transcripts(seed: int, n_turns: int) -> list[dict]:
    """Transcripts shaped like `entrydata.transcripts_from_lineitem`
    over a TPC-H-like lineitem table: one conversation per order (1-7
    lines), turns in line order, 8 words per turn picked by the same
    key arithmetic. The seed draws the part/supplier keys, so it
    varies the word picks; the mention density stays the same."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=n_turns)
    order = np.repeat(np.arange(1, n_turns + 1), lines)[:n_turns]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:n_turns]
    partkey = rng.integers(1, 20_001, size=n_turns)
    suppkey = rng.integers(1, 1_001, size=n_turns)
    shipdate = np.datetime64("1992-01-02") + rng.integers(0, 2_500, size=n_turns)
    n = len(_BENCH_WORDS)
    picks = np.stack([
        (partkey * (i * 7 + 3) + suppkey * (i + 11) + linenumber * 13 + i) % n
        for i in range(8)
    ], axis=1)
    vocab = np.array(_BENCH_WORDS, dtype=object)
    texts = [" ".join(vocab[row]) for row in picks]
    turn_idx = linenumber - 1  # lines of an order are numbered 1..k
    rows = []
    for k in range(n_turns):
        ti = int(turn_idx[k])
        role = ROLES[(ti // 2) % 3]
        rows.append({
            "conv_id": f"C{int(order[k]):08d}",
            "turn_idx": ti,
            "role": role,
            "text": texts[k],
            "tool": f"tool_{ti % 5}" if role == "tool" else None,
            "ts": shipdate[k].astype("datetime64[us]").item(),
        })
    return rows


def write_transcripts(rows: list[dict], path: str, n_files: int = 1) -> None:
    """Write rows as `n_files` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-len(rows) // n_files))
    for i, lo in enumerate(range(0, len(rows), step)):
        table = pa.Table.from_pylist(rows[lo : lo + step], schema=TRANSCRIPT_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


@dataclass
class Inputs:
    fixtures: FixtureSet  # what the oracle sees; transcripts included
    transcripts_dir: str  # what the program reads
    batch_convs: list[list[str]] | None = None  # ingest only


def checkpointed_inputs(seed: int, n_turns: int, work: str, n_files: int) -> Inputs:
    fx = make_fixtures(seed=seed, n_convs=1)
    fx.transcripts = lineitem_transcripts(seed, n_turns)
    path = os.path.join(work, "transcripts")
    write_transcripts(fx.transcripts, path, n_files)
    return Inputs(fx, path)


def ingest_inputs(seed: int, n_convs: int, n_batches: int, work: str) -> Inputs:
    """Fixture transcripts split into `n_batches` conversation-complete
    drops, then an exact re-delivery of the first drop. One parquet
    file per drop: the file stream source makes one micro-batch per
    file, oldest modification time first."""
    fx = make_fixtures(seed=seed, n_convs=n_convs)
    convs = sorted({r["conv_id"] for r in fx.transcripts})
    batches = [convs[b::n_batches] for b in range(n_batches)]
    path = os.path.join(work, "drops")
    os.makedirs(path, exist_ok=True)
    base = 1_600_000_000
    for i, members in enumerate(batches + [batches[0]]):
        keep = set(members)
        rows = [r for r in fx.transcripts if r["conv_id"] in keep]
        f = os.path.join(path, f"drop-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA), f)
        os.utime(f, (base + i, base + i))
    return Inputs(fx, path, batches)


def oracle_triples(inp: Inputs) -> set[tuple[str, str, str]]:
    """What the program must produce. For ingest this is the union of
    the oracle over each micro-batch on its own: stream_kg_ingest
    builds every batch independently and appends the set difference,
    so a label picked first-wins within one batch stays in the store
    next to a different pick from another batch (the documented
    store contract; `operators.graph.compact_labels` is the separate
    pass that restores one prefLabel per entity and language)."""
    if inp.batch_convs is None:
        return run_oracle(inp.fixtures)
    out: set[tuple[str, str, str]] = set()
    for members in inp.batch_convs:
        keep = set(members)
        part = [r for r in inp.fixtures.transcripts if r["conv_id"] in keep]
        out |= run_oracle(replace(inp.fixtures, transcripts=part))
    return out
