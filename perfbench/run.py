"""Benchmark of the extract -> link -> canonicalize -> materialize
pipeline on the machine it runs on.

    python3 perfbench/run.py --workload regex_checkpointed --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 25 --trace 1

Run from the repository root. One invocation runs one workload in one
driver process on local[nproc]: set-up, one cold pass in the fresh
session, then warm passes for `--seconds`: at least a workload's
minimum, then more while the next one should end within the window,
judged by the last one. Every warm metric is a median over the warm
passes. Every pass is checked against the oracle. With `--trace 1` a
traced pass follows, and the per-layer table is printed and written to
.perfbench_results/. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

`--workload all` runs each workload in its own child process, one
after the other (the cold pass needs a fresh JVM).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".perfbench_results")
WORKLOADS = ("regex_checkpointed", "ingest_microbatch")

# Input sizes. The driver-side cost of one pipeline call is a few
# seconds whatever the input size, so these stay small enough that
# several warm checkpointed passes fit in one run: a warm pass is no
# faster at 1k turns than at 3k, and about a third slower at 10k.
CHECKPOINTED_TURNS = 3_000
INGEST_CONVS = 100
INGEST_BATCHES = 1
SETUP_REPS = 3
# Warm passes per run, at least. One checkpointed pass (9-12 s) swings
# with a few seconds of host contention, so its warm metrics take the
# median of two; one ingest stream is a longer interval (15-18 s), and a
# second would add that much to every ingest run.
MIN_WARM_PASSES = {"regex_checkpointed": 2, "ingest_microbatch": 1}
# The driver heap is fixed at this size from the start (-Xms = -Xmx).
# Grown on demand, G1 took the JVM's peak RSS anywhere from 1.2 to 1.9 GB
# over runs of the same input, which drowned what peak_rss_mb is for.
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "warm_wall_s": "s", "triples_per_s": "1/s",
    "peak_rss_mb": "MB", "batch_p50_s": "s", "redelivery_s": "s",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress goes to standard error; standard output is the report."""
    sys.stderr.write(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}\n")
    sys.stderr.flush()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, trace: bool, cores: int):
    from rkts_migration_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def make_inputs(workload: str, seed: int, work: str, cores: int):
    import inputs

    if workload == "regex_checkpointed":
        return inputs.checkpointed_inputs(seed, CHECKPOINTED_TURNS, work, cores)
    return inputs.ingest_inputs(seed, INGEST_CONVS, INGEST_BATCHES, work)


def setup(workload: str, seed: int, work: str, cores: int):
    """Generate inputs and the oracle digest SETUP_REPS times, each in a
    fresh directory; the last copy is used. Returns the inputs, the
    oracle's triples, the digest and the median time of one repetition."""
    import inputs
    from gate import triple_digest

    times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        d = os.path.join(work, f"input-{rep}")
        inp = make_inputs(workload, seed, d, cores)
        oracle = inputs.oracle_triples(inp)
        expected = triple_digest(oracle)
        times.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(d)
    return inp, oracle, expected, statistics.median(times)


def run_workload(args) -> dict:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> dict:
    import host

    cores = host.nproc()
    receipts = host.Receipts(ROOT)
    receipts.before_session()

    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace), cores)
    session_s = time.perf_counter() - t0
    try:
        return _measure(args, work, spark, session_s, cores, receipts)
    finally:
        stop_jvm(spark)


def stop_jvm(spark) -> None:
    """Stop the session, then end the driver JVM this process launched and
    the Python workers below it, and wait for them: the JVM exits when its
    standard input closes, and would otherwise outlive this process."""
    import host
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    below = host.descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while below and time.monotonic() < deadline:
        below = [p for p in below if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in below:
        os.kill(pid, 9)


def _measure(args, work, spark, session_s, cores, receipts) -> dict:
    import host
    import workloads as W
    from gate import self_test
    from rkts_migration_spark.fixtures import fixtures_to_spark

    sc = spark.sparkContext
    receipts.with_session(spark)
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    inp, oracle, expected, gen_s = setup(args.workload, args.seed, work, cores)
    setup_s = session_s + gen_s
    log(f"setup done: session {session_s:.2f}s, inputs+oracle {gen_s:.2f}s")
    tables = fixtures_to_spark(spark, inp.fixtures)
    tables["transcripts"] = spark.read.parquet(inp.transcripts_dir) \
        if args.workload == "regex_checkpointed" else None

    def one_pass(redeliver: bool, tracer=None) -> W.PassResult:
        try:
            if args.workload == "regex_checkpointed":
                if tracer is not None:
                    return W.checkpointed_traced_pass(spark, tables, expected, work, tracer)
                return W.checkpointed_pass(spark, tables, expected, work, redeliver)
            return W.ingest_pass(spark, tables, expected, inp.transcripts_dir, work,
                                 INGEST_BATCHES, tracer)
        except Exception as e:  # a failed pass is counted, never retried
            return W.PassResult(0.0, False, f"{type(e).__name__}: {e}")
        finally:
            rss.append(host.peak_rss_mb(jvm_pid))
            log(f"pass {len(rss) - 1} done")

    rss: list[float] = []
    passes = [one_pass(redeliver=False)]
    start = time.perf_counter()  # the window holds the warm passes only
    last = 0.0  # duration of the last warm pass, checks included
    while (len(passes) <= MIN_WARM_PASSES[args.workload]
           or time.perf_counter() - start + last <= args.seconds):
        t0 = time.perf_counter()
        passes.append(one_pass(redeliver=True))
        last = time.perf_counter() - t0

    traced = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(sc, uuid.uuid4().hex[:12])
        traced = (one_pass(redeliver=False, tracer=tracer), tracer)
    gate_ok = self_test(spark, oracle)
    log("gate self-test done")

    all_passes = passes + ([traced[0]] if traced else [])
    failed = sum(not p.ok for p in all_passes)
    for i, p in enumerate(all_passes):
        if not p.ok:
            print(f"pass {i} FAILED: {p.error}", flush=True)
    cold, warm = passes[0], [p for p in passes[1:] if p.ok]
    metrics = end_to_end(args.workload, setup_s, cold, warm, expected, rss)
    info = {
        "workload": args.workload, "seed": args.seed, "passes": len(all_passes),
        "warm_passes": len(warm), "error_rate": failed / len(all_passes),
        "gate_self_test": gate_ok, "expected_triples": expected.count,
        "host": receipts.finish(),
    }
    if traced is not None and traced[0].ok:
        import layers

        result, tracer = traced
        # the event log is complete only once the application has ended
        spark.stop()
        warm_wall = statistics.median(p.wall_s for p in warm) if warm else 0.0
        metrics = layers.build(result, tracer, session_s, warm_wall, inp,
                               os.path.join(work, "eventlog"))
        info["extract_strategy"] = result.counters.get("extract.strategy")
        info["traced_batches"] = result.batches
        tracer.dump(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-spans.json"))
    return {
        "correct": failed == 0 and gate_ok and cold.ok,
        "attempted": len(all_passes),
        "failed": failed,
        "metrics": metrics,
        "info": info,
        "passes": [{"wall_s": p.wall_s, "ok": p.ok, "units_s": p.units_s,
                    "redelivery_s": p.redelivery_s, "appended": p.appended,
                    "batches": p.batches} for p in all_passes],
    }


def end_to_end(workload, setup_s, cold, warm, expected, rss) -> dict:
    med = statistics.median
    if not warm:
        return {}
    warm_wall = med(p.wall_s for p in warm)
    if workload == "regex_checkpointed":
        tput = expected.count / warm_wall
    else:
        tput = med(p.appended / p.wall_s for p in warm)
    values = {
        "setup_s": setup_s,
        "wall_s": cold.wall_s,
        "warm_wall_s": warm_wall,
        "triples_per_s": tput,
        "peak_rss_mb": max(rss),
        "batch_p50_s": med(u for p in warm for u in p.units_s),
        "redelivery_s": med(p.redelivery_s for p in warm),
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def print_report(res: dict, trace: bool) -> None:
    info = res.get("info", {})
    print(f"# workload {info.get('workload')} seed {info.get('seed')}: "
          f"{info.get('passes')} passes ({info.get('warm_passes')} warm), "
          f"error_rate {info.get('error_rate')}, gate self-test "
          f"{'ok' if info.get('gate_self_test') else 'FAILED'}")
    print("# host " + json.dumps(info.get("host", {}), sort_keys=True))
    if trace:
        print(f"# extract strategy: {info.get('extract_strategy')}")
        for b in info.get("traced_batches") or []:
            print("# traced batch " + json.dumps(
                {k: b[k] for k in b if k not in ("start", "end")}, sort_keys=True))
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")


def run_all(args) -> dict:
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=ROOT,
        )
        lines = r.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stderr[-4000:])
            raise SystemExit(f"workload {w} exited with {r.returncode}")
        one = json.loads(lines[-1])
        combined["correct"] &= one["correct"]
        combined["attempted"] += one["attempted"]
        combined["failed"] += one["failed"]
        for k, v in one["metrics"].items():
            combined["metrics"][f"{w}.{k}"] = v
    return combined


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rkts_migration_spark")):
        sys.stderr.write(f"perfbench: no rkts_migration_spark package under {ROOT}\n")
        return 2
    if args.workload == "all":
        print(json.dumps(run_all(args)))
        return 0
    os.makedirs(RESULTS, exist_ok=True)
    res = run_workload(args)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(RESULTS, stem + ".json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    print_report(res, bool(args.trace))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
