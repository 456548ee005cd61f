#!/usr/bin/env python3
"""Closed-loop benchmark of sparkkd's build-once / query-many index joins.

One client drives one index on ``local[<cores>]`` from this process: each op
calls the index's public join method on a fresh query batch, then
materialises the whole result through Spark's ``noop`` sink (every column
computed, nothing collected) before the next call, because a join frees the
previous call's intermediates.  Run from the repository root:

    python3 perfbench/run.py --workload geo_knn_small --seed 1 --seconds 12 --trace 0

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  See perfbench/README.md for what each metric
measures and which layer it belongs to.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench-work"

SETUPS = 3  # index builds per run; setup_s is their median
BATCHES = 12  # distinct query batches generated per run (ops cycle past it)
WARM_CORPUS, WARM_QUERIES = 2_000, 200  # throwaway session warm-up index

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "queries_per_s": "1/s",
    "result_rows_per_s": "1/s",
    "index_mb": "MB",
}
PER_LAYER_UNITS = {
    "index.build_s": "s",
    "index.build_jobs": "count",
    "index.call_s": "s",
    "index.exec_s": "s",
    "index.jobs_per_op": "count",
    "index.stages_per_op": "count",
    "index.tasks_per_op": "count",
    "index.task_run_s_per_op": "s",
    "index.jvm_cpu_s_per_op": "s",
    "index.shuffle_read_mb_per_op": "MB",
    "index.shuffle_write_mb_per_op": "MB",
    "index.rows_in_per_result_row": "ratio",
    "kernel.build_rows_per_s": "1/s",
    "kernel.queries_per_s": "1/s",
    "kernel.result_rows_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}


@dataclasses.dataclass
class Op:
    traced: bool
    call_s: float = 0.0
    exec_s: float = 0.0
    rows: int = 0
    ok: bool = False

    @property
    def seconds(self) -> float:
        return self.call_s + self.exec_s


@contextmanager
def spark_session(work: Path):
    """The frozen bench.py's session settings, sized for this machine, with
    every scratch file kept under ``work``."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # python workers fork from the JVM: they inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "mimalloc")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("sparkkd-perfbench")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    gateway = SparkContext._gateway
    try:
        yield spark
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def materialise(df) -> int:
    """Compute every column of ``df`` without collecting it; returns its
    row count, observed in the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("perfbench")
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _drop(spark, index) -> None:
    """Unpersist an index and wait until its blocks are gone, so the next
    build starts from the same storage state."""
    index.unpersist()
    t_end = time.perf_counter() + 30
    while _cached_bytes(spark) and time.perf_counter() < t_end:
        time.sleep(0.05)


def bench(spark, w, seed: int, seconds: float, traced: bool, work: Path, join=None):
    """One run of workload ``w``; returns (result dict, spans tracer or None).

    ``join`` replaces the op under test (the self-test injects faults)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import spans as S
    import workloads as W

    join = join or W.join
    phases = {}  # wall seconds per stage of the run, for the summary line
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    # ---- inputs, all before any timing; the seed fixes every one of them
    corpus_seed, warm_seed, *batch_seeds = (
        int(s) for s in np.random.SeedSequence(seed).generate_state(2 + BATCHES)
    )
    warm = dataclasses.replace(w, n_corpus=WARM_CORPUS, n_queries=WARM_QUERIES)
    inputs = work / "inputs"
    shutil.rmtree(inputs, ignore_errors=True)
    inputs.mkdir(parents=True)

    def frame(table, name, partition_cols=None):
        path = str(inputs / name)
        pq.write_to_dataset(table, path, partition_cols=partition_cols)
        return spark.read.parquet(path)

    corpus = W.corpus_table(w, corpus_seed)
    corpus_df = frame(corpus, "corpus")
    batches = [W.query_table(w, s) for s in batch_seeds]
    # one partitioned dataset: a single read, each batch one pruned partition
    tagged = [
        b.append_column("batch", pa.array(np.full(b.num_rows, i, np.int32)))
        for i, b in enumerate(batches)
    ]
    all_batches = frame(pa.concat_tables(tagged), "batches", ["batch"])
    batch_dfs = [
        all_batches.filter(F.col("batch") == i).drop("batch") for i in range(BATCHES)
    ]
    warm_corpus_df = frame(W.corpus_table(warm, warm_seed), "warm_corpus")
    warm_q_df = frame(W.query_table(warm, warm_seed + 1), "warm_queries")
    oracle = W.Oracle(w, corpus)
    want_rows = W.expected_rows(w)
    tracer = S.Tracer(spark) if traced else None
    phase("inputs")

    # ---- session warm-up: JVM code paths and python workers, throwaway
    idx = W.build_index(spark, warm, warm_corpus_df)
    materialise(W.join(idx, warm, warm_q_df))
    _drop(spark, idx)
    phase("warmup")

    # ---- set-up, several times; the last index serves the ops
    setup_s, build_spans, index_bytes = [], [], 0
    for i in range(SETUPS):
        if i:
            _drop(spark, idx)
        t0 = time.perf_counter()
        if tracer:
            with tracer.span(w.layer, "build", i):
                idx = W.build_index(spark, w, corpus_df)
        else:
            idx = W.build_index(spark, w, corpus_df)
        setup_s.append(time.perf_counter() - t0)
        index_bytes = _cached_bytes(spark)
        if tracer:
            build_spans.append(tracer.spans[-1])
            tracer.collect(build_spans[-1:])
    phase("setups")

    # ---- ops: warm-up (one checked by the oracle), then the timed loop
    ops: list[Op] = []
    op_spans: dict[int, list] = {}

    def run_op(b: int, traced_op: bool, collect: bool = False):
        op = Op(traced=traced_op)
        ops.append(op)
        n = len(ops) - 1
        qdf = batch_dfs[b % BATCHES]
        try:
            t0 = time.perf_counter()
            if traced_op:
                with tracer.span(w.layer, "call", n):
                    df = join(idx, w, qdf)
                t1 = time.perf_counter()
                with tracer.span(w.layer, "exec", n):
                    out = df.toArrow() if collect else materialise(df)
                op_spans[n] = tracer.spans[-2:]
            else:
                df = join(idx, w, qdf)
                t1 = time.perf_counter()
                out = df.toArrow() if collect else materialise(df)
            t2 = time.perf_counter()
            op.call_s, op.exec_s = t1 - t0, t2 - t1
            op.rows = out.num_rows if collect else out
            op.ok = want_rows is None or op.rows == want_rows
            if not op.ok:
                print(f"perfbench: op {n} returned {op.rows} rows, expected {want_rows}",
                      file=sys.stderr)
        except Exception:
            traceback.print_exc()
            out = None
        if op.ok and traced_op:
            tracer.collect(op_spans[n])  # outside the op's timing
        return op, out

    # the first warm-up op is collected and checked against the oracle
    check_op, got = run_op(0, False, collect=True)
    mismatch = "op raised" if got is None else oracle.mismatch(batches[0], got)
    if mismatch:
        check_op.ok = False
        print(f"perfbench: oracle check failed on {w.name}: {mismatch}", file=sys.stderr)
    del got
    for b in range(1, w.warmup_ops):
        run_op(b, False)
    phase("warmup_ops_and_check")
    timed: list[Op] = []
    t_loop = time.perf_counter()
    while True:
        # a traced run alternates untraced and traced ops in blocks of four
        # (U T T U), so a warm-up trend biases neither side of overhead_frac
        traced_op = bool(tracer) and len(timed) % 4 in (1, 2)
        timed.append(run_op(w.warmup_ops + len(timed), traced_op)[0])
        if time.perf_counter() - t_loop >= seconds and not (tracer and len(timed) % 4):
            break
    loop_s = time.perf_counter() - t_loop
    phase("timed_loop")
    _drop(spark, idx)

    # ---- metrics
    good = [op for op in timed if op.ok]
    failed = sum(not op.ok for op in ops)
    summary = {
        "workload": w.name,
        "seed": seed,
        "warmup_ops_dropped": w.warmup_ops,
        "timed_ops": len(timed),
        "timed_op_s": [round(op.seconds, 3) for op in timed],
        "op_fail_ratio": failed / len(ops),
        "checked_batch_rows": check_op.rows,
        "tail_percentile": "omitted: fewer than 10 ops beyond any percentile above p50",
    }
    if not good or traced and {o.traced for o in good} != {True, False}:
        metrics = {}  # nothing measured; the run reports failure
    elif traced:
        metrics = _per_layer(w, corpus, build_spans, op_spans, ops, good)
    else:
        lat = [op.seconds for op in good]
        metrics = {
            "setup_s": statistics.median(setup_s),
            "op_p50_s": statistics.median(lat),
            "queries_per_s": len(good) * w.n_queries / loop_s,
            "result_rows_per_s": sum(op.rows for op in good) / loop_s,
            "index_mb": index_bytes / 1e6,
        }
    phase("metrics")
    summary["phases_s"] = phases
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "summary": summary,
        "metrics": metrics,
    }
    return result, tracer


def _per_layer(w, corpus, build_spans, op_spans, ops, good) -> dict:
    """Per-layer metrics: medians over the traced ops of the timed loop."""
    import workloads as W

    med = statistics.median
    per_op = []
    for n, (call, exe) in op_spans.items():
        op = ops[n]
        if not op.ok:
            continue
        rows_in = sum(
            s.counters["input_records"] + s.counters["shuffle_read_records"]
            for s in (call, exe)
        )
        per_op.append({
            "call_s": call.seconds,
            "exec_s": exe.seconds,
            "jobs": call.jobs + exe.jobs,
            "stages": call.stages + exe.stages,
            "tasks": call.tasks + exe.tasks,
            "task_run_s": sum(s.counters["task_run_ms"] for s in (call, exe)) / 1e3,
            "jvm_cpu_s": sum(s.counters["jvm_cpu_ns"] for s in (call, exe)) / 1e9,
            "shuffle_read_mb": sum(s.counters["shuffle_read_bytes"] for s in (call, exe)) / 1e6,
            "shuffle_write_mb": sum(s.counters["shuffle_write_bytes"] for s in (call, exe)) / 1e6,
            "rows_in_per_row": rows_in / max(op.rows, 1),
        })

    def m(key):
        return med(p[key] for p in per_op)

    traced_lat = [o.seconds for o in good if o.traced]
    plain_lat = [o.seconds for o in good if not o.traced]
    return {
        "index.build_s": med(s.seconds for s in build_spans),
        "index.build_jobs": med(s.jobs for s in build_spans),
        "index.call_s": m("call_s"),
        "index.exec_s": m("exec_s"),
        "index.jobs_per_op": m("jobs"),
        "index.stages_per_op": m("stages"),
        "index.tasks_per_op": m("tasks"),
        "index.task_run_s_per_op": m("task_run_s"),
        "index.jvm_cpu_s_per_op": m("jvm_cpu_s"),
        "index.shuffle_read_mb_per_op": m("shuffle_read_mb"),
        "index.shuffle_write_mb_per_op": m("shuffle_write_mb"),
        "index.rows_in_per_result_row": m("rows_in_per_row"),
        **W.kernel_rungs(w, corpus),
        "trace.overhead_frac": med(traced_lat) / med(plain_lat) - 1,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import workloads as W
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    w = W.WORKLOADS[args.workload]

    work = WORK / f"{w.name}-{os.getpid()}"
    try:
        with spark_session(work) as spark:
            result, tracer = bench(spark, w, args.seed, args.seconds, bool(args.trace), work)
        if tracer:
            tracer.write(WORK / f"spans-{w.name}-seed{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    summary = result.pop("summary")
    print("perfbench: " + json.dumps(summary))
    for name, value in result["metrics"].items():
        print(f"perfbench: {name} = {value:.6g} {units[name]}")
    result["metrics"] = {
        name: {"value": value, "unit": units[name]}
        for name, value in result["metrics"].items()
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
