#!/usr/bin/env python
"""North-rule scaling evidence with REAL executor processes.

The other scaling exhibits run `local[N]` (thread-count parallelism in
one JVM).  This job runs the marquee SE(3) compound radius join the way
the north_rule words it: submitted via ``spark-submit --py-files
sparkkd.zip`` against a **multi-executor** master —
``local-cluster[E,8,mem]`` spawns E separate executor JVMs (own heaps,
own Python worker pools, cross-process Netty shuffle + broadcast) on
this host — at E=1 (N) and E=4 (4N) executors, 8 cores each.

Cross-checks per level:
* pair count must be identical at both cluster sizes (exactness is
  invariant under cluster size — the same claim the reference's tests
  make for thread counts, `test/kdtree_test.cpp`);
* the executor count seen by the driver is asserted, so the 4N level
  can't silently fall back to one backend.

Prints one JSON line per level plus a summary line with
efficiency = rate_4N / (4 * rate_N).

Usage: python jobs/local_cluster_scaling.py [--quick]
       (orchestrator: builds dist/sparkkd.zip, materializes fixtures,
        then spark-submits itself twice with --worker E)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TAG = os.environ.get("SPARKKD_LC_TAG", "sf1")
# "se3_radius": marquee compound radius join (output-bound: ~300M pairs at
#   sf1 — the Arrow materialization residue shares ONE host memory bus, so
#   its literal-form efficiency is bandwidth-limited; see BENCH/BASELINE.md).
# "se3_knn": compound kNN join (compute-bound: branch-and-bound kernels +
#   libm rescoring dominate, output is only Q*k rows) — the workload whose
#   parallel work survives the optimized engine, so the >= 0.8 criterion is
#   testable in the literal spark-submit form.
# "ann_brute": exact blocked-BLAS cosine top-k, query-vs-corpus form
#   (datapipe.ann_cosine_topk(queries=...)) — the repo's highest
#   flops-per-shuffle-byte op: ~13 s sgemm-bound tasks, output only Q*k
#   rows, BLAS pinned to 1 thread/worker so the core-count comparison is
#   honest.  Long uniform tasks amortize this sandbox's paging wall (the
#   K2 pathology), so this is the literal-form workload expected to meet
#   the >= 0.8 criterion.
JOB = os.environ.get("SPARKKD_LC_JOB", "se3_radius")
RADIUS = float(os.environ.get("SPARKKD_LC_R", "0.7"))
KNN_K = int(os.environ.get("SPARKKD_LC_K", "4"))
ROT_W = float(os.environ.get("SPARKKD_LC_RW", "2.0"))
TRANS_W = float(os.environ.get("SPARKKD_LC_TW", "0.5"))
REPEATS = int(os.environ.get("SPARKKD_LC_REPEATS", "2"))
CORES_PER_EXEC = 8

# ann_brute sizing (see BENCH/BASELINE.md §K3): 2*Q*N*d = 1.92e13 flops
# at ~14 GFLOPS/core f32 -> ~160 s at 8 cores, ~42 s at 32; B=96 blocks
# of ~13 s each; partial-merge residue only Q*k*B = 9.6M rows.
ANN_N = int(os.environ.get("SPARKKD_LC_ANN_N", "3000000"))
ANN_Q = int(os.environ.get("SPARKKD_LC_ANN_Q", "25000"))
ANN_D = int(os.environ.get("SPARKKD_LC_ANN_D", "128"))
ANN_K = int(os.environ.get("SPARKKD_LC_ANN_K", "4"))
ANN_BLOCK = int(os.environ.get("SPARKKD_LC_ANN_BLOCK", "31250"))


def ensure_ann_fixtures() -> Path:
    """Deterministic unit-vector corpus + disjoint-id query set (f32
    parquet, chunked generation so the synth never holds the corpus)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = REPO / "_fixtures" / "lc_ann"
    corpus_p = out / f"corpus_{ANN_N}x{ANN_D}.parquet"
    queries_p = out / f"queries_{ANN_Q}x{ANN_D}.parquet"
    out.mkdir(parents=True, exist_ok=True)

    def write(path: Path, n: int, id0: int, seed: int) -> None:
        if path.exists():
            return
        rng = np.random.default_rng(seed)
        schema = pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
        )
        with pq.ParquetWriter(path, schema) as w:
            for c0 in range(0, n, 250_000):
                m = min(250_000, n - c0)
                X = rng.normal(size=(m, ANN_D)).astype(np.float32)
                X /= np.linalg.norm(X, axis=1, keepdims=True)
                w.write_table(
                    pa.table(
                        {
                            "vec_id": np.arange(id0 + c0, id0 + c0 + m),
                            "embedding": pa.FixedSizeListArray.from_arrays(
                                pa.array(X.ravel()), ANN_D
                            ).cast(pa.list_(pa.float32())),
                        },
                        schema=schema,
                    )
                )

    write(corpus_p, ANN_N, 0, 61)
    write(queries_p, ANN_Q, 100_000_000, 62)
    return out


# ------------------------------------------------------------- worker


def worker(n_exec: int) -> None:
    """Runs INSIDE spark-submit: master/memory/py-files already set."""
    from pyspark.sql import SparkSession

    from sparkkd import so3engine, synth

    root = synth.fixtures_root() / TAG
    spark = SparkSession.builder.appName(f"sparkkd-lc-{n_exec}x").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # getExecutorMemoryStatus includes the driver; require E live executors
    deadline = time.time() + 120
    while True:
        n_live = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
        if n_live >= n_exec:
            break
        if time.time() > deadline:
            raise RuntimeError(f"only {n_live}/{n_exec} executors registered")
        time.sleep(1)

    if JOB == "ann_brute":
        from sparkkd import datapipe

        ann_root = REPO / "_fixtures" / "lc_ann"
        corpus = spark.read.parquet(
            str(ann_root / f"corpus_{ANN_N}x{ANN_D}.parquet")
        )
        ann_q = spark.read.parquet(
            str(ann_root / f"queries_{ANN_Q}x{ANN_D}.parquet")
        )
        build_sec = 0.0
        n_queries = ann_q.count()

        def run() -> tuple[float, int]:
            t = time.time()
            n = datapipe.ann_cosine_topk(
                corpus, k=ANN_K, block_rows=ANN_BLOCK, queries=ann_q
            ).count()
            return time.time() - t, n

    else:
        poses = spark.read.parquet(str(root / "poses.parquet"))
        queries = spark.read.parquet(str(root / "pose_queries.parquet"))

        t0 = time.time()
        idx = so3engine.Se3Index(spark, poses)
        build_sec = time.time() - t0

        n_queries = queries.count()

        def run() -> tuple[float, int]:
            t = time.time()
            if JOB == "se3_knn":
                n = idx.knn_join(
                    queries, k=KNN_K, rot_weight=ROT_W, trans_weight=TRANS_W
                ).count()
            else:
                n = idx.radius_join(
                    queries, RADIUS, rot_weight=ROT_W, trans_weight=TRANS_W
                ).count()
            return time.time() - t, n

    run()  # warmup: caches, JIT, python worker spin-up, page faults
    secs, n_pairs = [], 0
    for _ in range(REPEATS):
        s, n_pairs = run()
        secs.append(round(s, 2))
    best = min(secs)
    # throughput unit: output pairs/s for the radius join (output-sized
    # work), query rows/s for kNN and ann_brute (fixed Q*k output)
    rate = (n_queries if JOB in ("se3_knn", "ann_brute") else n_pairs) / best
    print(
        "SPARKKD_LC_RESULT "
        + json.dumps(
            {
                "job": JOB,
                "executors": n_exec,
                "cores": n_exec * CORES_PER_EXEC,
                "sec": best,
                "build_sec": round(build_sec, 2),
                "all_secs": secs,
                "pairs": n_pairs,
                "rate": round(rate, 1),
                "rate_unit": "queries/s"
                if JOB in ("se3_knn", "ann_brute")
                else "pairs/s",
            }
        ),
        flush=True,
    )
    spark.stop()


# ------------------------------------------------------- orchestrator


def build_zip() -> Path:
    """Package sparkkd/ into dist/sparkkd.zip for --py-files."""
    dist = REPO / "dist"
    dist.mkdir(exist_ok=True)
    out = dist / "sparkkd.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((REPO / "sparkkd").glob("*.py")):
            z.write(p, f"sparkkd/{p.name}")
    return out


def spark_submit_bin() -> str:
    import pyspark

    return str(Path(pyspark.__file__).parent / "bin" / "spark-submit")


def submit(n_exec: int, zip_path: Path, mem_mb: int, exec_mem: str) -> dict:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    shm = Path("/dev/shm/sparkkd-local")
    shm.mkdir(parents=True, exist_ok=True)
    cmd = [
        spark_submit_bin(),
        "--master", f"local-cluster[{n_exec},{CORES_PER_EXEC},{mem_mb}]",
        "--py-files", str(zip_path),
        "--driver-memory", "20g",
        "--conf", f"spark.executor.memory={exec_mem}",
        # a real cluster gives each executor its own machine; on this
        # shared host each executor JVM must be sized to its SLICE:
        # GC threads capped at its core count (default would be ~23 PER
        # JVM on a 32-core host — 4 executors would run ~90 GC threads),
        # and the heap pre-touched at launch (this VM faults fresh pages
        # pathologically slowly; -Xms alone maps lazily, so E x 14g of
        # first-touch faults would otherwise land inside the TIMED runs)
        "--conf",
        "spark.executor.extraJavaOptions="
        + os.environ.get(
            "SPARKKD_LC_EXEC_JAVA_OPTS",
            f"-XX:ParallelGCThreads={CORES_PER_EXEC}"
            f" -XX:ConcGCThreads={max(1, CORES_PER_EXEC // 4)}"
            " -XX:+AlwaysPreTouch",
        ),
        "--conf", f"spark.local.dir={shm}",
        # spark.sql.shuffle.partitions is the same at both E levels, but
        # it sizes only the generic shuffles (ann_brute's, windows): the
        # sparkkd index joins spread queries and persist the corpus over
        # defaultParallelism = E x CORES_PER_EXEC partitions, one wave at
        # either E.  ann_brute: ~1 block per reduce partition (96 keys
        # into 512 -> expected collisions ~9, each a 2-block task well
        # inside the makespan), and 1 BLAS/OMP thread per python worker
        # so 8-core vs 32-core is a core-count comparison, not a
        # thread-oversubscription contest.
        *(
            [
                "--conf", "spark.sql.shuffle.partitions=512",
                "--conf", "spark.executorEnv.OPENBLAS_NUM_THREADS=1",
                "--conf", "spark.executorEnv.OMP_NUM_THREADS=1",
                "--conf", "spark.executorEnv.MKL_NUM_THREADS=1",
            ]
            if JOB == "ann_brute"
            else ["--conf", "spark.sql.shuffle.partitions=32"]
        ),
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.adaptive.coalescePartitions.enabled=true",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        # executor python workers read this at first Arrow use (the
        # sparkkd import also sets the pool at runtime; see envtune)
        "--conf", "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL=mimalloc",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        *(
            [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir={os.environ['SPARKKD_LC_EVENTLOG']}",
            ]
            if os.environ.get("SPARKKD_LC_EVENTLOG")
            else []
        ),
        str(Path(__file__)),
        "--worker", str(n_exec),
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, env=env, cwd=str(REPO))
    for line in r.stdout.splitlines():
        if line.startswith("SPARKKD_LC_RESULT "):
            return json.loads(line[len("SPARKKD_LC_RESULT "):])
    sys.stderr.write(r.stdout[-4000:] + "\n" + r.stderr[-6000:] + "\n")
    raise RuntimeError(f"no result line from spark-submit at E={n_exec}")


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
        return
    quick = "--quick" in sys.argv
    global TAG
    if quick and "SPARKKD_LC_TAG" not in os.environ:
        TAG = "sf0.1"
        os.environ["SPARKKD_LC_TAG"] = TAG

    if JOB == "ann_brute":
        ensure_ann_fixtures()  # untimed input materialization
    else:
        from sparkkd import synth

        synth.ensure_pose_fixtures(TAG)
    zip_path = build_zip()

    levels = tuple(
        int(x) for x in os.environ.get("SPARKKD_LC_LEVELS", "1,4").split(",")
    )
    out = {}
    for n_exec in levels:
        res = submit(n_exec, zip_path, mem_mb=17408, exec_mem="14g")
        out[str(n_exec)] = res
        print(json.dumps(res), flush=True)
    if not ("1" in out and "4" in out):
        return  # diagnostic single-level run
    assert out["1"]["pairs"] == out["4"]["pairs"], "pair count differs across cluster sizes"
    eff = out["4"]["rate"] / (4.0 * out["1"]["rate"])
    if JOB == "ann_brute":
        desc = (
            f"ann_cosine_topk Q={ANN_Q} N={ANN_N} d={ANN_D} k={ANN_K} "
            f"block_rows={ANN_BLOCK} BLAS_threads=1"
        )
    elif JOB == "se3_knn":
        desc = f"se3_knn_join k={KNN_K} rw={ROT_W} tw={TRANS_W} {TAG}"
    else:
        desc = f"se3_radius_join r={RADIUS} rw={ROT_W} tw={TRANS_W} {TAG}"
    print(
        json.dumps(
            {
                "job": f"{desc} "
                       f"via spark-submit --py-files (local-cluster, {CORES_PER_EXEC} cores/executor)",
                "speedup": round(out["4"]["rate"] / out["1"]["rate"], 2),
                "efficiency": round(eff, 3),
                "pairs_identical": True,
                "raw": out,
            }
        )
    )


if __name__ == "__main__":
    main()
