#!/usr/bin/env python
"""Round-6 auxiliary benchmarks (bench.py itself is frozen for
measurement — see OPTIMIZATION_r06.md).

Sections (select with argv, default: all):

  headline  — the 8 headline queries timed with the guide §1.4 noop sink
              (computation only, no count-side pruning ambiguity), cold +
              min-of-3 steady, same session shape as bench.py.
  simhash   — simhash_near_dup rungs at 20k/80k docs (the VERDICT r5 #2
              shuffle-shape fix): docs/s to compare against the round-5
              ladder (BENCH/BASELINE.md §G: 80k = 14.2 s / 5,654 docs/s).
  dbscan    — geo_dbscan sub + hot rungs at sf0.1 (VERDICT r5 #3 pass-
              fusion fix; round-5 §M hot rung: 156 s).
  embdup    — embedding_dbscan on a duplicate-heavy corpus (VERDICT r5
              #4 contraction): reports wall plus the CC input edge count
              vs the core-core edge count the UNcontracted plan would
              have fed CC.

Each rung prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import numpy as np

from bench import build_session


def timed(fn, runs=3):
    out = []
    for _ in range(runs):
        t0 = time.time()
        n = fn()
        out.append(round(time.time() - t0, 3))
    return out, n


def emit(**kw):
    print(json.dumps(kw), flush=True)


def sec_headline(spark):
    import __spark_entry__ as E

    qs = E.queries()
    sf = "/root/testdata/sf0.1"
    names = [
        "knn_join_k8", "so3_knn_join_k8", "se3_knn_join_k4",
        "radius_join_r2", "pip_join", "raster_vector_join",
        "tile_assign_l7", "cell_stats_l7",
    ]
    qs["knn_join_k8"](spark, "/root/testdata/sf0.001").count()  # warmup
    for name in names:
        spark.sparkContext.setJobDescription(f"noop:{name}")

        def run():
            df = qs[name](spark, sf)
            df.write.format("noop").mode("overwrite").save()
            return None

        t0 = time.time()
        run()
        cold = round(time.time() - t0, 3)
        runs, _ = timed(run)
        emit(section="headline_noop", query=name, cold=cold,
             steady=runs, steady_min=min(runs))
    spark.sparkContext.setJobDescription(None)


def sec_simhash(spark):
    sys.path.insert(0, str(Path(__file__).resolve().parent / "jobs"))
    from datapipe_ladder import ensure_documents

    from sparkkd import datapipe

    for n in (20_000, 80_000):
        docs = spark.read.parquet(str(ensure_documents(n)))

        def run():
            return datapipe.simhash_near_dup(docs, max_hamming=6).count()

        runs, pairs = timed(run)
        emit(section="simhash_near_dup", n=n, pairs=pairs, secs=runs,
             docs_per_s=round(n / min(runs), 1))


def sec_dbscan(spark):
    from pyspark.sql import functions as F

    from sparkkd import analytics, synth

    tag = "sf0.1"
    root = synth.ensure_fixtures(tag)
    images = spark.read.parquet(str(root / "images.parquet"))
    n_img = synth.SF_SIZES[tag][0]
    sub = images.filter(F.expr("CAST(substring(image_id, 4) AS BIGINT) % 4 = 0"))

    t0 = time.time()
    n = analytics.geo_dbscan(
        spark, sub, eps=0.5, min_pts=5, n_images_hint=n_img // 4
    ).count()
    emit(section="dbscan_sub", sf=tag, rows=n, sec=round(time.time() - t0, 2))

    t0 = time.time()
    n = analytics.geo_dbscan(
        spark, images, eps=0.1, min_pts=5, n_images_hint=n_img
    ).count()
    emit(section="dbscan_hot", sf=tag, rows=n, sec=round(time.time() - t0, 2))


def sec_embdup(spark):
    """Duplicate-heavy corpus: 1,000 groups x 50 exact copies + 50k
    unique fillers.  The contraction should feed CC ~O(groups) edges
    while the raw core-core edge set is ~groups * m^2."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sparkkd import analytics, datapipe
    from sparkkd.engine import _release_registry, _ONESHOT_CACHES

    seed, g, m, extra, dim = 11, 1_000, 50, 50_000, 16
    # the fixture is named by every generation parameter, so a file left
    # by other parameters is never silently reused
    p = Path(f"/dev/shm/sparkkd-embdup-s{seed}-g{g}-m{m}-x{extra}-d{dim}.parquet")
    if not p.exists():
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        base = rng.normal(size=(g, dim))
        dup = np.repeat(base, m, axis=0)
        uniq = rng.normal(size=(extra, dim))
        M = np.vstack([dup, uniq]).astype(np.float32)
        ids = np.arange(len(M), dtype=np.int64)
        pdf = pd.DataFrame({"vec_id": ids, "embedding": list(map(list, M))})
        pq.write_table(pa.Table.from_pandas(pdf), p)
    emb = spark.read.parquet(str(p))

    t0 = time.time()
    out = analytics.embedding_dbscan(spark, emb, threshold=0.9, min_pts=3)
    rows = out.count()
    wall = round(time.time() - t0, 2)

    # contraction telemetry: what CC saw vs what the uncontracted plan
    # would have seen (core-core edge count incl. both directions)
    pairs = datapipe.embedding_near_dup(emb, threshold=0.9).select("id_a", "id_b")
    sym = pairs.unionAll(pairs.select(F.col("id_b"), F.col("id_a")))
    deg = sym.groupBy("id_a").agg((F.count(F.lit(1)) + 1).alias("n_eps"))
    core = deg.filter(F.col("n_eps") >= 3).select(F.col("id_a").alias("id"))
    cc_uncontracted = (
        sym.join(core.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(core.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
        .count()
    )
    _release_registry(_ONESHOT_CACHES)
    emit(section="embedding_dbscan_dup", rows=rows, sec=wall,
         groups=g, copies=m, uncontracted_cc_edges=cc_uncontracted,
         contracted_upper_bound=g * g)


def main():
    which = set(sys.argv[1:]) or {"headline", "simhash", "dbscan", "embdup"}
    spark = build_session(32)
    spark.sparkContext.setLogLevel("ERROR")
    if "headline" in which:
        sec_headline(spark)
    if "simhash" in which:
        sec_simhash(spark)
    if "dbscan" in which:
        sec_dbscan(spark)
    if "embdup" in which:
        sec_embdup(spark)
    spark.stop()


if __name__ == "__main__":
    main()
