"""Snapshot/manifest layer: append, time-travel, compaction, resume.

Maps to the reference's dynamic-insert semantics (size after each add,
``test/kdtree_test.cpp:46-68``) and the north_rule's resumable-checkpoint
requirement (identical output after kill + rerun).
"""

import numpy as np
import pytest

from sparkkd import snapshots, synth

pytestmark = pytest.mark.spark


@pytest.fixture()
def store(tmp_path):
    return snapshots.SnapshotStore(tmp_path / "snap")


def _img_df(spark, n, seed):
    import pandas as pd

    t = synth.gen_images(n, seed=seed).to_pandas()
    return spark.createDataFrame(t)


def test_write_read_roundtrip(spark, store):
    df = _img_df(spark, 300, 42)
    sid = store.write(df)
    got = store.read(spark, sid)
    assert got.count() == 300
    assert sorted(got.columns) == sorted(df.columns)


def test_append_creates_new_snapshot_and_time_travel(spark, store):
    s1 = store.write(_img_df(spark, 200, 42))
    s2 = store.append(_img_df(spark, 100, 43))
    assert s2 == s1 + 1
    # time travel: old snapshot unchanged (size-after-add invariant)
    assert store.read(spark, s1).count() == 200
    assert store.read(spark, s2).count() == 300
    man = store.manifest(s2)
    assert man["parent_id"] == s1
    assert man["delta_rows"] == 100


def test_compaction_doubling_rule(spark, store):
    store.write(_img_df(spark, 100, 42))
    store.append(_img_df(spark, 40, 43))
    assert not store.needs_compaction()
    store.append(_img_df(spark, 80, 44))
    assert store.needs_compaction()  # 120 delta >= 100 base
    key = ["image_id", "phash"]  # ids collide across seeds; phash disambiguates
    before = store.read(spark).toPandas().sort_values(key).reset_index(drop=True)
    sid = store.compact(spark)
    after = store.read(spark, sid).toPandas().sort_values(key).reset_index(drop=True)
    assert before.equals(after)  # compaction is a no-op logically
    assert store.manifest(sid)["delta_rows"] == 0
    # GC removes nothing while old manifests still reference old files
    assert store.expire_unreferenced() == 0


def test_lineage_metrics_written(spark, store):
    sid = store.write(_img_df(spark, 300, 42))
    path = store.write_lineage(spark, sid, level=5)
    lin = spark.read.parquet(path).toPandas()
    assert lin["n_rows"].sum() == 300
    assert {"cell_id", "n_rows", "min_x", "max_x", "tree_depth"} <= set(lin.columns)


def test_pipeline_resume_identical_output(spark, tmp_path):
    """Kill between stages -> rerun -> identical final output, completed
    stages not recomputed."""
    from pyspark.sql import functions as F

    calls = {"a": 0, "b": 0}

    def make(root):
        return snapshots.CheckpointedPipeline(spark, root)

    def stage_a():
        calls["a"] += 1
        return _img_df(spark, 150, 42).select("image_id", "phash")

    root = tmp_path / "pipe"
    p1 = make(root)
    a1 = p1.run_stage("a", stage_a)
    assert calls["a"] == 1

    # simulate crash before stage b; new pipeline object = new process
    p2 = make(root)
    a2 = p2.run_stage("a", stage_a)
    assert calls["a"] == 1  # resumed, not recomputed

    def stage_b():
        calls["b"] += 1
        return a2.withColumn("h", F.pmod(F.xxhash64("image_id"), F.lit(97)))

    b1 = p2.run_stage("b", stage_b).toPandas().sort_values("image_id").reset_index(drop=True)
    p3 = make(root)
    b2 = p3.run_stage("b", stage_b).toPandas().sort_values("image_id").reset_index(drop=True)
    assert calls["b"] == 1
    assert b1.equals(b2)
    assert np.array_equal(b1["h"].to_numpy(), b2["h"].to_numpy())


def test_query_metrics_and_latency_histogram(spark, tmp_path):
    """GeoIndex.profile_batch -> per-cell metrics rows; latency_histogram
    buckets cover every probed query; SnapshotStore logs both tables."""
    from sparkkd import engine, synth
    from sparkkd.snapshots import SnapshotStore

    root = synth.ensure_fixtures("sf0.001")
    images = spark.read.parquet(str(root / "images.parquet"))
    queries = spark.read.parquet(str(root / "queries.parquet"))
    idx = engine.GeoIndex(spark, images, n_images_hint=2000)
    try:
        metrics = idx.profile_batch(queries, k=4).toPandas()
        assert len(metrics) > 0
        assert (metrics["n_points"] > 0).all()
        assert (metrics["kernel_ms"] >= 0).all()
        assert (metrics["tree_depth"] >= 0).all()
        # every query probes exactly its home cell's salts >= 1 row each
        assert metrics["n_queries"].sum() >= queries.count() * 0.9
        # materialize ONE profiling run for the downstream assertions
        # (kernel_ms is wall time: re-running re-buckets the histogram)
        mdf = spark.createDataFrame(metrics)
        hist = engine.latency_histogram(mdf).toPandas()
        assert hist["n_queries"].sum() == metrics["n_queries"].sum()
        store = SnapshotStore(tmp_path / "snapm")
        sid = store.write(images)
        out = store.write_query_metrics(mdf, sid)
        assert spark.read.parquet(out).count() == len(metrics)
        assert spark.read.parquet(out + "-hist").count() == len(hist)
    finally:
        idx.unpersist()


def test_temp_store_dir_lives_until_interpreter_exit(tmp_path):
    """A throwaway store directory (`__spark_entry__`'s snapshot-append
    rows make one per call, ~650 MB at sf0.1) must exist for the rest of
    the process, so the lazy frame read from it stays valid, and be gone
    once the process exits."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    code = (
        "from pathlib import Path\n"
        "from sparkkd.snapshots import temp_store_dir\n"
        "d = Path(temp_store_dir('sparkkd-snap-'))\n"
        "(d / 'part.parquet').write_bytes(b'x' * 1024)\n"
        "assert d.is_dir()\n"
        "print(d)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path),
           "PYTHONPATH": os.pathsep.join([str(repo), os.environ.get("PYTHONPATH", "")])}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=repo,
        capture_output=True, text=True, check=True,
    )
    made = Path(out.stdout.strip().splitlines()[-1])
    assert made.parent == tmp_path and made.name.startswith("sparkkd-snap-")
    assert not made.exists()
    assert list(tmp_path.iterdir()) == []
