"""GeoIndex build-once/query-many parity, LSH ANN scale path, token counts."""

import numpy as np
import pytest

from sparkkd import datapipe, engine

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def test_geoindex_matches_knn_join(spark, sf0001_fixtures):
    images = spark.read.parquet(str(sf0001_fixtures / "images.parquet"))
    queries = spark.read.parquet(str(sf0001_fixtures / "queries.parquet"))
    idx = engine.GeoIndex(spark, images, n_images_hint=2000)
    try:
        a = (
            idx.knn_join(queries, k=8)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        b = (
            engine.knn_join(spark, images, queries, k=8, n_images_hint=2000)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert a.equals(b)
        # radius via index == standalone radius
        ra = idx.radius_join(queries, 3.0).count()
        rb = engine.radius_join(spark, images, queries, r=3.0, n_images_hint=2000).count()
        assert ra == rb
        # single-point convenience: self-nearest at distance ~0
        img0 = images.limit(1).toPandas().iloc[0]
        from sparkkd import cells

        lat, lon = cells.phash_to_coords(np.array([img0["phash"]]))
        rows = idx.nearest(float(lat[0]), float(lon[0]), k=1)
        assert rows[0].image_id == img0["image_id"]
        assert idx.n_rows == 2000
        assert idx.lineage().toPandas()["n_rows"].sum() == 2000
    finally:
        idx.unpersist()


def test_ann_lsh_recall_and_exact_scoring(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = datapipe.ann_cosine_topk(emb, 10).toPandas()
    lsh = datapipe.ann_lsh_cosine_topk(emb, 10).toPandas()
    # determinism
    lsh2 = datapipe.ann_lsh_cosine_topk(emb, 10).toPandas()
    key = ["vec_id", "rank"]
    assert (
        lsh.sort_values(key).reset_index(drop=True)
        .equals(lsh2.sort_values(key).reset_index(drop=True))
    )
    # every reported sim equals the exact sim for that pair
    esim = {(r.vec_id, r.neighbor_id): r.sim for r in exact.itertuples()}
    for r in lsh.itertuples():
        if (r.vec_id, r.neighbor_id) in esim:
            assert r.sim == esim[(r.vec_id, r.neighbor_id)]
    # recall@1 floor on random embeddings (worst case for LSH)
    e1 = set(zip(exact[exact["rank"] == 1].vec_id, exact[exact["rank"] == 1].neighbor_id))
    l1 = set(zip(lsh[lsh["rank"] == 1].vec_id, lsh[lsh["rank"] == 1].neighbor_id))
    assert len(e1 & l1) / len(e1) >= 0.5


def test_token_counts_reasonable(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    res = datapipe.token_counts(docs).toPandas()
    # corpus is space-separated lowercase words: both tokenizers agree
    assert (res["ws_tokens"] == res["bpe_tokens"]).all()
    assert (res["ws_tokens"] > 0).all()
    # and differ once punctuation appears
    import pandas as pd

    one = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b,c!"]}))
    r = datapipe.token_counts(one).toPandas().iloc[0]
    assert r["ws_tokens"] == 2  # 'a', 'b,c!'
    assert r["bpe_tokens"] == 5  # a b , c !


def test_steady_batch_runs_no_job_and_persists_nothing(spark, sf0001_fixtures):
    """Planar kNN is one lazy pass: on a PREBUILT index, constructing a
    kNN batch runs NO driver action (the two-phase path ran one, the
    probe-keys collect), and materializing it leaves no persisted
    intermediate behind (the two-phase path held its phase-1 and
    candidate caches until the next call).  Results must be complete."""
    images = spark.read.parquet(str(sf0001_fixtures / "images.parquet"))
    queries = spark.read.parquet(str(sf0001_fixtures / "queries.parquet"))
    idx = engine.GeoIndex(spark, images, n_images_hint=2000)
    jsc = spark.sparkContext._jsc
    try:
        idx.knn_join(queries, k=8).count()  # warm
        n_persisted = jsc.getPersistentRDDs().size()

        def n_execs():
            # SQL executions = driver-side actions (AQE splits one action
            # into many JOBS, so job counts can't express the floor)
            return (
                spark._jsparkSession.sharedState()
                .statusStore().executionsCount()
            )

        before = n_execs()
        df = idx.knn_join(queries, k=8)  # builder only — NO action
        builder_actions = n_execs() - before
        assert builder_actions == 0, builder_actions
        assert df.count() == 8 * queries.count()
        assert jsc.getPersistentRDDs().size() == n_persisted
    finally:
        idx.unpersist()
