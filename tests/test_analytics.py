"""Brute-force oracles for the composite geo analytics (analytics.py):
DBSCAN roles/labels, IDW values, and k-ring focal sums are each recomputed
with plain NumPy/python over the same fixture corpus and compared exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkkd import analytics, cells, synth

EPS = 0.5
MIN_PTS = 5


def _pts(root):
    img = pq.read_table(root / "images.parquet", columns=["image_id", "phash"])
    df = img.to_pandas()
    lat, lon = cells.phash_to_coords(df.phash.to_numpy())
    return df.image_id.to_numpy(), lon, lat


def _brute_dbscan(ids, x, y, eps, min_pts):
    """Reference DBSCAN with the engine's deterministic label rules."""
    n = len(ids)
    d2 = (x[:, None] - x[None, :]) ** 2 + (y[:, None] - y[None, :]) ** 2
    adj = np.sqrt(d2) <= eps  # includes self
    n_eps = adj.sum(axis=1)
    is_core = n_eps >= min_pts
    # union-find over core-core edges
    parent = np.arange(n)

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    ci = np.nonzero(is_core)[0]
    for a in ci:
        for b in np.nonzero(adj[a] & is_core)[0]:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    roles, labels = [], []
    comp_label = {}
    for a in ci:
        r = find(a)
        comp_label.setdefault(r, []).append(ids[a])
    comp_label = {r: min(v) for r, v in comp_label.items()}
    for a in range(n):
        if is_core[a]:
            roles.append("core")
            labels.append(comp_label[find(a)])
        else:
            nbr_cores = np.nonzero(adj[a] & is_core)[0]
            if len(nbr_cores) > 0:
                roles.append("border")
                labels.append(min(comp_label[find(b)] for b in nbr_cores))
            else:
                roles.append("noise")
                labels.append(None)
    return pd.DataFrame({"image_id": ids, "role": roles, "cluster": labels})


def test_geo_dbscan_matches_brute_force(spark, sf0001_fixtures):
    root = sf0001_fixtures
    ids, x, y = _pts(root)
    expect = _brute_dbscan(ids, x, y, EPS, MIN_PTS).sort_values(
        "image_id"
    ).reset_index(drop=True)
    images = spark.read.parquet(str(root / "images.parquet"))
    got = (
        analytics.geo_dbscan(spark, images, eps=EPS, min_pts=MIN_PTS)
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(ids)
    pd.testing.assert_frame_equal(got, expect)
    # sanity: the fixture produces all three roles at these parameters
    assert set(got.role.unique()) == {"core", "border", "noise"}


def test_geo_dbscan_hot_spot_is_one_cluster(spark, sf0001_fixtures):
    """Every point in the synthetic hot box is pairwise within EPS, so the
    whole box must land in ONE cluster with every member core."""
    root = sf0001_fixtures
    images = spark.read.parquet(str(root / "images.parquet"))
    got = analytics.geo_dbscan(spark, images, eps=EPS, min_pts=MIN_PTS).toPandas()
    ids, x, y = _pts(root)
    hot = (
        (x >= synth.HOT_LON)
        & (x <= synth.HOT_LON + synth.HOT_W)
        & (y >= synth.HOT_LAT)
        & (y <= synth.HOT_LAT + synth.HOT_W)
    )
    hot_ids = set(ids[hot])
    sub = got[got.image_id.isin(hot_ids)]
    assert (sub.role == "core").all()
    assert sub.cluster.nunique() == 1


def test_idw_matches_brute_force(spark, sf0001_fixtures):
    root = sf0001_fixtures
    ids, x, y = _pts(root)
    img_pd = pq.read_table(
        root / "images.parquet", columns=["image_id", "w", "h"]
    ).to_pandas()
    val = (img_pd.w * img_pd.h).astype(np.float64).to_numpy()
    q = pq.read_table(root / "queries.parquet").to_pandas()
    k = 8
    images = spark.read.parquet(str(root / "images.parquet")).withColumn(
        "val", F.expr("CAST(w * h AS DOUBLE)")
    )
    queries = spark.read.parquet(str(root / "queries.parquet"))
    got = (
        analytics.idw_interpolate(spark, images, queries, "val", k=k)
        .toPandas()
        .sort_values("query_id")
        .reset_index(drop=True)
    )
    # brute force with the identical rank-ordered fold
    order_ids = {i: j for j, i in enumerate(ids)}
    vals = val[[order_ids[i] for i in img_pd.image_id]]
    exp_rows = []
    for _, row in q.iterrows():
        d = np.sqrt((x - row.qlon) ** 2 + (y - row.qlat) ** 2)
        ordk = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))[:k]
        num = den = 0.0
        for i in ordk:
            num += vals[i] / (d[i] + analytics.IDW_EPS)
            den += 1.0 / (d[i] + analytics.IDW_EPS)
        exp_rows.append((row.query_id, num / den, k))
    expect = (
        pd.DataFrame(exp_rows, columns=["query_id", "idw_value", "n_used"])
        .sort_values("query_id")
        .reset_index(drop=True)
    )
    assert (got.n_used == k).all()
    np.testing.assert_array_equal(got.query_id.to_numpy(), expect.query_id.to_numpy())
    # fold order identical => bit-exact
    np.testing.assert_array_equal(
        got.idw_value.to_numpy(), expect.idw_value.to_numpy()
    )


def test_zonal_stats_matches_membership_aggregation(spark, sf0001_fixtures):
    """Aggregates over the ray-cast membership must equal a pandas
    recomputation from the same (independently verified) membership
    kernel; integral values keep every stat exact."""
    from sparkkd.engine import _polygon_arrays, ray_cast_inside

    root = sf0001_fixtures
    ids, x, y = _pts(root)
    img_pd = pq.read_table(
        root / "images.parquet", columns=["image_id", "w", "h"]
    ).to_pandas()
    val = (img_pd.w * img_pd.h).astype(np.float64).to_numpy()
    vmap = dict(zip(img_pd.image_id, val))
    poly_pdf = pq.read_table(root / "polygons.parquet").to_pandas()
    edges = _polygon_arrays(poly_pdf)
    rows = []
    for pid, e in edges.items():
        inside = ray_cast_inside(x, y, e)
        if inside.any():
            vv = np.array([vmap[i] for i in ids[inside]])
            rows.append((pid, int(inside.sum()), vv.sum(),
                         vv.sum() / inside.sum(), vv.min(), vv.max()))
    expect = (
        pd.DataFrame(rows, columns=["poly_id", "n_points", "sum_val",
                                    "avg_val", "min_val", "max_val"])
        .sort_values("poly_id").reset_index(drop=True)
    )
    images = spark.read.parquet(str(root / "images.parquet")).withColumn(
        "val", F.expr("CAST(w * h AS DOUBLE)")
    )
    polygons = spark.read.parquet(str(root / "polygons.parquet"))
    from sparkkd import analytics as A

    got = (
        A.zonal_stats(spark, images, polygons, "val")
        .toPandas().sort_values("poly_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


@pytest.mark.parametrize("threshold,min_pts", [(0.3, 3), (0.35, 2)])
def test_embedding_dbscan_matches_brute_force(spark, threshold, min_pts):
    """Cosine-space DBSCAN vs a brute-force union-find over the exact
    6dp-rounded similarity matrix (same rounding as the detector)."""
    from sparkkd import datapipe

    emb_pd = pq.read_table("/root/testdata/sf0.001/embeddings.parquet").to_pandas()
    ids = emb_pd.vec_id.to_numpy()
    M = np.array(emb_pd.embedding.tolist(), dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = datapipe._round6_away(Mn @ Mn.T)
    n = len(ids)
    adj = (S >= threshold) & ~np.eye(n, dtype=bool)
    n_eps = adj.sum(axis=1) + 1  # self included
    is_core = n_eps >= min_pts
    parent = np.arange(n)

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    ci = np.nonzero(is_core)[0]
    for a in ci:
        for b in np.nonzero(adj[a] & is_core)[0]:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp_label = {}
    for a in ci:
        r = find(a)
        if r not in comp_label or ids[a] < comp_label[r]:
            comp_label[r] = ids[a]
    rows = []
    for a in range(n):
        if is_core[a]:
            rows.append((ids[a], "core", comp_label[find(a)]))
        else:
            nbc = np.nonzero(adj[a] & is_core)[0]
            if len(nbc) > 0:
                rows.append(
                    (ids[a], "border", min(comp_label[find(b)] for b in nbc))
                )
            else:
                rows.append((ids[a], "noise", None))
    expect = (
        pd.DataFrame(rows, columns=["vec_id", "role", "cluster"])
        .sort_values("vec_id").reset_index(drop=True)
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = (
        analytics.embedding_dbscan(
            spark, emb, threshold=threshold, min_pts=min_pts
        )
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"cluster": "float64"}),
        expect.astype({"cluster": "float64"}),
        check_dtype=False,
    )


def test_zonal_stats_distributed_mode_identical(spark, sf0001_fixtures):
    """Broadcast and distributed PIP paths must aggregate to the same
    zonal rows (they share membership semantics by the pip oracle rows)."""
    from sparkkd import analytics as A

    root = sf0001_fixtures
    images = spark.read.parquet(str(root / "images.parquet")).withColumn(
        "val", F.expr("CAST(w * h AS DOUBLE)")
    )
    polygons = spark.read.parquet(str(root / "polygons.parquet"))
    a = (
        A.zonal_stats(spark, images, polygons, "val", mode="broadcast")
        .toPandas().sort_values("poly_id").reset_index(drop=True)
    )
    b = (
        A.zonal_stats(spark, images, polygons, "val", mode="distributed")
        .toPandas().sort_values("poly_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_geo_dbscan_repeated_calls_reach_steady_storage(spark, sf0001_fixtures):
    """geo_dbscan registers its eps-graph in the one-shot registry —
    repeated calls must drain the previous call's blocks (the same
    long-session contract test_cache_discipline pins for the joins)."""
    from sparkkd import engine as E

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    root = sf0001_fixtures
    images = spark.read.parquet(str(root / "images.parquet"))
    base = n_persisted()
    first = None
    for _ in range(2):
        analytics.geo_dbscan(spark, images, eps=EPS, min_pts=MIN_PTS).count()
        if first is None:
            first = n_persisted()
    assert n_persisted() <= first, (first, n_persisted())
    E.release_caches()
    assert n_persisted() <= base, (base, n_persisted())


def test_knn_label_stats_matches_brute_force(spark):
    """Majority label and agreement fraction vs a NumPy recomputation
    with identical ranking (6dp-rounded sims desc, neighbor id asc) and
    tie rules (majority ties toward the smallest label)."""
    from sparkkd import datapipe

    k = 10
    emb_pd = pq.read_table("/root/testdata/sf0.001/embeddings.parquet").to_pandas()
    ids = emb_pd.vec_id.to_numpy()
    labels = emb_pd.label.to_numpy()
    M = np.array(emb_pd.embedding.tolist(), dtype=np.float64)
    N = np.linalg.norm(M, axis=1)
    S = datapipe._round6_away((M @ M.T) / np.outer(N, N))
    rows = []
    for a in range(len(ids)):
        cand = [b for b in range(len(ids)) if b != a]
        cand.sort(key=lambda b: (-S[a, b], ids[b]))
        nb = cand[:k]
        nbl = labels[nb]
        counts = {}
        for l in nbl:
            counts[l] = counts.get(l, 0) + 1
        majority = min(counts, key=lambda l: (-counts[l], l))
        n_agree = int((nbl == labels[a]).sum())
        rows.append((ids[a], labels[a], majority, n_agree, len(nb),
                     float(n_agree) / len(nb)))
    expect = (
        pd.DataFrame(rows, columns=["vec_id", "own_label", "majority_label",
                                    "n_agree", "n_nbrs", "agree_frac"])
        .sort_values("vec_id").reset_index(drop=True)
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = (
        analytics.knn_label_stats(emb, k=k)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_degenerate_inputs(spark):
    """Empty corpora, single rows, and corpus<k must return sensible
    frames, never crash (the joins' empty-corpus contract extended to the
    composite ops)."""
    empty = spark.createDataFrame([], "image_id string, phash long")
    one = spark.createDataFrame(
        pd.DataFrame({"image_id": ["i0"],
                      "phash": cells.coords_to_phash(
                          np.array([10.0]), np.array([20.0]))})
    )
    three = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"i{j}" for j in range(3)],
                      "phash": cells.coords_to_phash(
                          np.array([10.0, 10.1, 50.0]),
                          np.array([20.0, 20.1, 60.0]))})
    )
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0"], "qlat": [10.05], "qlon": [20.05]})
    )
    assert analytics.geo_dbscan(spark, empty, 0.5, 2).count() == 0
    assert analytics.geo_dbscan(spark, one, 0.5, 2).collect()[0].role == "noise"
    rows = {r.image_id: r for r in analytics.geo_dbscan(spark, three, 0.5, 2).collect()}
    assert rows["i0"].role == "core" and rows["i0"].cluster == "i0"
    assert rows["i2"].role == "noise"
    v3 = three.withColumn("val", F.lit(1.0))
    got = analytics.idw_interpolate(spark, v3, qdf, "val", k=8).collect()
    assert got[0].n_used == 3 and got[0].idw_value == 1.0
    eq = spark.createDataFrame([], "query_id string, qlat double, qlon double")
    assert analytics.idw_interpolate(spark, v3, eq, "val", k=8).count() == 0
    assert analytics.kring_smooth(one, 7).collect()[0].ring_rows == 1
    assert analytics.kring_smooth(empty, 7).count() == 0
    eemb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert analytics.embedding_dbscan(spark, eemb, 0.5, 2).count() == 0
    oneemb = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.array([1], dtype=np.int64),
                      "embedding": [[1.0, 0.0]]})
    )
    got = analytics.embedding_dbscan(spark, oneemb, 0.5, 2).collect()
    assert got[0].role == "noise" and got[0].cluster is None


@pytest.mark.parametrize("level", [5, 7])
def test_kring_matches_dense_grid(spark, sf0001_fixtures, level):
    root = sf0001_fixtures
    ids, x, y = _pts(root)
    n = 1 << level
    cid = cells.cell_id(x, y, level)
    grid = np.zeros((n, n), dtype=np.int64)
    np.add.at(grid, (cid // n, cid % n), 1)
    ring = np.zeros_like(grid)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            src = grid[
                max(0, -dy) : n - max(0, dy), max(0, -dx) : n - max(0, dx)
            ]
            ring[max(0, dy) : n - max(0, -dy), max(0, dx) : n - max(0, -dx)] += src
    images = spark.read.parquet(str(root / "images.parquet"))
    got = analytics.kring_smooth(images, level).toPandas()
    occupied = np.nonzero(grid)
    assert len(got) == len(occupied[0])
    got = got.set_index("cell_id")
    for iy, ix in zip(*occupied):
        c = iy * n + ix
        assert got.loc[c, "n_rows"] == grid[iy, ix]
        assert got.loc[c, "ring_rows"] == ring[iy, ix]


def test_embedding_dbscan_exact_dup_contraction(spark):
    """Round-6 contraction regression: exact-duplicate groups (identical
    embedding bytes) must label EXACTLY like the uncontracted core graph
    — the m-copy clique contracts to one super-node before CC, and every
    member still gets the component's min vec_id as its cluster.  Two
    duplicate cliques joined by one bridge vector must merge into one
    cluster; a far-away pair below min_pts stays noise."""
    rows = []
    # clique A: 4 copies of the same vector (ids 10..13)
    for i in range(4):
        rows.append((10 + i, [1.0, 0.0, 0.0]))
    # clique B: 4 copies of a nearby vector (cos ~ 0.995 to A) ids 20..23
    import math

    v = [math.cos(0.1), math.sin(0.1), 0.0]
    for i in range(4):
        rows.append((20 + i, v))
    # far pair, mutually similar but only 2 of them (below min_pts=3)
    rows.append((30, [0.0, 0.0, 1.0]))
    rows.append((31, [0.0, 1e-4, 1.0]))
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.array([r[0] for r in rows], dtype=np.int64),
                "embedding": [r[1] for r in rows],
            }
        )
    )
    got = (
        analytics.embedding_dbscan(spark, emb, threshold=0.9, min_pts=3)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    by_id = got.set_index("vec_id")
    # all 8 clique members are core with cluster = global min id 10
    for i in [10, 11, 12, 13, 20, 21, 22, 23]:
        assert by_id.loc[i, "role"] == "core", i
        assert by_id.loc[i, "cluster"] == 10, i
    # the far pair has |ball| = 2 < 3: noise
    for i in [30, 31]:
        assert by_id.loc[i, "role"] == "noise", i
        assert pd.isna(by_id.loc[i, "cluster"]), i


def test_embedding_dbscan_validations(spark):
    """ADVICE r5 fixes: min_pts < 2 and an ambiguous id_col raise."""
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.array([1], dtype=np.int64), "embedding": [[1.0, 0.0]]}
        )
    )
    with pytest.raises(ValueError, match="min_pts"):
        analytics.embedding_dbscan(spark, emb, threshold=0.5, min_pts=1)
    both = emb.withColumn("other_id", F.col("vec_id"))
    with pytest.raises(ValueError, match="ambiguous"):
        analytics.embedding_dbscan(
            spark, both, threshold=0.5, min_pts=2, id_col="other_id"
        )
    # a renamed id column flows through end to end
    ren = emb.withColumnRenamed("vec_id", "item_id")
    got = analytics.embedding_dbscan(
        spark, ren, threshold=0.5, min_pts=2, id_col="item_id"
    ).collect()
    assert got[0].item_id == 1 and got[0].role == "noise"


def test_embedding_dbscan_missing_id_col(spark):
    """An id_col absent from the table raises up front, naming the column
    (withColumnRenamed would otherwise silently do nothing)."""
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"item_id": np.array([1], dtype=np.int64), "embedding": [[1.0, 0.0]]}
        )
    )
    with pytest.raises(ValueError, match="'doc_id' is not a column"):
        analytics.embedding_dbscan(
            spark, emb, threshold=0.5, min_pts=2, id_col="doc_id"
        )
    # the default id_col is validated too
    with pytest.raises(ValueError, match="'vec_id' is not a column"):
        analytics.embedding_dbscan(spark, emb, threshold=0.5, min_pts=2)


def test_geo_dbscan_eps_validation(spark, sf0001_fixtures):
    """ADVICE r5: sub-floor eps raises ValueError (not a stripped assert)."""
    root = sf0001_fixtures
    images = spark.read.parquet(str(root / "images.parquet"))
    with pytest.raises(ValueError, match="eps"):
        analytics.geo_dbscan(spark, images, eps=1e-7, min_pts=3)
