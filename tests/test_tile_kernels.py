"""Tile kernels vs the k-d tree path they replace for small cogroups.

``kernel.knn_tile`` / ``kernel.knn_compound_tile`` must return what the
tree kernels return — the same rows with bit-identical distances — on both
sides of the ``kernel.use_tile`` crossover, and the planar and SE(3)
cogroup kernels must take the tile exactly where the rule says.
"""

import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from sparkkd import cells, engine, kernel, so3engine, synth

WEIGHTS = [(2.0, 0.5), (0.0, 1.0), (1.0, 0.0)]


def _unit_quats(rng, n):
    q = rng.normal(size=(n, 4))
    return q / np.linalg.norm(q, axis=1)[:, None]


def _planar_case(name):
    rng = np.random.default_rng(zlib.crc32(name.encode()))
    q = rng.uniform(-1, 1, (40, 2))
    mr = np.inf
    if name == "random":
        p = rng.uniform(-1, 1, (3000, 2))
    elif name == "point_mass":  # 3,000 copies: every distance ties, by id
        p = np.vstack([np.full((3000, 2), 0.25), rng.uniform(-1, 1, (500, 2))])
        q[::2] = 0.25
    elif name == "fewer_points_than_k":
        p = rng.uniform(-1, 1, (5, 2))
    elif name == "max_radius_below_kth":
        p = rng.uniform(-1, 1, (3000, 2))
        kth = kernel.brute_force_knn(p, q, 8)[2].reshape(len(q), 8)[:, -1]
        mr = kth * rng.uniform(0.3, 0.99, len(q))
        mr[::5] = -1.0  # a negative bound admits nothing
    return p, q, mr


@pytest.mark.parametrize(
    "case", ["random", "point_mass", "fewer_points_than_k", "max_radius_below_kth"]
)
@pytest.mark.parametrize("k", [1, 8])
def test_planar_tile_bit_identical_to_tree(case, k):
    p, q, mr = _planar_case(case)
    tie = np.random.default_rng(3).permutation(len(p)).astype(np.int64)
    want = kernel.knn(kernel.build(p), q, k, tie_key=tie, max_radius=mr)
    ranked = []
    got = kernel.knn_tile(
        p, q, k, tie_rank=lambda u: ranked.append(len(u)) or tie[u], max_radius=mr
    )
    for w, g in zip(want, got):
        assert w.dtype == g.dtype
        assert np.array_equal(w, g)
    if case == "random":
        assert len(got[0]) == k * len(q)
        assert ranked[0] <= k * len(q)  # ranks candidates, not the group


def _rows(*cols):
    return sorted(zip(*(c.tolist() for c in cols)))


def _pose_case(name):
    rng = np.random.default_rng(zlib.crc32(name.encode()))
    nq, n = 40, 3000
    qt, qr = rng.normal(7, 1, (nq, 3)), _unit_quats(rng, nq)
    pt, pr = rng.normal(7, 1, (n, 3)), _unit_quats(rng, n)
    mr = np.inf
    if name == "point_mass":
        pt[:3000], pr[:3000] = pt[0], pr[0]
        pt, pr = np.vstack([pt, rng.normal(7, 1, (500, 3))]), np.vstack(
            [pr, _unit_quats(rng, 500)]
        )
        qt[::2], qr[::2] = pt[0], pr[0]
    elif name == "fewer_points_than_k":
        pt, pr = pt[:3], pr[:3]
    elif name == "max_radius_below_kth":
        mr = rng.uniform(0.2, 1.0, nq)
        mr[::5] = -1.0
    return qt, qr, pt, pr, mr


@pytest.mark.parametrize(
    "case", ["random", "point_mass", "fewer_points_than_k", "max_radius_below_kth"]
)
@pytest.mark.parametrize("rw,tw", WEIGHTS)
def test_se3_tile_returns_tree_rows(case, rw, tw):
    qt, qr, pt, pr, mr = _pose_case(case)
    k = 4
    want = kernel.knn_compound(kernel.build(pt), qt, qr, pr, k, rw, tw, max_radius=mr)
    got = kernel.knn_compound_tile(pt, qt, qr, pr, k, rw, tw, max_radius=mr)
    assert _rows(*got) == _rows(*want)  # (qi, idx, ldot, et), bit for bit
    if case == "max_radius_below_kth":
        assert len(got[0]) > 0
        assert not np.isin(np.arange(0, len(qt), 5), got[0]).any()


# (Q, P) on both sides of the crossover: Q <= TILE_MAX_Q, Q x P <= TILE_MAX_PAIRS;
# 32 x 20,000 also spans three tile chunks
SHAPES = [(32, 5000), (33, 5000), (64, 1024), (64, 1025), (200, 300), (32, 20000)]


def test_use_tile_rule_at_the_crossover():
    assert [kernel.use_tile(q, p) for q, p in SHAPES] == [
        True, False, True, False, True, True,
    ]
    assert 32 * 20000 > 2 * kernel._TILE_CHUNK_PAIRS


@pytest.mark.parametrize("nq,n", SHAPES)
def test_tiles_match_tree_across_the_crossover(nq, n):
    rng = np.random.default_rng(nq * 100_003 + n)
    p, q = rng.uniform(0, 1, (n, 2)), rng.uniform(0, 1, (nq, 2))
    tie = rng.permutation(n).astype(np.int64)
    want = kernel.knn(kernel.build(p), q, 8, tie_key=tie)
    got = kernel.knn_tile(p, q, 8, tie_rank=lambda u: tie[u])
    assert all(np.array_equal(w, g) for w, g in zip(want, got))
    qt, pt = rng.normal(7, 1, (nq, 3)), rng.normal(7, 1, (n, 3))
    qr, pr = _unit_quats(rng, nq), _unit_quats(rng, n)
    for rw, tw in WEIGHTS:
        want = kernel.knn_compound(kernel.build(pt), qt, qr, pr, 4, rw, tw)
        got = kernel.knn_compound_tile(pt, qt, qr, pr, 4, rw, tw)
        assert _rows(*got) == _rows(*want)


# ---------------------------------------------------- cogroup kernel paths


def _planar_tables(rng, nq, n):
    left = pa.table({
        "query_id": [f"q{i:04d}" for i in range(nq)],
        "x": rng.uniform(0, 1, nq), "y": rng.uniform(0, 1, nq),
        "bound": np.full(nq, np.inf),
    })
    right = pa.table({
        "image_id": [f"i{j:06d}" for j in rng.permutation(n)],
        "x": rng.uniform(0, 1, n), "y": rng.uniform(0, 1, n),
    })
    return left, right


def _pose_tables(rng, nq, n):
    def cols(m):
        return {
            **dict(zip(so3engine.QCOLS, _unit_quats(rng, m).T)),
            **dict(zip(so3engine.TCOLS, rng.normal(7, 1, (m, 3)).T)),
        }

    left = pa.table({
        "query_id": [f"q{i:04d}" for i in range(nq)], **cols(nq),
        "bound": np.full(nq, np.inf),
    })
    right = pa.table({"pose_id": [f"p{j:06d}" for j in rng.permutation(n)], **cols(n)})
    return left, right


KERNELS = {
    "planar": (lambda: engine._make_knn_group(8), _planar_tables),
    "se3": (lambda: so3engine._make_se3_group(4, 2.0, 0.5), _pose_tables),
}


def _sorted(tbl: pa.Table) -> pd.DataFrame:
    return tbl.to_pandas().sort_values(tbl.column_names).reset_index(drop=True)


@pytest.mark.parametrize("space", list(KERNELS))
@pytest.mark.parametrize("nq,n,builds", [(32, 5000, 0), (64, 2000, 1)])
def test_group_kernel_builds_a_tree_only_above_the_crossover(
    space, nq, n, builds, monkeypatch
):
    make, tables = KERNELS[space]
    left, right = tables(np.random.default_rng(nq + n), nq, n)
    calls = []
    real_build = kernel.build
    monkeypatch.setattr(
        kernel, "build", lambda *a, **kw: calls.append(1) or real_build(*a, **kw)
    )
    out = make()(left, right)
    assert len(calls) == builds
    assert out.num_rows >= nq * (8 if space == "planar" else 4)
    if builds:  # the same group scored as a tile gives the same rows
        monkeypatch.setattr(kernel, "use_tile", lambda q, p: True)
        tile = make()(left, right)
        assert len(calls) == builds
        pd.testing.assert_frame_equal(_sorted(tile), _sorted(out), check_exact=True)


def _run_in_workers(monkeypatch, module, factory, **kernel_attrs):
    """Wrap module.<factory> so each Spark worker runs the cogroup kernel
    with the given sparkkd.kernel attributes replaced (the closures are
    pickled by value, so the replacement reaches the worker)."""
    real = getattr(module, factory)

    def make(*args):
        inner = real(*args)

        def run(left, right):
            from sparkkd import kernel as wk

            saved = {a: getattr(wk, a) for a in kernel_attrs}
            for a, v in kernel_attrs.items():
                setattr(wk, a, v)
            try:
                return inner(left, right)
            finally:
                for a, v in saved.items():
                    setattr(wk, a, v)

        return run

    monkeypatch.setattr(module, factory, make)


@pytest.mark.spark
def test_geoindex_small_groups_score_tiles(spark, sf0001_fixtures, monkeypatch):
    """30 queries: every cogroup group holds <= 30 <= TILE_MAX_Q queries,
    so the kNN runs with kernel.build raising in the workers; its rows
    equal the tree path's and a NumPy brute force, dist bit for bit."""
    images = spark.read.parquet(str(sf0001_fixtures / "images.parquet"))
    queries = (
        spark.read.parquet(str(sf0001_fixtures / "queries.parquet"))
        .orderBy("query_id").limit(30)
    )
    idx = engine.GeoIndex(spark, images, n_images_hint=2000)
    try:
        def run(**attrs):
            with monkeypatch.context() as m:
                _run_in_workers(m, engine, "_make_knn_group", **attrs)
                df = idx.knn_join(queries, k=8)
            return df.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)

        def no_build(*a, **kw):  # nested: pickled by value into the workers
            raise AssertionError("kernel.build ran")

        tile = run(build=no_build)
        tree = run(use_tile=lambda q, p: False)
    finally:
        idx.unpersist()
    pd.testing.assert_frame_equal(tile, tree, check_exact=True)
    ipdf = images.select("image_id", "phash").toPandas()
    lat, lon = cells.phash_to_coords(ipdf["phash"].to_numpy())
    qpdf = queries.toPandas()
    ids = ipdf["image_id"].to_numpy()
    tie = np.argsort(np.argsort(ids, kind="stable"), kind="stable")
    qi, top, dist = kernel.brute_force_knn(
        np.column_stack([lon, lat]), qpdf[["qlon", "qlat"]].to_numpy(), 8, tie_key=tie
    )
    want = pd.DataFrame({
        "query_id": qpdf["query_id"].to_numpy()[qi], "image_id": ids[top], "dist": dist,
    }).sort_values(["query_id", "dist", "image_id"]).reset_index(drop=True)
    assert len(tile) == 8 * 30
    assert (tile["image_id"].to_numpy() == want["image_id"].to_numpy()).all()
    assert np.array_equal(tile["dist"].to_numpy(), want["dist"].to_numpy())


@pytest.mark.spark
@pytest.mark.parametrize("rw,tw", [(2.0, 0.5), (0.0, 1.0)])
def test_se3_index_small_groups_score_tiles(spark, rw, tw, monkeypatch):
    """The pose twin: 30 queries against an Se3Index, kernel.build raising
    in the workers; rows equal the tree path's exactly."""
    root = synth.ensure_pose_fixtures("sf0.001")
    poses = spark.read.parquet(str(root / "poses.parquet"))
    queries = (
        spark.read.parquet(str(root / "pose_queries.parquet"))
        .orderBy("query_id").limit(30)
    )
    idx = so3engine.Se3Index(spark, poses, n_poses_hint=2000)
    try:
        def run(**attrs):
            with monkeypatch.context() as m:
                _run_in_workers(m, so3engine, "_make_se3_group", **attrs)
                df = idx.knn_join(queries, k=4, rot_weight=rw, trans_weight=tw)
            return df.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)

        def no_build(*a, **kw):  # nested: pickled by value into the workers
            raise AssertionError("kernel.build ran")

        tile = run(build=no_build)
        tree = run(use_tile=lambda q, p: False)
    finally:
        idx.unpersist()
    assert len(tile) == 4 * 30
    pd.testing.assert_frame_equal(tile, tree, check_exact=True)
