"""The shared radius path: one radius orchestration (engine._radius_on_index)
over each space's kNN phase-2 admission generator at a constant bound."""

import numpy as np
import pandas as pd
import pytest

from sparkkd import cells, engine, so3engine

pytestmark = pytest.mark.spark


def _poses(spark, n, prefix, id_col, seed):
    rng = np.random.default_rng(seed)
    q = rng.normal(size=(n, 4))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    t = rng.uniform(-1, 1, (n, 3))
    return spark.createDataFrame(
        pd.DataFrame(
            {
                id_col: [f"{prefix}{i:05d}" for i in range(n)],
                "qw": q[:, 0], "qx": q[:, 1], "qy": q[:, 2], "qz": q[:, 3],
                "tx": t[:, 0], "ty": t[:, 1], "tz": t[:, 2],
            }
        )
    )


def _planar_index(spark):
    rng = np.random.default_rng(3)
    x, y = rng.uniform(-10, 10, 300), rng.uniform(-10, 10, 300)
    images = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"i{j:04d}" for j in range(300)],
                "phash": cells.coords_to_phash(y, x),
            }
        )
    )
    queries = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [f"q{j}" for j in range(20)],
                "qlon": rng.uniform(-10, 10, 20),
                "qlat": rng.uniform(-10, 10, 20),
            }
        )
    )
    return engine.GeoIndex(spark, images, n_images_hint=300), queries, {}, 2.0


def _pose_index(spark, cls, kw, r):
    poses = _poses(spark, 300, "p", "pose_id", 5)
    queries = _poses(spark, 20, "q", "query_id", 6)
    return cls(spark, poses, n_poses_hint=300), queries, kw, r


_SPACES = {
    "planar": _planar_index,
    "so3": lambda spark: _pose_index(spark, so3engine.So3Index, {}, 0.5),
    "se3": lambda spark: _pose_index(
        spark, so3engine.Se3Index, {"rot_weight": 2.0, "trans_weight": 0.5}, 1.5
    ),
}


@pytest.mark.parametrize("space", sorted(_SPACES))
def test_radius_rejects_nonfinite_r(spark, space):
    """A NaN or infinite radius raises a ValueError naming r in every
    space (SO(3) used to return 0 rows for r=inf, planar and SE(3) the
    full cross product, and r=NaN 0 rows everywhere); a finite negative r
    still returns an empty frame."""
    idx, queries, kw, r_ok = _SPACES[space](spark)
    try:
        for r in (float("nan"), float("inf"), float("-inf")):
            with pytest.raises(ValueError, match=r"finite radius r, got r="):
                idx.radius_join(queries, r, **kw)
        assert idx.radius_join(queries, -0.5, **kw).count() == 0
        assert idx.radius_join(queries, r_ok, **kw).count() > 0
    finally:
        idx.unpersist()


def test_radius_reuses_knn_admission_broadcast(spark):
    """Radius runs each pose space's kNN admission generator, so a layout
    holds ONE admission broadcast: after a kNN and a radius join on the
    same index, the layout cache holds the kNN broadcast (the radius call
    built none of its own) and no radius-only broadcast.  SE(3) kNN also
    broadcasts its corpus-sample tree, which radius does not read."""
    for space, bc_names in (
        ("so3", {"so3knn_bc"}), ("se3", {"se3knn_bc", "se3_sample_bc"})
    ):
        idx, queries, kw, r_ok = _SPACES[space](spark)
        try:
            idx.knn_join(queries, k=4, **kw).count()
            cache = so3engine._layout_cache(idx.layout)
            key = (f"{space}knn_bc", spark.sparkContext.applicationId)
            bc = cache[key]
            before = set(cache)
            assert idx.radius_join(queries, r_ok, **kw).count() > 0
            names = {name for name, _ in cache}
            assert set(cache) == before
            assert cache[key] is bc
            assert not names & {"so3rad_bc", "se3rad_bc"}
            assert {n for n in names if n.endswith("_bc")} == bc_names
        finally:
            idx.unpersist()
