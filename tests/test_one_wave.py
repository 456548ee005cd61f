"""One wave of Python tasks per kNN / radius op, in every space (planar,
SO(3), SE(3)): the query spread and the persisted corpus follow
``defaultParallelism`` rather than ``spark.sql.shuffle.partitions``, the
admission generators emit part_keys themselves (no salt-map broadcast
join), and a planar index broadcasts its admission statistics once."""

import re

import numpy as np
import pandas as pd
import pytest

from sparkkd import cells, engine, kernel, so3engine

pytestmark = pytest.mark.spark

_RW, _TW = 2.0, 0.5


def _unit_rows(rng, n):
    q = rng.normal(size=(n, 4))
    return q / np.linalg.norm(q, axis=1, keepdims=True)


def _pose_frame(spark, R, T, id_col, prefix):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                id_col: [f"{prefix}{i:05d}" for i in range(len(R))],
                **{c: R[:, j] for j, c in enumerate(so3engine.QCOLS)},
                **{c: T[:, j] for j, c in enumerate(so3engine.TCOLS)},
            }
        )
    )


def _planar(spark, k):
    rng = np.random.default_rng(31)
    lat, lon = rng.uniform(-20, 20, 600), rng.uniform(-20, 20, 600)
    phash = cells.coords_to_phash(lat, lon)
    images = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"i{j:04d}" for j in range(600)], "phash": phash})
    )
    qlat, qlon = rng.uniform(-20, 20, 25), rng.uniform(-20, 20, 25)
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [f"q{j:02d}" for j in range(25)], "qlat": qlat, "qlon": qlon}
        )
    )
    y, x = cells.phash_to_coords(phash)
    _, idx, dist = kernel.brute_force_knn(
        np.column_stack([x, y]), np.column_stack([qlon, qlat]), k
    )
    want = {
        f"q{j:02d}": ([f"i{i:04d}" for i in idx[j * k : (j + 1) * k]], dist[j * k : (j + 1) * k])
        for j in range(25)
    }
    index = engine.GeoIndex(spark, images, n_images_hint=600)
    return index, index.img_salted, queries, {}, "image_id", "dist", want, 3.0


def _pose(spark, k, so3):
    rng = np.random.default_rng(32)
    P, PT = _unit_rows(rng, 600), rng.uniform(0, 4, (600, 3))
    Q, QT = _unit_rows(rng, 25), rng.uniform(0, 4, (25, 3))
    ang = np.arccos(np.minimum(1.0, np.abs(Q @ P.T)))
    if so3:
        D, cls, kw, col, r = ang, so3engine.So3Index, {}, "ang", 0.6
    else:
        D = _RW * ang + _TW * np.linalg.norm(QT[:, None, :] - PT[None, :, :], axis=2)
        cls, kw, col, r = so3engine.Se3Index, dict(rot_weight=_RW, trans_weight=_TW), "dist", 1.5
    want = {}
    for j in range(len(Q)):
        top = np.lexsort((np.arange(len(P)), D[j]))[:k]
        want[f"q{j:05d}"] = ([f"p{i:05d}" for i in top], D[j, top])
    index = cls(spark, _pose_frame(spark, P, PT, "pose_id", "p"), n_poses_hint=600)
    queries = _pose_frame(spark, Q, QT, "query_id", "q")
    return index, index.corpus, queries, kw, "pose_id", col, want, r


_SPACES = {
    "planar": _planar,
    "so3": lambda spark, k: _pose(spark, k, so3=True),
    "se3": lambda spark, k: _pose(spark, k, so3=False),
}


def _per_call_plan(df) -> list[str]:
    """The executed plan's lines minus the index corpus's cached build
    (its InMemoryRelation subtree joins the salt map once, at build).  A
    cached candidate frame (radius) is per-call work and stays."""
    out, depth = [], None
    for ln in df._jdf.queryExecution().executedPlan().toString().splitlines():
        m = re.search(r"[A-Za-z*(]", ln)
        pos = m.start() if m else 0
        if depth is not None and pos > depth:
            continue
        depth = pos if "InMemoryRelation" in ln and "query_id" not in ln else None
        out.append(ln)
    return out


def test_salt_fanout_expands_each_row_over_its_salts():
    rep, part_key = engine._salt_fanout(
        np.array([5, 7, 9], np.int64), np.array([1, 3, 2], np.int64)
    )
    s = engine.SALT_SHIFT
    assert rep.tolist() == [0, 1, 1, 1, 2, 2]
    assert part_key.tolist() == [
        5 << s, 7 << s, (7 << s) + 1, (7 << s) + 2, 9 << s, (9 << s) + 1,
    ]


@pytest.mark.parametrize("space", sorted(_SPACES))
def test_knn_is_one_wave_whatever_the_shuffle_setting(spark, space):
    """With spark.sql.shuffle.partitions at twice defaultParallelism, the
    persisted corpus still has defaultParallelism partitions, the kNN plan
    exchanges only the candidate side (into that many partitions), and
    the result equals brute force."""
    k = 5
    dp = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(2 * dp))
    try:
        idx, corpus, queries, kw, id_col, d_col, want, _ = _SPACES[space](spark, k)
        try:
            assert corpus.rdd.getNumPartitions() == dp
            df = idx.knn_join(queries, k=k, **kw)
            res = df.toPandas().sort_values(["query_id", "rank"])
            ex = {
                re.sub(r"#\d+L?|\[plan_id=\d+\]", "", ln).strip(" +-:")
                for ln in _per_call_plan(df)
                if re.search(r"Exchange hashpartitioning\(part_key.*ENSURE_REQUIREMENTS", ln)
            }
            assert len(ex) == 1, ex
            assert f", {dp})" in ex.pop()
            assert len(res) == k * len(want)
            for qid, (ids, d) in want.items():
                got = res[res["query_id"] == qid]
                assert list(got[id_col]) == ids, qid
                assert np.allclose(got[d_col].to_numpy(), d, rtol=0, atol=1e-12), qid
        finally:
            idx.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("space", sorted(_SPACES))
def test_knn_and_radius_plans_have_no_broadcast_join(spark, space):
    """The admission generators emit part_keys themselves: no per-call
    salt-map broadcast (nor its job) in the kNN or the radius plan."""
    idx, _, queries, kw, _, _, _, r = _SPACES[space](spark, 4)
    try:
        for df in (idx.knn_join(queries, k=4, **kw), idx.radius_join(queries, r, **kw)):
            assert df.count() > 0
            plan = "\n".join(_per_call_plan(df))
            assert "BroadcastExchange" not in plan, plan
            assert "BroadcastHashJoin" not in plan, plan
    finally:
        idx.unpersist()


def test_planar_index_broadcasts_admission_stats_once(spark, monkeypatch):
    """A GeoIndex broadcasts its admission statistics on its first join
    only: later kNN and radius calls on the same index create no
    broadcast (the pose indexes already cache theirs per layout)."""
    idx, _, queries, _, _, _, _, r = _planar(spark, 4)
    try:
        assert idx.knn_join(queries, k=4).count() > 0
        made = []
        sc = spark.sparkContext
        real = sc.broadcast
        monkeypatch.setattr(sc, "broadcast", lambda v: made.append(v) or real(v))
        assert idx.knn_join(queries, k=4).count() > 0
        assert idx.radius_join(queries, r).count() > 0
        assert made == []
    finally:
        idx.unpersist()
