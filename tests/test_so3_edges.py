"""Adversarial edge cases for the adaptive pose engine: point masses that
refinement cannot split (hash-salt fallback), duplicate coordinates with
distinct ids (tie semantics), k exceeding the corpus, self-queries."""

import numpy as np
import pandas as pd
import pytest

from sparkkd import engine, so3engine

pytestmark = pytest.mark.spark


def _pose_df(spark, q, t=None, prefix="pose"):
    n = len(q)
    if t is None:
        t = np.zeros((n, 3))
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "pose_id": [f"{prefix}{i:06d}" for i in range(n)],
                "qw": q[:, 0], "qx": q[:, 1], "qy": q[:, 2], "qz": q[:, 3],
                "tx": t[:, 0], "ty": t[:, 1], "tz": t[:, 2],
            }
        )
    )


def _query_df(spark, q, t=None):
    df = _pose_df(spark, q, t, prefix="q")
    return df.withColumnRenamed("pose_id", "query_id")


def _brute_ang(Q, P):
    return np.arccos(np.minimum(1.0, np.abs(Q @ P.T)))


def test_point_mass_corpus_hash_salt_fallback(spark):
    """500 copies of ONE rotation (+ jittered ids) cannot be split by any
    grid refinement — the layout must fall back to hash salts and the
    join must still return exact (tie-ordered) results."""
    rng = np.random.default_rng(5)
    base = np.array([0.5, 0.5, 0.5, 0.5])
    P = np.tile(base, (500, 1))
    extra = rng.normal(size=(40, 4))
    extra /= np.linalg.norm(extra, axis=1, keepdims=True)
    P = np.vstack([P, extra])
    Q = rng.normal(size=(10, 4))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    poses = _pose_df(spark, P)
    queries = _query_df(spark, Q)
    k = 6
    res = (
        so3engine.so3_knn_join(
            spark, poses, queries, k=k, n_poses_hint=len(P), max_cell_rows=64
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    D = _brute_ang(Q, P)
    pids = np.array([f"pose{i:06d}" for i in range(len(P))])
    for i in range(len(Q)):
        srt = np.lexsort((pids, D[i]))[:k]
        got = res[res["query_id"] == f"q{i:06d}"]
        assert list(got["pose_id"]) == list(pids[srt])
        assert np.allclose(got["ang"].to_numpy(), D[i][srt], atol=1e-12)


def test_k_exceeds_corpus_and_single_pose(spark):
    rng = np.random.default_rng(6)
    P = rng.normal(size=(3, 4))
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    Q = rng.normal(size=(5, 4))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    res = (
        so3engine.so3_knn_join(
            spark, _pose_df(spark, P), _query_df(spark, Q), k=10, n_poses_hint=3
        )
        .toPandas()
    )
    # every query returns ALL 3 poses with consecutive ranks
    assert len(res) == 5 * 3
    assert set(res["rank"]) == {1, 2, 3}
    # single-pose corpus
    res1 = (
        so3engine.so3_knn_join(
            spark, _pose_df(spark, P[:1]), _query_df(spark, Q), k=4, n_poses_hint=1
        )
        .toPandas()
    )
    assert len(res1) == 5 and (res1["rank"] == 1).all()


def test_self_queries_return_self_first(spark):
    rng = np.random.default_rng(7)
    P = rng.normal(size=(300, 4))
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    poses = _pose_df(spark, P)
    queries = _query_df(spark, P[:30])
    res = (
        so3engine.so3_knn_join(spark, poses, queries, k=1, n_poses_hint=300)
        .toPandas().sort_values("query_id").reset_index(drop=True)
    )
    assert len(res) == 30
    for r in res.itertuples():
        assert r.pose_id == "pose" + r.query_id[1:]
        # acos(|q.q|) on a float-normalized quaternion is ~2e-8, not 0 —
        # the oracle's formula gives the identical value
        assert r.ang < 1e-6


def test_se3_point_mass_translations(spark):
    """All translations identical (rotations differ): the translation grid
    degenerates to one cell; the compound kernel must still rank by the
    rotation term exactly."""
    rng = np.random.default_rng(8)
    n = 300
    QR = rng.normal(size=(n, 4))
    QR /= np.linalg.norm(QR, axis=1, keepdims=True)
    T = np.tile([1.0, 2.0, 3.0], (n, 1))
    poses = _pose_df(spark, QR, T)
    nq = 12
    Q = rng.normal(size=(nq, 4))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    queries = _query_df(spark, Q, np.tile([1.0, 2.0, 3.0], (nq, 1)))
    rw, tw, k = 2.0, 0.5, 5
    res = (
        so3engine.se3_knn_join(
            spark, poses, queries, k=k, rot_weight=rw, trans_weight=tw,
            n_poses_hint=n,
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    D = rw * _brute_ang(Q, QR)  # translation term is 0
    pids = np.array([f"pose{i:06d}" for i in range(n)])
    for i in range(nq):
        srt = np.lexsort((pids, D[i]))[:k]
        got = res[res["query_id"] == f"q{i:06d}"]
        assert list(got["pose_id"]) == list(pids[srt])
        assert np.allclose(got["dist"].to_numpy(), D[i][srt], atol=1e-9)


def test_dual_probe_same_partition_dedupe(spark):
    """Regression (round-4 ADVICE): queries with qw == 0.0 exactly send
    BOTH antipodal probes into w-cell 0; with a tiny corpus every occupied
    leaf bin-packs into one partition, so both probes cogroup against the
    SAME partition and (with k close to the corpus size) their top-k lists
    overlap — the same pose is returned once per probe.  The cogroup
    kernel must dedupe (query, pose) before ranking or a duplicate inside
    the top-k evicts the true kth neighbor."""
    rng = np.random.default_rng(41)
    P = rng.normal(size=(10, 4))
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    Q = rng.normal(size=(8, 4))
    Q[:, 0] = 0.0  # w exactly zero: +probe and -probe share the w cell
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    assert (Q[:, 0] == 0.0).all()
    k = 8
    res = (
        so3engine.so3_knn_join(
            spark, _pose_df(spark, P), _query_df(spark, Q), k=k,
            n_poses_hint=len(P), level=1,
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    D = _brute_ang(Q, P)
    pids = np.array([f"pose{i:06d}" for i in range(len(P))])
    for i in range(len(Q)):
        srt = np.lexsort((pids, D[i]))[:k]
        got = res[res["query_id"] == f"q{i:06d}"]
        assert list(got["pose_id"]) == list(pids[srt]), f"query {i}"
        assert got["pose_id"].is_unique
        assert np.allclose(got["ang"].to_numpy(), D[i][srt], atol=1e-12)
    # larger mixed corpus, same qw == 0 adversary, finite maxRadius
    P2 = rng.normal(size=(400, 4))
    P2 /= np.linalg.norm(P2, axis=1, keepdims=True)
    res2 = (
        so3engine.so3_knn_join(
            spark, _pose_df(spark, P2), _query_df(spark, Q), k=5,
            n_poses_hint=len(P2), level=1, max_radius=0.9,
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    D2 = _brute_ang(Q, P2)
    pids2 = np.array([f"pose{i:06d}" for i in range(len(P2))])
    for i in range(len(Q)):
        within = np.nonzero(D2[i] <= 0.9)[0]
        srt = within[np.lexsort((pids2[within], D2[i][within]))][:5]
        got = res2[res2["query_id"] == f"q{i:06d}"]
        assert list(got["pose_id"]) == list(pids2[srt]), f"query {i}"


def test_se3_rotation_aware_admission(spark):
    """Round-4 (VERDICT #2): SE(3) admission must SUM the per-sub-space
    lower bounds (reference compound distToRegion, _spaces.hpp:369-375) —
    the round-3 translation-only bound r/tw degrades toward
    admit-everything under rotation-dominant weights.  Corpus: rotation
    clusters aligned with translation clusters; queries carry rotations
    FAR from their local cluster, so the rotation term is what prunes."""
    rng = np.random.default_rng(42)
    n_c, per = 8, 400
    tc = rng.uniform(0, 10, size=(n_c, 3))
    rc = rng.normal(size=(n_c, 4))
    rc /= np.linalg.norm(rc, axis=1, keepdims=True)
    T, R = [], []
    for c in range(n_c):
        T.append(tc[c] + 0.05 * rng.normal(size=(per, 3)))
        q = rc[c] + 0.02 * rng.normal(size=(per, 4))
        R.append(q / np.linalg.norm(q, axis=1, keepdims=True))
    T, R = np.vstack(T), np.vstack(R)
    nq = 40
    qT = tc[rng.integers(0, n_c, nq)] + 0.05 * rng.normal(size=(nq, 3))
    # rotations near a (generally DIFFERENT) cluster's rotation: matches
    # exist, but the local translation partition holds none — only the
    # rotation term can prune it
    bi = rng.integers(0, n_c, nq)
    qR = rc[bi] + 0.05 * rng.normal(size=(nq, 4))
    qR /= np.linalg.norm(qR, axis=1, keepdims=True)
    poses = _pose_df(spark, R, T)
    queries = _query_df(spark, qR, qT)
    rw, tw, r = 5.0, 0.1, 2.0

    res = (
        so3engine.se3_radius_join(
            spark, poses, queries, r, rot_weight=rw, trans_weight=tw,
            n_poses_hint=len(T), max_cell_rows=256,
        ).toPandas()
    )
    ang = _brute_ang(qR, R)
    dt = np.sqrt(((qT[:, None, :] - T[None, :, :]) ** 2).sum(axis=2))
    D = rw * ang + tw * dt
    exp_pairs = {
        (f"q{i:06d}", f"pose{j:06d}")
        for i, j in zip(*np.nonzero(D <= r))
    }
    got_pairs = set(zip(res["query_id"], res["pose_id"]))
    assert got_pairs == exp_pairs
    assert len(exp_pairs) > 0  # non-degenerate fixture

    # admission-count comparison on the SAME layout: compound vs the
    # round-3 translation-only bound
    b3 = [(float(T[:, j].min()), float(np.ptp(T[:, j]) or 1e-9)) for j in range(3)]
    layout = so3engine._se3_layout(
        poses, b3, so3engine.level_for_poses(len(T), dims=3), 256
    )
    qRc = qR * so3engine.canon_sign_np(qR)[:, None]
    la14 = (
        layout.leaf_lo, layout.leaf_hi, layout.leaf_slo, layout.leaf_shi,
        layout.p_lo, layout.p_hi, layout.p_slo, layout.p_shi, layout.p_start,
        layout.g_lo, layout.g_hi, layout.g_slo, layout.g_shi, layout.g_start,
    )
    r_pad = r * (1.0 + 1e-12) + 1e-15
    qi_c, _ = so3engine._se3_partition_candidates(
        qT, qRc, np.full(nq, r_pad), la14, tw, rw
    )
    la8 = (layout.leaf_lo, layout.leaf_hi, layout.p_lo, layout.p_hi,
           layout.p_start, layout.g_lo, layout.g_hi, layout.g_start)
    t_r = (r / tw) * (1.0 + 1e-12) + 1e-15
    qi_t, _ = so3engine._partition_candidates(qT, np.full(nq, t_r), la8)
    assert len(qi_c) < 0.5 * len(qi_t), (len(qi_c), len(qi_t))

    # rot-dominant kNN exactness through the same rotation-aware gate
    k = 4
    resk = (
        so3engine.se3_knn_join(
            spark, poses, queries, k=k, rot_weight=rw, trans_weight=tw,
            n_poses_hint=len(T), max_cell_rows=256,
        ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    pids = np.array([f"pose{i:06d}" for i in range(len(T))])
    for i in range(nq):
        srt = np.lexsort((pids, D[i]))[:k]
        got = resk[resk["query_id"] == f"q{i:06d}"]
        assert list(got["pose_id"]) == list(pids[srt]), f"query {i}"
        assert np.allclose(got["dist"].to_numpy(), D[i][srt], atol=1e-9)


def test_empty_corpus_all_pose_paths(spark):
    """Zero-row pose corpus: all four pose join paths return empty frames
    (empty-safe bounds + explicit broadcast-map schemas)."""
    rng = np.random.default_rng(5)
    q = rng.normal(size=(8, 4))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    t = rng.uniform(-1, 1, (8, 3))
    empty = _pose_df(spark, q, t).limit(0)
    q5 = _query_df(spark, q[:5], t[:5])
    assert so3engine.so3_knn_join(spark, empty, q5, k=2).count() == 0
    assert so3engine.so3_radius_join(spark, empty, q5, 0.1).count() == 0
    assert (
        so3engine.se3_knn_join(
            spark, empty, q5, k=2, rot_weight=1.0, trans_weight=1.0
        ).count()
        == 0
    )
    assert (
        so3engine.se3_radius_join(
            spark, empty, q5, 0.5, rot_weight=1.0, trans_weight=1.0
        ).count()
        == 0
    )


def test_nonfinite_pose_queries_drop_cleanly(spark):
    """NaN or inf coordinates in a pose query drop THAT query from all
    four join paths (explicit finite filter) without touching others."""
    rng = np.random.default_rng(5)
    q = rng.normal(size=(60, 4))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    t = rng.uniform(-1, 1, (60, 3))
    poses = _pose_df(spark, q, t)
    qq = pd.DataFrame(
        {
            "query_id": ["ok", "nan", "inf"],
            "qw": [q[0, 0], float("nan"), float("inf")],
            "qx": [q[0, 1], 0.1, 0.1],
            "qy": [q[0, 2], 0.1, 0.1],
            "qz": [q[0, 3], 0.1, 0.1],
            "tx": [0.0] * 3, "ty": [0.0] * 3, "tz": [0.0] * 3,
        }
    )
    queries = spark.createDataFrame(qq)
    r = so3engine.so3_knn_join(spark, poses, queries, k=2).toPandas()
    assert set(r["query_id"]) == {"ok"} and len(r) == 2
    r = so3engine.se3_knn_join(
        spark, poses, queries, k=2, rot_weight=1.0, trans_weight=1.0
    ).toPandas()
    assert set(r["query_id"]) == {"ok"} and len(r) == 2
    r = so3engine.so3_radius_join(spark, poses, queries, 3.0).toPandas()
    assert set(r["query_id"]) == {"ok"} and len(r) == 60
    r = so3engine.se3_radius_join(
        spark, poses, queries, 5.0, rot_weight=1.0, trans_weight=1.0
    ).toPandas()
    assert set(r["query_id"]) == {"ok"} and len(r) == 60


def test_session_key_is_application_id_without_fallback(spark):
    """Layout caches key on the SparkContext's applicationId; an unreadable
    applicationId raises instead of falling back to id(spark), which a new
    session can reuse after the old one stops."""
    assert engine._session_key(spark) == spark.sparkContext.applicationId

    class _DeadContext:
        @property
        def applicationId(self):
            raise RuntimeError("SparkContext is stopped")

    class _Session:
        sparkContext = _DeadContext()

    with pytest.raises(RuntimeError, match="stopped"):
        engine._session_key(_Session())


def test_layout_cache_evicts_dead_application_ids():
    """Layout-cache entries are keyed (name, applicationId).  Only one
    SparkContext runs per process, so the first access under a new id drops
    every entry of the old one instead of pinning dead broadcasts for the
    layout's lifetime; accesses under the live id still hit."""

    class _Session:
        def __init__(self, app):
            self.sparkContext = type("_Ctx", (), {"applicationId": app})()

    class _Layout:
        pass

    lay = _Layout()
    old, new = _Session("app-old"), _Session("app-new")
    builds: list[str] = []

    def build(tag):
        return lambda: builds.append(tag) or tag

    assert engine._cached(lay, old, "bc", build("old-bc")) == "old-bc"
    assert engine._cached(lay, old, "salts", build("old-salts")) == "old-salts"
    assert engine._cached(lay, old, "bc", build("rebuilt")) == "old-bc"
    assert builds == ["old-bc", "old-salts"]
    assert engine._cached(lay, new, "bc", build("new-bc")) == "new-bc"
    assert set(engine._runtime_cache(lay)) == {("bc", "app-new")}
    assert engine._cached(lay, new, "bc", build("rebuilt")) == "new-bc"
    assert builds == ["old-bc", "old-salts", "new-bc"]


def _unit_rows(rng, n):
    q = rng.normal(size=(n, 4))
    return q / np.linalg.norm(q, axis=1, keepdims=True)


def _se3_exact_topk(Q, QT, P, PT, pids, k, rw, tw):
    """Brute-force SE(3) top-k in the oracle's exact arithmetic (left-
    associated dot, libm acos), ties by pose_id: {query row: (ids, d)}."""
    dot = Q[:, None, 0] * P[None, :, 0]
    for j in (1, 2, 3):
        dot = dot + Q[:, None, j] * P[None, :, j]
    ang = so3engine.acos_exact(np.minimum(1.0, np.abs(dot)).ravel()).reshape(dot.shape)
    d = QT[:, None, :] - PT[None, :, :]
    D = rw * ang + tw * np.sqrt((d * d).sum(axis=2))
    out = {}
    for i in range(len(Q)):
        srt = np.lexsort((pids, D[i]))[:k]
        out[i] = (list(pids[srt]), D[i][srt])
    return out


def _assert_pose_index_exact(spark, P, PT, Q, QT, k, rw, tw, so3=False, **index_kw):
    """Se3Index kNN on (P, PT) for queries (Q, QT) must equal brute force
    row for row: ids in rank order, distances bit-exact.  so3=True runs
    So3Index instead, whose metric is the angle alone (pass rw=1, tw=0).
    Returns the index's sample size."""
    pids = np.array([f"pose{i:06d}" for i in range(len(P))])
    cls, kw, col = (
        (so3engine.So3Index, {}, "ang") if so3
        else (so3engine.Se3Index, dict(rot_weight=rw, trans_weight=tw), "dist")
    )
    idx = cls(spark, _pose_df(spark, P, PT), n_poses_hint=len(P), **index_kw)
    try:
        n_sample = len(idx.sample)
        res = (
            idx.knn_join(_query_df(spark, Q, QT), k=k, **kw)
            .toPandas().sort_values(["query_id", "rank"])
        )
    finally:
        idx.unpersist()
    want = _se3_exact_topk(Q, QT, P, PT, pids, k, rw, tw)
    assert len(res) == len(Q) * min(k, len(P))
    for i, (ids, d) in want.items():
        got = res[res["query_id"] == f"q{i:06d}"]
        assert list(got["rank"]) == list(range(1, len(ids) + 1))
        assert list(got["pose_id"]) == ids, i
        assert np.array_equal(got[col].to_numpy(), d), i
    return n_sample


def test_se3_knn_sample_smaller_than_k_falls_back_exact(spark):
    """A corpus under 16*k poses leaves the kNN bound sample (every 16th
    pose by id hash at this size) with fewer than k poses: every query
    then takes the group count-bound, and results stay exact — in both
    pose spaces (SO(3) and SE(3))."""
    rng = np.random.default_rng(21)
    n, k = 100, 12  # 10 of these 100 ids hash into the sample
    P, PT = _unit_rows(rng, n), rng.uniform(0, 4, size=(n, 3))
    Q, QT = _unit_rows(rng, 15), rng.uniform(-1, 5, size=(15, 3))
    for so3, rw, tw in ((True, 1.0, 0.0), (False, 2.0, 0.5)):
        n_sample = _assert_pose_index_exact(spark, P, PT, Q, QT, k, rw, tw, so3=so3)
        assert n_sample < k


def test_se3_knn_point_mass_in_uniform_corpus_ties_by_id(spark):
    """3,000 copies of ONE pose (ids scattered through the id order) inside
    a uniform corpus: queries at or near the point mass tie across all
    copies, so the top-k must be the k smallest ids among them.  A small
    max_cell_rows hash-salts the point-mass leaf over several part_keys,
    so ties are merged across cogroups."""
    rng = np.random.default_rng(22)
    n_mass, n_uni = 3000, 2000
    P, PT = _unit_rows(rng, n_mass + n_uni), rng.uniform(0, 10, (n_mass + n_uni, 3))
    mass = rng.permutation(n_mass + n_uni)[:n_mass]
    P[mass], PT[mass] = P[mass[0]], [5.0, 5.0, 5.0]
    Q = np.vstack([np.tile(P[mass[0]], (8, 1)), _unit_rows(rng, 16)])
    QT = np.vstack(
        [
            np.full((8, 3), 5.0),
            5.0 + rng.normal(scale=0.05, size=(8, 3)),
            rng.uniform(0, 10, size=(8, 3)),
        ]
    )
    _assert_pose_index_exact(spark, P, PT, Q, QT, 8, 2.0, 0.5, max_cell_rows=256)


@pytest.mark.parametrize("rw, tw", [(2.0, 0.0), (0.0, 0.5)])
def test_se3_knn_single_term_weights_exact(spark, rw, tw):
    """trans_weight=0 leaves no translation pruning (every kernel scans
    its whole group densely) and rot_weight=0 makes the metric plain L2
    over translation; the sample bound must stay exact for both."""
    rng = np.random.default_rng(23)
    n = 1500
    P, PT = _unit_rows(rng, n), rng.uniform(0, 6, size=(n, 3))
    Q, QT = _unit_rows(rng, 30), rng.uniform(0, 6, size=(30, 3))
    _assert_pose_index_exact(spark, P, PT, Q, QT, 5, rw, tw)
