"""Distributed SO(3)/SE(3) kNN joins vs brute-force NumPy oracles
(the reference's own test strategy: exact-NN vs partial_sort over all
points, test/kdtree_test.cpp:95-104, applied to the SO3/SE3 spaces of the
active matrix test/kdtree_test.cpp:385-417)."""

import numpy as np
import pandas as pd
import pytest

from sparkkd import engine, so3engine, synth

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def pose_data(spark):
    root = synth.ensure_pose_fixtures("sf0.001")
    poses = spark.read.parquet(str(root / "poses.parquet"))
    queries = spark.read.parquet(str(root / "pose_queries.parquet"))
    return poses, queries, poses.toPandas(), queries.toPandas()


def _angular_matrix(Q, P):
    dot = np.abs(Q @ P.T)
    return np.arccos(np.minimum(1.0, dot))


def _brute_topk(qids, pids, D, k):
    order_p = np.argsort(pids)
    rows = []
    for i, qid in enumerate(qids):
        srt = np.lexsort((pids, D[i]))[:k]
        for r, j in enumerate(srt):
            rows.append((qid, pids[j], D[i, j], r + 1))
    return pd.DataFrame(rows, columns=["query_id", "pose_id", "d", "rank"])


def test_so3_knn_join_exact_vs_brute_force(spark, pose_data):
    poses, queries, ppdf, qpdf = pose_data
    k = 8
    res = (
        so3engine.so3_knn_join(spark, poses, queries, k=k, n_poses_hint=len(ppdf))
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    P = ppdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    Q = qpdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    D = _angular_matrix(Q, P)
    want = _brute_topk(
        qpdf["query_id"].to_numpy(), ppdf["pose_id"].to_numpy(), D, k
    ).sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(res) == len(want) == len(qpdf) * k
    assert (res["pose_id"].to_numpy() == want["pose_id"].to_numpy()).all()
    assert np.allclose(res["ang"].to_numpy(), want["d"].to_numpy(), atol=1e-12)


def test_so3_knn_join_salted_invariance(spark, pose_data):
    """Forcing aggressive salting must not change results."""
    poses, queries, ppdf, _ = pose_data
    q = queries.limit(40)
    a = (
        so3engine.so3_knn_join(spark, poses, q, k=4, n_poses_hint=len(ppdf))
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        so3engine.so3_knn_join(
            spark, poses, q, k=4, max_cell_rows=64, n_poses_hint=len(ppdf)
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert (a["pose_id"] == b["pose_id"]).all()
    assert np.array_equal(a["ang"].to_numpy(), b["ang"].to_numpy())


def test_se3_knn_join_exact_vs_brute_force(spark, pose_data):
    poses, queries, ppdf, qpdf = pose_data
    k, rw, tw = 4, 2.0, 0.5
    res = (
        so3engine.se3_knn_join(
            spark, poses, queries, k=k, rot_weight=rw, trans_weight=tw,
            n_poses_hint=len(ppdf),
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    P = ppdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    Q = qpdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    PT = ppdf[["tx", "ty", "tz"]].to_numpy(np.float64)
    QT = qpdf[["tx", "ty", "tz"]].to_numpy(np.float64)
    D = rw * _angular_matrix(Q, P) + tw * np.sqrt(
        ((QT[:, None, :] - PT[None, :, :]) ** 2).sum(axis=2)
    )
    want = _brute_topk(
        qpdf["query_id"].to_numpy(), ppdf["pose_id"].to_numpy(), D, k
    ).sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(res) == len(want) == len(qpdf) * k
    assert (res["pose_id"].to_numpy() == want["pose_id"].to_numpy()).all()
    assert np.allclose(res["dist"].to_numpy(), want["d"].to_numpy(), atol=1e-12)


def test_canon_sign_np_matches_sql_rule(spark):
    q = np.array(
        [
            [0.5, 0.1, 0.2, 0.3],
            [-0.5, 0.1, 0.2, 0.3],
            [0.0, -0.4, 0.2, 0.3],
            [0.0, 0.0, 0.7, -0.1],
            [0.0, 0.0, 0.0, -1.0],
            [0.0, 0.0, 0.0, 1.0],
        ]
    )
    s_np = so3engine.canon_sign_np(q)
    pdf = pd.DataFrame(q, columns=["qw", "qx", "qy", "qz"])
    sdf = spark.createDataFrame(pdf).selectExpr(
        f"{so3engine.canon_sign_sql()} AS s"
    )
    s_sql = np.array([r["s"] for r in sdf.collect()])
    assert np.array_equal(s_np, s_sql)


def test_so3_index_build_once_query_many(spark, pose_data):
    """So3Index results == one-shot join results; repeat batches reuse the
    persisted pre-partitioned corpus."""
    poses, queries, ppdf, _ = pose_data
    idx = so3engine.So3Index(spark, poses, n_poses_hint=len(ppdf))
    try:
        a = (
            idx.knn_join(queries, k=4)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        b = (
            so3engine.so3_knn_join(spark, poses, queries, k=4, n_poses_hint=len(ppdf))
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        assert a.equals(b)
        # second batch through the same index (different queries)
        c = idx.knn_join(queries.limit(20), k=4).toPandas()
        assert len(c) == 20 * 4
    finally:
        idx.unpersist()


def test_se3_index_build_once_query_many(spark, pose_data):
    poses, queries, ppdf, _ = pose_data
    idx = so3engine.Se3Index(spark, poses, n_poses_hint=len(ppdf))
    try:
        a = (
            idx.knn_join(queries, k=4, rot_weight=2.0, trans_weight=0.5)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        b = (
            so3engine.se3_knn_join(
                spark, poses, queries, k=4, rot_weight=2.0, trans_weight=0.5,
                n_poses_hint=len(ppdf),
            )
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        assert a.equals(b)
    finally:
        idx.unpersist()


def test_so3_knn_k_exceeds_home_cell(spark, pose_data):
    """k larger than any home cell's population forces the statistics
    fallback bound in phase 2 — results must still be exact."""
    poses, queries, ppdf, qpdf = pose_data
    small_q = queries.limit(40)
    k = 64  # >> level-1 cell occupancy at 2k poses
    res = (
        so3engine.so3_knn_join(spark, poses, small_q, k=k, n_poses_hint=len(ppdf))
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    qpdf40 = small_q.toPandas()
    P = ppdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    Q = qpdf40[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    D = _angular_matrix(Q, P)
    want = _brute_topk(
        qpdf40["query_id"].to_numpy(), ppdf["pose_id"].to_numpy(), D, k
    ).sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (res["pose_id"].to_numpy() == want["pose_id"].to_numpy()).all()
    assert np.allclose(res["ang"].to_numpy(), want["d"].to_numpy(), atol=1e-12)


def test_se3_queries_outside_translation_bounds(spark, pose_data):
    """Query translations far outside the data-derived grid bounds clamp
    into edge cells; the home-edge exit must never fire incorrectly and
    results stay exact."""
    poses, _, ppdf, _ = pose_data
    rng = np.random.default_rng(17)
    nq = 24
    q = rng.normal(size=(nq, 4))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    t = rng.uniform(-500, 500, size=(nq, 3))  # way outside corpus bounds
    qpdf = pd.DataFrame(
        {
            "query_id": [f"far{i:04d}" for i in range(nq)],
            "qw": q[:, 0], "qx": q[:, 1], "qy": q[:, 2], "qz": q[:, 3],
            "tx": t[:, 0], "ty": t[:, 1], "tz": t[:, 2],
        }
    )
    queries = spark.createDataFrame(qpdf)
    rw, tw, k = 2.0, 0.5, 5
    res = (
        so3engine.se3_knn_join(
            spark, poses, queries, k=k, rot_weight=rw, trans_weight=tw,
            n_poses_hint=len(ppdf),
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    P = ppdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    PT = ppdf[["tx", "ty", "tz"]].to_numpy(np.float64)
    D = rw * _angular_matrix(q, P) + tw * np.sqrt(
        ((t[:, None, :] - PT[None, :, :]) ** 2).sum(axis=2)
    )
    want = _brute_topk(
        qpdf["query_id"].to_numpy(), ppdf["pose_id"].to_numpy(), D, k
    ).sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (res["pose_id"].to_numpy() == want["pose_id"].to_numpy()).all()
    assert np.allclose(res["dist"].to_numpy(), want["d"].to_numpy(), atol=1e-9)


def test_so3_radius_join_vs_brute_force(spark, pose_data):
    poses, queries, ppdf, qpdf = pose_data
    r = 0.25
    res = (
        so3engine.so3_radius_join(spark, poses, queries, r=r, n_poses_hint=len(ppdf))
        .toPandas().sort_values(["query_id", "pose_id"]).reset_index(drop=True)
    )
    P = ppdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    Q = qpdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    D = _angular_matrix(Q, P)
    qi, pi = np.nonzero(D <= r)
    want = pd.DataFrame(
        {
            "query_id": qpdf["query_id"].to_numpy()[qi],
            "pose_id": ppdf["pose_id"].to_numpy()[pi],
            "d": D[qi, pi],
        }
    ).sort_values(["query_id", "pose_id"]).reset_index(drop=True)
    assert len(res) == len(want) > 0
    assert (res["pose_id"].to_numpy() == want["pose_id"].to_numpy()).all()
    assert np.allclose(res["ang"].to_numpy(), want["d"].to_numpy(), atol=1e-12)


def test_so3_knn_bounded_radius_vs_brute_force(spark, pose_data):
    """Bounded kNN on the rotation space (reference Q2 maxRadius applied
    to SO3): neighbors beyond the angular radius are excluded, ranks stay
    consecutive, results match brute force."""
    poses, queries, ppdf, qpdf = pose_data
    k, r = 6, 0.35
    q40 = queries.limit(40)
    res = (
        so3engine.so3_knn_join(
            spark, poses, q40, k=k, n_poses_hint=len(ppdf), max_radius=r
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    qpdf40 = q40.toPandas()
    P = ppdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    Q = qpdf40[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    D = _angular_matrix(Q, P)
    rows = []
    pids = ppdf["pose_id"].to_numpy()
    for i, qid in enumerate(qpdf40["query_id"]):
        srt = np.lexsort((pids, D[i]))
        rank = 0
        for j in srt:
            if D[i, j] > r:
                continue
            rank += 1
            if rank > k:
                break
            rows.append((qid, pids[j], D[i, j], rank))
    want = pd.DataFrame(rows, columns=["query_id", "pose_id", "d", "rank"]) \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(res) == len(want) > 0
    assert (res["pose_id"].to_numpy() == want["pose_id"].to_numpy()).all()
    assert (res["rank"].to_numpy() == want["rank"].to_numpy()).all()
    assert np.allclose(res["ang"].to_numpy(), want["d"].to_numpy(), atol=1e-12)


def test_so3_index_lineage_and_stream_enrich(spark, pose_data, tmp_path):
    """Per-partition lineage totals reconcile with the corpus; streaming
    pose enrichment over a prebuilt So3Index reconciles with the batch
    join (exactly-once per epoch)."""
    import time

    from sparkkd import streaming

    poses, queries, ppdf, _ = pose_data
    idx = so3engine.So3Index(spark, poses, n_poses_hint=len(ppdf))
    lin = idx.lineage().toPandas()
    assert lin["n_rows"].sum() == len(ppdf)
    assert (lin["salt_n"] >= 1).all()

    qdir = tmp_path / "qstream"
    qdir.mkdir()
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    batch_q = queries.limit(50)
    batch_q.toPandas().to_parquet(qdir / "b0.parquet")
    q = streaming.stream_pose_enrich(
        spark, str(qdir), idx, str(out), str(ck), k=4
    )
    try:
        deadline = time.time() + 60
        done = False
        while time.time() < deadline and not done:
            q.processAllAvailable()
            done = any(out.glob("epoch=*/_SUCCESS")) or any(out.glob("epoch=*/*.parquet"))
            time.sleep(0.5)
    finally:
        q.stop()
    got = (
        spark.read.parquet(str(out / "epoch=*"))
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    want = (
        idx.knn_join(batch_q, k=4)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert (got["pose_id"].to_numpy() == want["pose_id"].to_numpy()).all()
    assert np.array_equal(got["ang"].to_numpy(), want["ang"].to_numpy())
    idx.unpersist()


def test_se3_radius_join_vs_brute_force(spark, pose_data):
    poses, queries, ppdf, qpdf = pose_data
    rw, tw, r = 2.0, 0.5, 1.2
    res = (
        so3engine.se3_radius_join(
            spark, poses, queries, r=r, rot_weight=rw, trans_weight=tw,
            n_poses_hint=len(ppdf),
        )
        .toPandas().sort_values(["query_id", "pose_id"]).reset_index(drop=True)
    )
    P = ppdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    PT = ppdf[["tx", "ty", "tz"]].to_numpy(np.float64)
    Q = qpdf[["qw", "qx", "qy", "qz"]].to_numpy(np.float64)
    QT = qpdf[["tx", "ty", "tz"]].to_numpy(np.float64)
    D = rw * _angular_matrix(Q, P) + tw * np.sqrt(
        ((QT[:, None, :] - PT[None, :, :]) ** 2).sum(axis=2)
    )
    qi, pi = np.nonzero(D <= r)
    want = pd.DataFrame(
        {
            "query_id": qpdf["query_id"].to_numpy()[qi],
            "pose_id": ppdf["pose_id"].to_numpy()[pi],
            "d": D[qi, pi],
        }
    ).sort_values(["query_id", "pose_id"]).reset_index(drop=True)
    assert len(res) == len(want) > 0
    assert (res["pose_id"].to_numpy() == want["pose_id"].to_numpy()).all()
    assert np.allclose(res["dist"].to_numpy(), want["d"].to_numpy(), atol=1e-9)


def test_leaf_broadcast_budget_invariance(spark, pose_data, monkeypatch):
    """Round 5: when the leaf boxes exceed _MAX_LEAF_BCAST_BYTES the
    broadcast ships None and admission stops at the partition level —
    a pure superset refinement being dropped, so every join result must
    be IDENTICAL.  Exercises all four pose paths with the budget forced
    to 0 (always over) vs the default."""
    poses, queries, ppdf, _ = pose_data

    def all_four():
        knn = (
            so3engine.so3_knn_join(
                spark, poses, queries, k=4, n_poses_hint=len(ppdf)
            ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        rad = (
            so3engine.so3_radius_join(
                spark, poses, queries, r=0.3, n_poses_hint=len(ppdf)
            ).toPandas().sort_values(["query_id", "pose_id"]).reset_index(drop=True)
        )
        sknn = (
            so3engine.se3_knn_join(
                spark, poses, queries, k=4, rot_weight=2.0, trans_weight=0.5,
                n_poses_hint=len(ppdf),
            ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        srad = (
            so3engine.se3_radius_join(
                spark, poses, queries, r=0.7, rot_weight=2.0, trans_weight=0.5,
                n_poses_hint=len(ppdf),
            ).toPandas().sort_values(["query_id", "pose_id"]).reset_index(drop=True)
        )
        return knn, rad, sknn, srad

    base = all_four()
    monkeypatch.setattr(so3engine, "_MAX_LEAF_BCAST_BYTES", 0)
    capped = all_four()
    for b, c in zip(base, capped):
        pd.testing.assert_frame_equal(b, c)
        assert len(b) > 0


def _record_splits(monkeypatch, **force):
    """Wrap the pose joins' split planner (forcing any ``force`` keyword
    arguments) where each path looks it up: so3engine for the pose kNN
    orchestrations, engine for the shared radius orchestration.  Returns
    a list that gets, per phase-2 cogroup planned, whether the gsalt
    fan-out ran."""
    orig = so3engine._split_heavy_cogroups
    seen: list[bool] = []

    def wrapped(spark_, cand, corpus, group_rows, **kw):
        c, p, gcols = orig(spark_, cand, corpus, group_rows, **{**kw, **force})
        seen.append("gsalt" in c.columns and gcols == ["part_key", "gsalt"])
        return c, p, gcols

    monkeypatch.setattr(so3engine, "_split_heavy_cogroups", wrapped)
    monkeypatch.setattr(engine, "_split_heavy_cogroups", wrapped)
    return seen


def test_knn_p2_heavy_group_split_identity(spark, pose_data, monkeypatch):
    """Round 5: SO(3) kNN phase-2 cogroups split query-side when estimated
    work (candidates x partition poses) exceeds _KNN_SPLIT_TARGET —
    measured at sf2, unsplit per-task kernel time varied 5 s -> 90 s at
    ~uniform candidate counts, making one task the stage wall at any core
    count.  Query-side splitting is exact (every subgroup sees the
    partition's full corpus; the rerank dedupes by (query, pose)), so
    forcing EVERY group to split (target=1, 2 candidate rows per
    sub-group, split gate off) must be bit-identical to no split
    (target=huge), and the forced run must really have fanned out.  SE(3)
    kNN is one pass with no split planner, so it has nothing to force."""
    poses, queries, ppdf, _ = pose_data

    def knn():
        return (
            so3engine.so3_knn_join(
                spark, poses, queries, k=4, n_poses_hint=len(ppdf)
            ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )

    monkeypatch.setattr(so3engine, "_KNN_SPLIT_TARGET", 10**18)
    unsplit = knn()
    monkeypatch.setattr(so3engine, "_KNN_SPLIT_TARGET", 1)
    monkeypatch.setattr(so3engine, "_KNN_SPLIT_GATE", 0.0)
    seen = _record_splits(monkeypatch, min_rows_per_split=2)
    forced = knn()
    # the join must have exercised the gsalt fan-out — otherwise this
    # test silently compares unsplit output to unsplit output
    assert seen == [True]
    pd.testing.assert_frame_equal(unsplit, forced)
    assert len(unsplit) > 0


def test_radius_heavy_group_split_identity(spark, pose_data, monkeypatch):
    """The RADIUS twin of the kNN split-identity test.  Regression: the
    split explode map was built by createDataFrame without a schema, so a
    non-Arrow session inferred bigint for the int32 gsalt — the cogroup
    then hash-partitioned the two sides differently and (query, pose)
    pairs silently vanished (sf0.01 oracle: 124,134 -> 70,898 rows the
    first time the adaptive target made radius groups split at that
    scale).  Forcing every group to split must be bit-identical to no
    split (and the fan-out must really have run); the engine additionally
    asserts cogroup-key dtype parity."""
    poses, queries, ppdf, _ = pose_data

    def both():
        rad = (
            so3engine.so3_radius_join(
                spark, poses, queries, r=0.3, n_poses_hint=len(ppdf)
            ).toPandas().sort_values(["query_id", "pose_id"]).reset_index(drop=True)
        )
        srad = (
            so3engine.se3_radius_join(
                spark, poses, queries, r=0.7, rot_weight=2.0, trans_weight=0.5,
                n_poses_hint=len(ppdf),
            ).toPandas().sort_values(["query_id", "pose_id"]).reset_index(drop=True)
        )
        return rad, srad

    unsplit = both()
    seen = _record_splits(monkeypatch, split_target=1, min_rows_per_split=2)
    split = both()
    assert seen == [True, True]
    for u, f in zip(unsplit, split):
        pd.testing.assert_frame_equal(u, f)
        assert len(u) > 0


def test_se3_index_knn_reads_cached_corpus_layout(spark, pose_data, monkeypatch):
    """The pose twin of test_geoindex_no_corpus_exchange: the Se3Index kNN
    cogroup shuffles ONLY the candidate side — the corpus flows in
    through its cached hash(part_key) layout with no ENSURE_REQUIREMENTS
    exchange of its own, and no split planner keys it on gsalt.  The
    one other exchange is the (dist, pose_id) merge window's, on
    query_id."""
    import re

    poses, queries, ppdf, _ = pose_data
    planned = []
    monkeypatch.setattr(
        so3engine, "_split_heavy_cogroups", lambda *a, **kw: planned.append(a)
    )
    idx = so3engine.Se3Index(spark, poses, n_poses_hint=len(ppdf))
    try:
        df = idx.knn_join(queries, k=4, rot_weight=2.0, trans_weight=0.5)
        assert df.count() == 4 * queries.count()
        assert planned == []
        plan = df._jdf.queryExecution().executedPlan().toString()
        # drop the cached plans printed under each InMemoryRelation (their
        # one-time build shuffles are not per-query work)
        outer, depth = [], None
        for ln in plan.splitlines():
            m = re.search(r"[A-Za-z*(]", ln)
            pos = m.start() if m else 0
            if depth is not None and pos > depth:
                continue
            depth = pos if "InMemoryRelation" in ln else None
            outer.append(ln)
        outer_plan = "\n".join(outer)
        ex = [
            ln for ln in outer
            if re.search(r"Exchange hashpartitioning.*ENSURE_REQUIREMENTS", ln)
        ]
        assert len(ex) == 2, outer_plan
        assert sum("hashpartitioning(part_key" in ln for ln in ex) == 1, outer_plan
        assert sum("hashpartitioning(query_id" in ln for ln in ex) == 1, outer_plan
        assert outer_plan.count("InMemoryTableScan") == 1, outer_plan
        assert "gsalt" not in outer_plan
    finally:
        idx.unpersist()


def test_se3_steady_batch_runs_no_job_and_persists_nothing(spark, pose_data):
    """The pose twin of test_steady_batch_runs_no_job_and_persists_nothing:
    on a PREBUILT Se3Index, constructing a kNN batch runs NO driver action
    (the two-phase path ran the split planner's count-collect), and
    materializing it leaves nothing persisted beyond the index's own
    corpus (the two-phase path held its phase-1, top-k and candidate
    caches until the next call).  Results must be complete."""
    poses, queries, ppdf, _ = pose_data
    jsc = spark.sparkContext._jsc
    idx = so3engine.Se3Index(spark, poses, n_poses_hint=len(ppdf))
    try:
        n_persisted = jsc.getPersistentRDDs().size()
        kw = dict(k=4, rot_weight=2.0, trans_weight=0.5)
        idx.knn_join(queries, **kw).count()  # warm

        def n_execs():
            # SQL executions = driver-side actions (AQE splits one action
            # into many JOBS, so job counts can't express the floor)
            return (
                spark._jsparkSession.sharedState()
                .statusStore().executionsCount()
            )

        before = n_execs()
        df = idx.knn_join(queries, **kw)  # builder only — NO action
        assert n_execs() - before == 0
        assert df.count() == 4 * queries.count()
        assert jsc.getPersistentRDDs().size() == n_persisted
    finally:
        idx.unpersist()
