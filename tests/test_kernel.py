"""k-d kernel exactness vs brute-force oracle.

Mirrors the reference's load-bearing randomized oracle tests
(``test/kdtree_test.cpp:70-105`` testKNN, ``:152-198``
testStaticBuildAndQuery, self-query ``:170-178``): exact equality of
returned ids AND distances against a full brute-force scan, on uniform and
clustered point sets, k = 1..16.
"""

import numpy as np
import pytest

from sparkkd import kernel


def uniform_pts(n, seed):
    rng = np.random.default_rng(seed)
    return rng.uniform(-100, 100, (n, 2))


def clustered_pts(n, seed):
    rng = np.random.default_rng(seed)
    c = rng.uniform(-100, 100, (12, 2))
    pts = c[rng.integers(0, 12, n)] + rng.normal(0, 0.4, (n, 2))
    # hot blob: 20% of points in a tiny box (salting-style skew)
    nh = n // 5
    pts[:nh] = rng.uniform(0, 0.05, (nh, 2))
    return pts


DISTS = {"uniform": uniform_pts, "clustered": clustered_pts}


@pytest.mark.parametrize("dist_kind", list(DISTS))
@pytest.mark.parametrize("k", [1, 2, 3, 4, 8, 12, 16])
def test_knn_matches_brute_force(dist_kind, k):
    pts = DISTS[dist_kind](8000, seed=10)
    q = np.random.default_rng(11).uniform(-110, 110, (800, 2))
    tree = kernel.build(pts)
    qi, idx, dist = kernel.knn(tree, q, k)
    oqi, oidx, odist = kernel.brute_force_knn(pts, q, k)
    assert np.array_equal(qi, oqi)
    assert np.array_equal(idx, oidx)
    assert np.array_equal(dist, odist)  # bit-exact: same IEEE ops both sides


def test_self_query_returns_self():
    """`nearest(p)` over a set containing p -> p at distance 0
    (reference ``test/kdtree_test.cpp:170-178``)."""
    pts = uniform_pts(5000, seed=12)
    tree = kernel.build(pts)
    qi, idx, dist = kernel.knn(tree, pts, 1)
    assert np.array_equal(idx, np.arange(len(pts)))
    assert (dist == 0).all()


def test_knn_with_duplicates_and_ties():
    rng = np.random.default_rng(13)
    base = rng.uniform(-10, 10, (100, 2))
    pts = np.repeat(base, 5, axis=0)  # every point 5x duplicated
    tie = rng.permutation(len(pts)).astype(np.int64)
    tree = kernel.build(pts, leaf_size=16)
    a = kernel.knn(tree, base, 7, tie_key=tie)
    b = kernel.brute_force_knn(pts, base, 7, tie_key=tie)
    assert np.array_equal(a[1], b[1])


def test_knn_k_exceeds_n():
    pts = uniform_pts(10, seed=14)
    tree = kernel.build(pts)
    qi, idx, dist = kernel.knn(tree, pts[:3], 50)
    assert len(qi) == 30  # 3 queries x all 10 points
    b = kernel.brute_force_knn(pts, pts[:3], 50)
    assert np.array_equal(idx, b[1])


def test_bounded_knn_max_radius():
    """k + maxRadius semantics (reference Q2/Q3, dist_ seeding
    ``src/_kdtree_median.hpp:131-137``)."""
    pts = uniform_pts(5000, seed=15)
    q = uniform_pts(300, seed=16)
    tree = kernel.build(pts)
    r = 4.0
    qi, idx, dist = kernel.knn(tree, q, 8, max_radius=r)
    assert (dist <= r).all()
    oqi, oidx, odist = kernel.brute_force_knn(pts, q, 8)
    m = odist <= r
    assert np.array_equal(idx, oidx[m])


@pytest.mark.parametrize("r", [0.5, 2.0, 10.0])
def test_radius_matches_brute_force(r):
    pts = clustered_pts(4000, seed=17)
    q = np.random.default_rng(18).uniform(-105, 105, (300, 2))
    tree = kernel.build(pts)
    qi, idx, dist = kernel.radius(tree, q, r)
    diff = q[:, None, :] - pts[None, :, :]
    dm = np.sqrt((diff * diff).sum(axis=2))
    want = set(zip(*[a.tolist() for a in np.nonzero(dm <= r)]))
    got = set(zip(qi.tolist(), idx.tolist()))
    assert got == want


def test_empty_and_tiny_trees():
    tree = kernel.build(np.empty((0, 2)))
    qi, idx, dist = kernel.knn(tree, uniform_pts(5, 19), 3)
    assert len(qi) == 0
    one = kernel.build(np.array([[1.0, 2.0]]))
    qi, idx, dist = kernel.knn(one, np.array([[0.0, 0.0]]), 3)
    assert len(qi) == 1 and idx[0] == 0


def test_build_structure_median_split():
    """Median split on the widest axis (reference C1-C3): the split value
    stored for the root must partition the permuted range."""
    pts = uniform_pts(1000, seed=20)
    tree = kernel.build(pts, leaf_size=50)
    assert tree.n_leaves >= 2
    assert tree.depth >= 1
    assert len(tree.node_axis) == len(tree.node_split)
    # permutation is a bijection and leaves tile [0, n)
    assert np.array_equal(np.sort(tree.perm), np.arange(1000))
    assert tree.leaf_start[0] == 0 and tree.leaf_start[-1] == 1000
    assert (np.diff(tree.leaf_start) > 0).all()
    # leaf bboxes are tight
    for i in range(tree.n_leaves):
        s, e = tree.leaf_start[i], tree.leaf_start[i + 1]
        assert np.array_equal(tree.leaf_lo[i], tree.points[s:e].min(axis=0))
        assert np.array_equal(tree.leaf_hi[i], tree.points[s:e].max(axis=0))


def test_knn_compound_vs_brute_force():
    """Bounded compound SE(3) search vs a dense brute-force oracle, over
    both balanced and rotation-dominant weightings."""
    import math

    rng = np.random.default_rng(11)
    n, nq, k = 3000, 200, 5
    PT = rng.uniform(-50, 50, size=(n, 3))
    PR = rng.normal(size=(n, 4)); PR /= np.linalg.norm(PR, axis=1, keepdims=True)
    QT = rng.uniform(-50, 50, size=(nq, 3))
    QR = rng.normal(size=(nq, 4)); QR /= np.linalg.norm(QR, axis=1, keepdims=True)
    tree = kernel.build(PT)
    for rw, tw in ((1.0, 1.0), (2.0, 0.5), (5.0, 0.1)):
        qi, idx, ldot, et = kernel.knn_compound(tree, QT, QR, PR, k, rw, tw)
        got_d = rw * np.arccos(ldot) + tw * et
        # brute force
        dot = np.abs(QR @ PR.T)
        ang = np.arccos(np.minimum(1.0, dot))
        etb = np.sqrt(((QT[:, None, :] - PT[None, :, :]) ** 2).sum(axis=2))
        D = rw * ang + tw * etb
        for q in range(nq):
            mine = sorted(
                [(got_d[j], int(idx[j])) for j in range(len(qi)) if qi[j] == q]
            )[:k]
            want = sorted((D[q, p], p) for p in range(n))[:k]
            assert [p for _, p in mine] == [p for _, p in want], (rw, tw, q)
            assert np.allclose([d for d, _ in mine], [d for d, _ in want], atol=1e-9)


def test_knn_compound_max_radius_cuts_unseeded_output():
    """Seeding knn_compound with max_radius=b returns exactly its unseeded
    output cut to selection distance <= b, for b = inf, 0, a bound between
    each query's (k-1)th and kth distances, and one above the kth — as a
    scalar and as one bound per query.  Half the corpus sits on 40 exact
    duplicate poses so ties cross the cut."""
    rng = np.random.default_rng(12)
    n, nq, k, rw, tw = 2000, 120, 6, 2.0, 0.5
    PT = rng.uniform(-5, 5, size=(n, 3))
    PR = rng.normal(size=(n, 4)); PR /= np.linalg.norm(PR, axis=1, keepdims=True)
    dup = rng.integers(0, 40, n // 2)
    PT[: n // 2], PR[: n // 2] = PT[n // 2 :][dup], PR[n // 2 :][dup]
    QT = rng.uniform(-5, 5, size=(nq, 3))
    QR = rng.normal(size=(nq, 4)); QR /= np.linalg.norm(QR, axis=1, keepdims=True)
    tree = kernel.build(PT)

    def run(**kw):
        qi, idx, ldot, et = kernel.knn_compound(tree, QT, QR, PR, k, rw, tw, **kw)
        return qi, idx, rw * np.arccos(ldot) + tw * et

    qi, idx, d = run()
    first = np.searchsorted(qi, np.arange(nq))
    kth, prev = d[first + k - 1], d[first + k - 2]
    assert (prev < kth).sum() > nq // 2  # most queries have a gap to cut in
    for b in (np.inf, 0.0, 0.5 * (prev + kth), 1.5 * kth + 0.1):
        for mr in ([b] if np.ndim(b) else [b, np.full(nq, b)]):
            got = run(max_radius=mr)
            keep = d <= (mr if np.ndim(mr) == 0 else mr[qi])
            for a, want in zip(got, (qi[keep], idx[keep], d[keep])):
                assert np.array_equal(a, want)
    below = run(max_radius=0.5 * (prev + kth))
    assert len(below[0]) < len(qi)


@pytest.mark.parametrize("dist_kind", list(DISTS))
@pytest.mark.parametrize("k", [1, 4, 8])
def test_knn_float32_matches_float32_brute_force(dist_kind, k):
    """float32 kernel exactness IN float32 — the reference's multi-scalar
    parity (float/double/long double, ``test/kdtree_test.cpp:297-306``):
    a float32 tree must return exactly what a float32 brute force returns
    (ids, distances bit-equal), never silently mix precisions."""
    pts = DISTS[dist_kind](8000, seed=21).astype(np.float32)
    q = (
        np.random.default_rng(22)
        .uniform(-110, 110, (800, 2))
        .astype(np.float32)
    )
    tree = kernel.build(pts, dtype=np.float32)
    assert tree.points.dtype == np.float32
    assert tree.leaf_lo.dtype == np.float32
    qi, idx, dist = kernel.knn(tree, q, k)
    assert dist.dtype == np.float32
    oqi, oidx, odist = kernel.brute_force_knn(pts, q, k, dtype=np.float32)
    assert np.array_equal(qi, oqi)
    assert np.array_equal(idx, oidx)
    assert np.array_equal(dist, odist.astype(np.float32))


@pytest.mark.parametrize("r", [0.5, 5.0, 40.0])
def test_radius_float32_matches_brute_force(r):
    pts = clustered_pts(6000, seed=31).astype(np.float32)
    q = (
        np.random.default_rng(32)
        .uniform(-110, 110, (300, 2))
        .astype(np.float32)
    )
    tree = kernel.build(pts, dtype=np.float32)
    qi, idx, dist = kernel.radius(tree, q, r)
    assert dist.dtype == np.float32
    # brute force in the SAME dtype with the SAME admission r
    diff = q[:, None, :] - pts[None, :, :]
    d = np.sqrt((diff * diff).sum(axis=2))
    want = {
        (int(i), int(j))
        for i, j in zip(*np.nonzero(d <= np.float32(r)))
    }
    got = set(zip(qi.tolist(), idx.tolist()))
    assert got == want
    # distances bit-equal to the brute-force float32 values
    for a, b, dd in zip(qi.tolist(), idx.tolist(), dist.tolist()):
        assert np.float32(dd) == d[a, b]


def test_float32_tree_halves_memory():
    pts = uniform_pts(20000, seed=41)
    t64 = kernel.build(pts)
    t32 = kernel.build(pts, dtype=np.float32)
    assert t32.points.nbytes * 2 == t64.points.nbytes
    assert t32.leaf_lo.nbytes * 2 == t64.leaf_lo.nbytes
    # float32 results agree with float64 within float32 epsilon
    q = np.random.default_rng(42).uniform(-100, 100, (200, 2))
    _, i64, d64 = kernel.knn(t64, q, 4)
    _, i32, d32 = kernel.knn(t32, q, 4)
    assert np.allclose(d32, d64, rtol=1e-5, atol=1e-4)
    assert (i32 == i64).mean() > 0.99  # ties may flip at f32 epsilon
