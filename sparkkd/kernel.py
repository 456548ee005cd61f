"""Partition-local NumPy k-d tree: median-split build + bounded batch kNN.

This is the vectorized re-expression of the reference's core algorithms
(jeffi/kdtree — see /root/reference):

* **Median-split build** — the reference picks the widest-extent axis via a
  per-range min/max sweep (``MedianAccum::init/accum/maxAxis``,
  ``src/_l2space.hpp:173-204``), splits the range at the median with
  ``nth_element`` (``src/_l2space.hpp:206-219``) and recurses, storing the
  tree implicitly in array order (``src/_kdtree_median.hpp:269``).
  We do the same with ``np.ptp(...).argmax()`` and ``np.argpartition``
  over an index permutation, recursing until ranges reach ``leaf_size``;
  the tree is implicit in the permuted array + leaf offset table.

* **Bounded best-first kNN** — the reference maintains a shrinking kth
  distance ``dist_`` seeded by ``maxRadius`` (``src/_kdtree_median.hpp:
  131-137``), admits candidates with ``d <= dist_`` (``:159-163``) and
  prunes subtrees via ``distToRegion() <= dist_`` (``shouldTraverse``,
  ``:136-138``; incremental region distance ``src/_l2space.hpp:134-168``).
  Per-row Python traversal is forbidden (input_hint), so we run the SAME
  bound logic *batched over all queries at once*:

    1. compute min/max distance from every query to every leaf bbox
       (vectorized Q x L matrices — L = n/leaf_size is small);
    2. phase 1: walk leaves in ascending min-dist order until their
       cumulative point count reaches k and scan exactly those leaves
       (vectorized pair expansion); the kth-smallest distance found is a
       TRUE upper bound on the kth-NN distance — the batched analogue of
       the reference's shrinking ``dist_`` after the first descent;
    3. phase 2 prune: every remaining (query, leaf) pair is scanned only
       if ``min_dist(q, leaf bbox) <= bound(q)`` — distToRegion pruning;
    4. scan surviving pairs in ONE vectorized gather (``np.repeat`` pair
       expansion — no Python loop at all), keep candidates with
       ``d <= bound``, then exact top-k per query by ``(dist, tie_key)``
       with a single lexsort.

  The result is exact (verified against brute force in tests): the bound
  from step 2 over-estimates the true kth distance, so no true neighbor is
  ever pruned; step 4's final sort recovers the exact k.

* **Tile below the crossover, tree above** — the reference builds its tree
  to amortize it over many queries (``src/_kdtree_base.hpp:38-55``); a
  cogroup group that gets few queries never repays the build.
  ``knn_tile`` / ``knn_compound_tile`` score the group's whole (Q x P)
  distance tile with the tree scan's per-pair arithmetic and summation
  order, so every distance is bit-identical to the tree path's, and find
  each row's kth with ``np.partition``.  ``use_tile(Q, P)`` is the rule
  the cogroup kernels apply (measured crossover: see its constants).

Coordinates default to float64 but ``build(..., dtype=np.float32)`` stores
and computes in float32 — the analogue of the reference's multi-scalar
support (float/double/long double, ``src/_tuple.hpp:43-46``, exercised by
``test/kdtree_test.cpp:297-306``).  Results are exact IN THAT dtype
(verified against a same-dtype brute force): IEEE rounding is monotone,
so the per-dim bbox bound ``fl(max(lo-q, q-hi, 0)) <= fl(|q-p|)`` holds
in every precision and the distToRegion prune never drops a true
neighbor.  A float32 tree halves kernel memory and scan bandwidth; keep
float64 (the default) wherever DuckDB-oracle bit-parity is required.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class KDTree:
    """Implicit-array k-d tree over one partition (cell) of points."""

    points: np.ndarray  # (n, d) float32/float64, leaf-contiguous order
    perm: np.ndarray  # (n,) int64: points[i] == original[perm[i]]
    leaf_start: np.ndarray  # (L+1,) int64 offsets into points
    leaf_lo: np.ndarray  # (L, d) per-leaf bbox lows (tight, from points)
    leaf_hi: np.ndarray  # (L, d) per-leaf bbox highs
    node_axis: np.ndarray  # (M,) int8 split axes, preorder (metadata/lineage)
    node_split: np.ndarray  # (M,) float64 split values, preorder
    depth: int  # max recursion depth (lineage metric)

    @property
    def n(self) -> int:
        return self.points.shape[0]

    @property
    def n_leaves(self) -> int:
        return len(self.leaf_start) - 1


def build(
    points: np.ndarray,
    leaf_size: int | None = None,
    dtype: np.dtype | type = np.float64,
) -> KDTree:
    """Median-split build (reference C1-C3). O(n log n), vectorized per range.

    leaf_size=None picks max(32, min(128, n/256)): measured sweet spot
    balancing (Q x L) matrix size against per-leaf scan width.

    dtype: scalar type for stored coordinates and all query arithmetic
    (np.float64 default; np.float32 halves memory/bandwidth — reference
    multi-scalar parity, ``src/_tuple.hpp:43-46``)."""
    dt = np.dtype(dtype)
    assert dt in (np.dtype(np.float32), np.dtype(np.float64)), dt
    pts = np.ascontiguousarray(points, dtype=dt)
    n, d = pts.shape
    if leaf_size is None:
        leaf_size = max(32, min(128, n // 256))
    if n == 0:
        return KDTree(
            points=pts,
            perm=np.empty(0, dtype=np.int64),
            leaf_start=np.zeros(1, dtype=np.int64),
            leaf_lo=np.empty((0, d), dtype=dt),
            leaf_hi=np.empty((0, d), dtype=dt),
            node_axis=np.empty(0, dtype=np.int8),
            node_split=np.empty(0, dtype=np.float64),
            depth=0,
        )
    perm = np.arange(n, dtype=np.int64)
    leaf_bounds: list[tuple[int, int]] = []
    node_axis: list[int] = []
    node_split: list[float] = []
    max_depth = 0
    # explicit stack instead of recursion; each entry is a contiguous range
    stack: list[tuple[int, int, int]] = [(0, n, 0)]
    while stack:
        start, end, dep = stack.pop()
        max_depth = max(max_depth, dep)
        m = end - start
        if m <= leaf_size:
            leaf_bounds.append((start, end))
            continue
        sub = perm[start:end]
        vals = pts[sub]
        # widest-extent axis (MedianAccum::maxAxis, src/_l2space.hpp:202-204)
        axis = int(np.ptp(vals, axis=0).argmax())
        mid = m // 2
        # nth_element analogue (src/_l2space.hpp:206-219)
        order = np.argpartition(vals[:, axis], mid)
        perm[start:end] = sub[order]
        split_val = float(pts[perm[start + mid], axis])
        node_axis.append(axis)
        node_split.append(split_val)
        stack.append((start, start + mid, dep + 1))
        stack.append((start + mid, end, dep + 1))

    leaf_bounds.sort()
    starts = np.array([b[0] for b in leaf_bounds] + [n], dtype=np.int64)
    pts_sorted = pts[perm]
    L = len(leaf_bounds)
    leaf_lo = np.empty((L, d), dtype=dt)
    leaf_hi = np.empty((L, d), dtype=dt)
    for i, (s, e) in enumerate(leaf_bounds):  # loop over leaves, not rows
        leaf_lo[i] = pts_sorted[s:e].min(axis=0)
        leaf_hi[i] = pts_sorted[s:e].max(axis=0)
    return KDTree(
        points=pts_sorted,
        perm=perm,
        leaf_start=starts,
        leaf_lo=leaf_lo,
        leaf_hi=leaf_hi,
        node_axis=np.array(node_axis, dtype=np.int8),
        node_split=np.array(node_split, dtype=np.float64),
        depth=max_depth,
    )


def _scan_pairs(tree: KDTree, qc: np.ndarray, scan: np.ndarray):
    """Vectorized leaf scan: expand every True (query, leaf) pair of `scan`
    into its (query, point) rows and compute distances in one shot.

    Returns (q_idx, pt_idx_sorted_order, dist) flat arrays where pt_idx
    indexes tree.points (leaf-contiguous order)."""
    leaf_counts = np.diff(tree.leaf_start)
    pq, pl = np.nonzero(scan)
    if len(pq) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    cnt = leaf_counts[pl]
    total = int(cnt.sum())
    off = np.zeros(len(cnt) + 1, dtype=np.int64)
    np.cumsum(cnt, out=off[1:])
    pt_idx = np.repeat(tree.leaf_start[pl], cnt) + (
        np.arange(total, dtype=np.int64) - np.repeat(off[:-1], cnt)
    )
    q_idx = np.repeat(pq, cnt)
    diff = qc[q_idx] - tree.points[pt_idx]
    dist = np.sqrt((diff * diff).sum(axis=1))
    return q_idx, pt_idx, dist


def _leaf_min_dist(tree: KDTree, q: np.ndarray) -> np.ndarray:
    """(Q,L) min-distance matrix from queries to leaf bboxes — the batched
    distToRegion (``src/_l2space.hpp:134-168``).

    Computed per dimension as (Q,1) x (1,L) broadcasts so the contiguous
    inner axis is L (a 3-D (Q,L,d) broadcast with d=2 inner would defeat
    NumPy's SIMD fast path — measured ~100x slower)."""
    Q, d = q.shape
    L = tree.n_leaves
    dmin2 = np.zeros((Q, L), dtype=tree.points.dtype)
    for j in range(d):  # loop over dimensions (2), not rows
        lo = tree.leaf_lo[:, j][None, :]  # (1,L)
        hi = tree.leaf_hi[:, j][None, :]
        qj = q[:, j][:, None]  # (Q,1)
        a = lo - qj
        b = qj - hi
        m = np.maximum(a, b)
        np.maximum(m, 0.0, out=m)
        dmin2 += m * m
    return np.sqrt(dmin2)


def knn(
    tree: KDTree,
    queries: np.ndarray,
    k: int,
    tie_key: np.ndarray | None = None,
    max_radius: float | np.ndarray = np.inf,
    chunk: int = 4096,
):
    """Exact bounded kNN for a batch of queries against one tree.

    Returns (qi, idx, dist): flat candidate arrays where ``idx`` indexes the
    ORIGINAL point order (via tree.perm) and each query contributes its
    <=k nearest admitted points sorted by (dist, tie_key).

    tie_key: per-ORIGINAL-point int64 sort key for deterministic tie breaks
    (engine passes the rank of image_id); defaults to original index.
    max_radius seeds the admission bound (reference Q3 radius seeding,
    ``src/_kdtree_median.hpp:131-137``): a scalar, or one bound per query.
    """
    assert k >= 1
    dt = tree.points.dtype
    q = np.ascontiguousarray(queries, dtype=dt)
    # insurance pad for reduced precision: the bbox bound is provably
    # <= the pair distance under IEEE monotone rounding at IDENTICAL
    # reduction order; pad by 4 ulp so a future order change can never
    # silently prune a borderline leaf (admission stays exact).
    pad = dt.type(1.0) + 4 * np.finfo(dt).eps if dt == np.float32 else 1.0
    if tree.n == 0 or len(q) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    if tie_key is None:
        tie_key = np.arange(tree.n, dtype=np.int64)
    tie_sorted = np.asarray(tie_key, dtype=np.int64)[tree.perm]

    leaf_counts = np.diff(tree.leaf_start)
    out_qi: list[np.ndarray] = []
    out_idx: list[np.ndarray] = []
    out_dist: list[np.ndarray] = []

    # Bound per-chunk (Q,L) temporaries to ~2M elements (16 MB) so NumPy
    # temps stay on the malloc heap and get reused.  Fresh mmap'd regions
    # pay a first-touch page-fault cost that dominates runtime in VM
    # sandboxes (measured ~100x slowdown at 64 MB temps).
    chunk = max(256, min(chunk, 2_000_000 // max(tree.n_leaves, 1)))

    for c0 in range(0, len(q), chunk):  # memory-bounding chunk loop
        qc = q[c0 : c0 + chunk]
        Q = len(qc)
        dmin = _leaf_min_dist(tree, qc)  # (Q,L)

        # phase 1: scan the nearest leaves covering >= k points
        order = np.argsort(dmin, axis=1, kind="stable")  # (Q,L)
        counts_ord = leaf_counts[order]
        cum = np.cumsum(counts_ord, axis=1)
        need = np.argmax(cum >= k, axis=1)  # first prefix covering k points
        enough = cum[:, -1] >= k
        need = np.where(enough, need, tree.n_leaves - 1)
        prefix = np.arange(tree.n_leaves)[None, :] <= need[:, None]
        scan1 = np.zeros((Q, tree.n_leaves), dtype=bool)
        np.put_along_axis(scan1, order, prefix, axis=1)
        q1, i1, d1 = _scan_pairs(tree, qc, scan1)
        if len(q1) == 0:
            continue

        # true kth-distance bound from phase-1 candidates (the batched
        # analogue of the reference's shrinking dist_ after first descent)
        srt1 = np.lexsort((d1, q1))
        q1, i1, d1 = q1[srt1], i1[srt1], d1[srt1]
        first = np.searchsorted(q1, np.arange(Q))
        countq = np.diff(np.append(first, len(q1)))
        kth_pos = first + np.minimum(k, np.maximum(countq, 1)) - 1
        bound = np.where(countq >= k, d1[np.minimum(kth_pos, len(d1) - 1)], np.inf)
        bound = np.minimum(
            bound, max_radius if np.ndim(max_radius) == 0 else max_radius[c0 : c0 + Q]
        )

        # phase 2: distToRegion pruning over the remaining leaves
        scan2 = (dmin <= bound[:, None] * pad) & ~scan1
        q2, i2, d2 = _scan_pairs(tree, qc, scan2)

        cqi = np.concatenate([q1, q2])
        cidx = np.concatenate([i1, i2])
        cdist = np.concatenate([d1, d2])
        adm = cdist <= bound[cqi]  # admission d <= dist_
        cqi, cidx, cdist = cqi[adm], cidx[adm], cdist[adm]
        if len(cqi) == 0:
            continue

        # step 4: exact top-k per query by (dist, tie_key) — one lexsort
        srt = np.lexsort((tie_sorted[cidx], cdist, cqi))
        cqi, cidx, cdist = cqi[srt], cidx[srt], cdist[srt]
        first = np.searchsorted(cqi, np.arange(Q))
        rank = np.arange(len(cqi)) - first[cqi]
        keep = rank < k
        out_qi.append(cqi[keep] + c0)
        out_idx.append(tree.perm[cidx[keep]])
        out_dist.append(cdist[keep])

    if not out_qi:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    return (
        np.concatenate(out_qi),
        np.concatenate(out_idx),
        np.concatenate(out_dist),
    )


def radius(tree: KDTree, queries: np.ndarray, r: float, chunk: int = 4096):
    """All points with dist <= r per query (reference Q3: large k + finite
    maxRadius).  Returns flat (qi, idx, dist) in original point order.
    Runs in the tree's dtype (see build); admission ``dist <= r`` is exact
    in that dtype, the bbox prune carries a 4-ulp float32 insurance pad."""
    dt = tree.points.dtype
    q = np.ascontiguousarray(queries, dtype=dt)
    pad = dt.type(1.0) + 4 * np.finfo(dt).eps if dt == np.float32 else 1.0
    if tree.n == 0 or len(q) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    out_qi, out_idx, out_dist = [], [], []
    chunk = max(256, min(chunk, 2_000_000 // max(tree.n_leaves, 1)))
    for c0 in range(0, len(q), chunk):
        qc = q[c0 : c0 + chunk]
        dmin = _leaf_min_dist(tree, qc)
        scan = dmin <= dt.type(r) * pad
        cqi, cidx, cdist = _scan_pairs(tree, qc, scan)
        adm = cdist <= dt.type(r)
        out_qi.append(cqi[adm] + c0)
        out_idx.append(tree.perm[cidx[adm]])
        out_dist.append(cdist[adm])
    if not out_qi:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    return (
        np.concatenate(out_qi),
        np.concatenate(out_idx),
        np.concatenate(out_dist),
    )


def brute_force_knn(
    points: np.ndarray,
    queries: np.ndarray,
    k: int,
    tie_key: np.ndarray | None = None,
    dtype: np.dtype | type = np.float64,
):
    """Oracle: exact top-k by (dist, tie_key) via full distance matrix.
    Mirrors the reference's test oracle (partial_sort over all points,
    ``test/kdtree_test.cpp:95-104``).  dtype selects the scalar type the
    oracle computes in (same-dtype comparisons for the float32 kernel)."""
    pts = np.asarray(points, dtype=dtype)
    q = np.asarray(queries, dtype=dtype)
    if tie_key is None:
        tie_key = np.arange(len(pts), dtype=np.int64)
    diff = q[:, None, :] - pts[None, :, :]
    dist = np.sqrt((diff * diff).sum(axis=2))
    out_qi, out_idx, out_dist = [], [], []
    kk = min(k, len(pts))
    for i in range(len(q)):  # oracle only — allowed to be slow/loopy
        srt = np.lexsort((tie_key, dist[i]))[:kk]
        out_qi.append(np.full(kk, i, dtype=np.int64))
        out_idx.append(srt.astype(np.int64))
        out_dist.append(dist[i][srt])
    return np.concatenate(out_qi), np.concatenate(out_idx), np.concatenate(out_dist)


def knn_compound(
    tree: KDTree,
    q_trans: np.ndarray,
    q_rot: np.ndarray,
    p_rot: np.ndarray,
    k: int,
    rot_weight: float,
    trans_weight: float,
    tie_key: np.ndarray | None = None,
    max_radius: float | np.ndarray = np.inf,
    bound_pool: int = 32,
    chunk: int = 4096,
):
    """Exact per-query top-k under the weighted compound SE(3) metric

        d = rot_weight * arccos(min(1, |q_rot . p_rot|))
            + trans_weight * ||q_trans - p_trans||

    where the TREE indexes the translations (the reference's compound
    space over a sub-space index, ``src/_compoundspace.hpp:60-88``).
    Branch-and-bound uses the translation lower bound
    ``trans_weight * distToLeaf`` (rotation contributes >= 0); the initial
    bound comes from a phase-A scan of the nearest leaves covering
    ``max(k, bound_pool)`` translations, whose TRUE compound distances
    upper-bound the kth (any k distinct poses do).  This replaces the
    dense Q x P group matrix the round-2 kernel computed — per-query work
    is leaf-log plus admitted-leaf scans, so big cogroup groups stay
    cheap.  With trans_weight == 0 the bound is vacuous and the scan
    degrades to the dense sweep (correct, documented).

    SIMD arccos is used for SELECTION only; every candidate within a
    relative 1e-12 margin of the kth selection distance is returned so the
    caller can rescale (ldot, et) with libm acos and let the final window
    cut oracle-exactly.  max_radius caps the phase-A bound (reference
    maxRadius seeding, ``src/_kdtree_median.hpp:131-137``): a scalar, or
    one bound per query; only candidates whose selection distance is
    <= it are returned.  Returns (qi, idx_original, ldot, et)."""
    rw, tw = float(rot_weight), float(trans_weight)
    qt = np.ascontiguousarray(q_trans, dtype=np.float64)
    qr = np.ascontiguousarray(q_rot, dtype=np.float64)
    if tree.n == 0 or len(qt) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64), np.empty(0, dtype=np.float64)
    if tie_key is None:
        tie_key = np.arange(tree.n, dtype=np.int64)
    tie_sorted = np.asarray(tie_key, dtype=np.int64)[tree.perm]
    pr_sorted = np.ascontiguousarray(p_rot, dtype=np.float64)[tree.perm]
    leaf_counts = np.diff(tree.leaf_start)
    kpool = max(k, bound_pool)

    def pair_metrics(qrc, q_idx, pt_idx, et):
        a = qrc[q_idx]  # q_idx is CHUNK-relative; qrc is the chunk's slice
        b = pr_sorted[pt_idx]
        dot = a[:, 0] * b[:, 0]
        dot = dot + a[:, 1] * b[:, 1]
        dot = dot + a[:, 2] * b[:, 2]
        dot = dot + a[:, 3] * b[:, 3]
        ldot = np.minimum(1.0, np.abs(dot))
        return ldot, rw * np.arccos(ldot) + tw * et

    out_qi: list[np.ndarray] = []
    out_idx: list[np.ndarray] = []
    out_ldot: list[np.ndarray] = []
    out_et: list[np.ndarray] = []
    chunk = max(256, min(chunk, 2_000_000 // max(tree.n_leaves, 1)))
    for c0 in range(0, len(qt), chunk):
        qc = qt[c0 : c0 + chunk]
        qrc = qr[c0 : c0 + chunk]
        Q = len(qc)
        dmin = _leaf_min_dist(tree, qc)  # translation space, (Q,L)

        # phase A: scan the nearest leaves covering >= kpool translations;
        # their true compound values give a per-query kth bound
        order = np.argsort(dmin, axis=1, kind="stable")
        cum = np.cumsum(leaf_counts[order], axis=1)
        need = np.argmax(cum >= kpool, axis=1)
        enough = cum[:, -1] >= kpool
        need = np.where(enough, need, tree.n_leaves - 1)
        prefix = np.arange(tree.n_leaves)[None, :] <= need[:, None]
        scan1 = np.zeros((Q, tree.n_leaves), dtype=bool)
        np.put_along_axis(scan1, order, prefix, axis=1)
        q1, i1, et1 = _scan_pairs(tree, qc, scan1)
        if len(q1) == 0:
            continue
        l1, d1 = pair_metrics(qrc, q1, i1, et1)
        srt1 = np.lexsort((d1, q1))
        q1, i1, et1, l1, d1 = q1[srt1], i1[srt1], et1[srt1], l1[srt1], d1[srt1]
        first = np.searchsorted(q1, np.arange(Q))
        countq = np.diff(np.append(first, len(q1)))
        kth_pos = first + np.minimum(k, np.maximum(countq, 1)) - 1
        bound = np.where(countq >= k, d1[np.minimum(kth_pos, len(d1) - 1)], np.inf)
        # pad: the SIMD-arccos bound may sit 1 ulp below the true kth —
        # widen so no borderline leaf/pose is pruned before libm rescoring
        bound = np.minimum(
            bound * (1.0 + 1e-12) + 1e-15,
            max_radius if np.ndim(max_radius) == 0 else max_radius[c0 : c0 + Q],
        )

        # phase B: remaining leaves within the compound lower bound
        scan2 = (tw * dmin <= bound[:, None]) & ~scan1
        q2, i2, et2 = _scan_pairs(tree, qc, scan2)
        if len(q2) > 0:
            l2, d2 = pair_metrics(qrc, q2, i2, et2)
        else:
            l2 = d2 = np.empty(0, dtype=np.float64)

        cqi = np.concatenate([q1, q2])
        cidx = np.concatenate([i1, i2])
        cldot = np.concatenate([l1, l2])
        cet = np.concatenate([et1, et2])
        cd = np.concatenate([d1, d2])
        adm = cd <= bound[cqi]
        cqi, cidx, cldot, cet, cd = (
            cqi[adm], cidx[adm], cldot[adm], cet[adm], cd[adm]
        )
        if len(cqi) == 0:
            continue

        # exact top-k cut with the ulp-tie margin (callers re-rank on the
        # libm-exact values downstream)
        srt = np.lexsort((tie_sorted[cidx], cd, cqi))
        cqi, cidx, cldot, cet, cd = (
            cqi[srt], cidx[srt], cldot[srt], cet[srt], cd[srt]
        )
        first = np.searchsorted(cqi, np.arange(Q))
        countq = np.diff(np.append(first, len(cqi)))
        kth_pos = first + np.minimum(k, np.maximum(countq, 1)) - 1
        dk = cd[np.minimum(kth_pos, len(cd) - 1)]
        keep = cd <= (dk[cqi] * (1.0 + 1e-12) + 1e-15)
        out_qi.append(cqi[keep] + c0)
        out_idx.append(tree.perm[cidx[keep]])
        out_ldot.append(cldot[keep])
        out_et.append(cet[keep])

    if not out_qi:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64), np.empty(0, dtype=np.float64)
    return (
        np.concatenate(out_qi),
        np.concatenate(out_idx),
        np.concatenate(out_ldot),
        np.concatenate(out_et),
    )


# Crossover between the (Q x P) tile kernels and build-a-tree-then-search,
# from a single-thread sweep (4-core x86-64, NumPy 1.26, float64; each side
# timed as the cogroup kernels call it: tile vs kernel.build (+ the planar
# id rank of the whole group) + search, k=8 planar, k=4 SE(3), each query
# seeded with 1.5x its true kth distance; tree time / tile time):
#   planar, P 300-16,384:  Q <= 32 wins 2.0-40x, Q = 64 wins 1.05-2.0x,
#     Q = 128 loses or ties once P >= 1,000 (0.64-1.01x), Q = 256 loses
#     0.40-0.76x; at k=1 Q <= 64 wins 1.9-10x, Q = 128 ties (0.94-1.22x);
#   SE(3) rw=2 tw=0.5:     the tile wins 3.0-42x at every Q <= 256 tried
#     (the translation tree barely prunes a rotation-heavy metric);
#   SE(3) rw=0 tw=1:       Q <= 32 wins 1.22-43x, Q = 48 ties (0.97-1.22x),
#     Q = 64 loses once P >= 2,000 (0.54-0.84x).
#   Q x P = 65,536 (Q 64-2,048, P 1,024-32): the tile wins 1.01-8.1x in all
#     three; Q x P = 128,000 (128 x 1,000) loses at rw=0 tw=1 (0.80x).
# So a group takes the tile when it has at most TILE_MAX_Q queries or at
# most TILE_MAX_PAIRS (query, point) pairs: the shapes where it won in
# every space and weighting swept.
TILE_MAX_Q = 32
TILE_MAX_PAIRS = 65_536
# (query, point) pairs per tile chunk: bounds each (Q x P) temporary to
# 2 MB (see knn's note on first-touch cost of large fresh temporaries)
_TILE_CHUNK_PAIRS = 1 << 18


def use_tile(n_queries: int, n_points: int) -> bool:
    """True when a group of n_queries against n_points should be scored
    as a distance tile rather than through a k-d tree."""
    return n_queries <= TILE_MAX_Q or n_queries * n_points <= TILE_MAX_PAIRS


def _tile_dist(q: np.ndarray, p: np.ndarray) -> np.ndarray:
    """(Q, P) L2 distances, summed per dimension in index order like
    ``_scan_pairs``'s ``(diff * diff).sum(axis=1)``: bit-identical."""
    diff = q[:, 0][:, None] - p[:, 0][None, :]
    d2 = diff * diff
    for j in range(1, q.shape[1]):  # loop over dimensions, not rows
        diff = q[:, j][:, None] - p[:, j][None, :]
        d2 = d2 + diff * diff
    return np.sqrt(d2)


def _kth_per_row(d: np.ndarray, k: int) -> np.ndarray:
    """Each row's kth-smallest value (inf when a row has fewer than k)."""
    if d.shape[1] < k:
        return np.full(d.shape[0], np.inf)
    return np.partition(d, k - 1, axis=1)[:, k - 1]


def knn_tile(
    points: np.ndarray,
    queries: np.ndarray,
    k: int,
    tie_rank=None,
    max_radius: float | np.ndarray = np.inf,
):
    """``knn`` without a tree: exact top-k per query by (dist, tie) among
    the points within max_radius (a scalar or one bound per query), from
    the whole (Q x P) distance tile.  Same result as
    ``knn(build(points), ...)``, distances bit-identical.

    tie_rank(u) maps sorted unique point indices ``u`` to int64 keys that
    order those points like the caller's ids; it is asked only for the
    points at or below some row's kth distance, so a caller ranks a few
    ids instead of the whole group.  None orders ties by point index.
    Returns (qi, idx, dist) sorted by (qi, dist, tie)."""
    assert k >= 1
    p = np.ascontiguousarray(points, dtype=np.float64)
    q = np.ascontiguousarray(queries, dtype=np.float64)
    if len(p) == 0 or len(q) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64)
    mr = np.broadcast_to(np.asarray(max_radius, dtype=np.float64), (len(q),))
    out_qi: list[np.ndarray] = []
    out_idx: list[np.ndarray] = []
    out_dist: list[np.ndarray] = []
    step = max(1, _TILE_CHUNK_PAIRS // len(p))
    for c0 in range(0, len(q), step):  # memory-bounding chunk loop
        d = _tile_dist(q[c0 : c0 + step], p)
        thr = np.minimum(_kth_per_row(d, k), mr[c0 : c0 + step])
        qi, idx = np.nonzero(d <= thr[:, None])
        dist = d[qi, idx]
        if tie_rank is None:
            tie = idx
        else:
            u, inv = np.unique(idx, return_inverse=True)
            tie = np.asarray(tie_rank(u), dtype=np.int64)[inv]
        # a row holds more than k candidates only on a tie at its kth
        srt = np.lexsort((tie, dist, qi))
        qi, idx, dist = qi[srt], idx[srt], dist[srt]
        rank = np.arange(len(qi)) - np.searchsorted(qi, qi)
        keep = rank < k
        out_qi.append(qi[keep] + c0)
        out_idx.append(idx[keep])
        out_dist.append(dist[keep])
    return (
        np.concatenate(out_qi),
        np.concatenate(out_idx),
        np.concatenate(out_dist),
    )


def knn_compound_tile(
    p_trans: np.ndarray,
    q_trans: np.ndarray,
    q_rot: np.ndarray,
    p_rot: np.ndarray,
    k: int,
    rot_weight: float,
    trans_weight: float,
    max_radius: float | np.ndarray = np.inf,
):
    """``knn_compound`` without a tree, same contract: every pose whose
    selection distance is within the relative 1e-12 margin of its query's
    kth and within max_radius, from the whole (Q x P) tile.  The
    translation distance, the dot product and the SIMD-arccos selection
    distance use ``knn_compound``'s per-pair arithmetic in the same order,
    so the returned (qi, idx, ldot, et) set equals
    ``knn_compound(build(p_trans), ...)``'s.  Row-major order."""
    assert k >= 1
    rw, tw = float(rot_weight), float(trans_weight)
    pt = np.ascontiguousarray(p_trans, dtype=np.float64)
    pr = np.ascontiguousarray(p_rot, dtype=np.float64)
    qt = np.ascontiguousarray(q_trans, dtype=np.float64)
    qr = np.ascontiguousarray(q_rot, dtype=np.float64)
    if len(pt) == 0 or len(qt) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=np.float64), np.empty(0, dtype=np.float64)
    mr = np.broadcast_to(np.asarray(max_radius, dtype=np.float64), (len(qt),))
    out_qi: list[np.ndarray] = []
    out_idx: list[np.ndarray] = []
    out_ldot: list[np.ndarray] = []
    out_et: list[np.ndarray] = []
    step = max(1, _TILE_CHUNK_PAIRS // len(pt))
    for c0 in range(0, len(qt), step):  # memory-bounding chunk loop
        et = _tile_dist(qt[c0 : c0 + step], pt)
        a = qr[c0 : c0 + step]
        dot = a[:, 0][:, None] * pr[:, 0][None, :]
        for j in range(1, 4):  # quaternion components, not rows
            dot = dot + a[:, j][:, None] * pr[:, j][None, :]
        ldot = np.minimum(1.0, np.abs(dot))
        cd = rw * np.arccos(ldot) + tw * et
        dk = _kth_per_row(cd, k)
        keep = (cd <= mr[c0 : c0 + step, None]) & (
            cd <= (dk * (1.0 + 1e-12) + 1e-15)[:, None]
        )
        qi, idx = np.nonzero(keep)
        out_qi.append(qi + c0)
        out_idx.append(idx)
        out_ldot.append(ldot[qi, idx])
        out_et.append(et[qi, idx])
    return (
        np.concatenate(out_qi),
        np.concatenate(out_idx),
        np.concatenate(out_ldot),
        np.concatenate(out_et),
    )
