"""Workload table, seeded inputs, the timed join and its oracle.

Each workload is one index (built once per set-up) queried by a closed loop
of equally sized batches.  Inputs come from the repo's own generators in
``sparkkd.synth``; the benchmark seed picks the corpus and every batch.

The oracles are NumPy brute force, independent of the Spark plans: an exact
box filter on a uniform grid (a pair within distance ``b`` is within ``b`` on
every axis) narrows the candidates, then every remaining distance is
computed in full.  kNN ties break by id order, as the engines promise.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from sparkkd import cells, engine, kernel, so3engine, synth


@dataclass(frozen=True)
class Workload:
    name: str
    space: str  # "geo" (engine.GeoIndex) or "pose" (so3engine.Se3Index)
    n_corpus: int
    n_queries: int  # per op
    k: int = 0  # kNN neighbours; 0 selects radius_join
    r: float = 0.0
    rot_weight: float = 0.0
    trans_weight: float = 0.0
    # untimed ops on the built index (the first is the oracle-checked one):
    # geo kNN ops still speed up by ~10% from the 2nd to the 3rd op
    warmup_ops: int = 1

    @property
    def layer(self) -> str:
        return "engine" if self.space == "geo" else "so3engine"

    @property
    def kernel_fn(self) -> str:
        """The kernel function every cogroup UDF of this workload calls."""
        if self.space == "pose":
            return "knn_compound"
        return "knn" if self.k else "radius"

    @property
    def max_cell_rows(self) -> int:
        """The index constructors' default cogroup group cap."""
        return 8192 if self.space == "geo" else 16384


WORKLOADS = {
    w.name: w
    for w in (
        # fixed per-call cost dominates: 500 queries against the whole corpus
        Workload("geo_knn_small", "geo", 200_000, 500, k=8, warmup_ops=2),
        # single-phase radius path with the heavy-group split; output-sized
        Workload("geo_radius", "geo", 200_000, 5_000, r=2.0),
        # the paper's space: compound SO(3) x R^3 metric, own orchestration
        Workload(
            "pose_knn", "pose", 200_000, 5_000, k=4, rot_weight=2.0, trans_weight=0.5
        ),
    )
}


# ------------------------------------------------------------------ inputs


def corpus_table(w: Workload, seed: int) -> pa.Table:
    if w.space == "geo":
        return synth.gen_images(w.n_corpus, seed, lite=True)
    return synth.gen_poses(w.n_corpus, seed)


def query_table(w: Workload, seed: int) -> pa.Table:
    if w.space == "geo":
        return synth.gen_queries(w.n_queries, seed)
    return synth.gen_pose_queries(w.n_queries, seed)


def build_index(spark, w: Workload, corpus_df):
    """The set-up under test: the constructor persists and materialises the
    salted corpus."""
    if w.space == "geo":
        return engine.GeoIndex(spark, corpus_df, n_images_hint=w.n_corpus)
    return so3engine.Se3Index(spark, corpus_df, n_poses_hint=w.n_corpus)


def join(index, w: Workload, queries_df):
    """The op under test: one public join call, returning a lazy frame."""
    if w.space == "pose":
        return index.knn_join(
            queries_df, k=w.k, rot_weight=w.rot_weight, trans_weight=w.trans_weight
        )
    if w.k:
        return index.knn_join(queries_df, k=w.k)
    return index.radius_join(queries_df, w.r)


def expected_rows(w: Workload) -> int | None:
    """Result rows every op must return (kNN: k per query), None if the
    count depends on the data."""
    return w.k * w.n_queries if w.k else None


# ----------------------------------------------------------------- oracles


def _id_rank(ids: pa.ChunkedArray) -> np.ndarray:
    order = pc.sort_indices(ids).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    return rank


def _col(t: pa.Table, name: str) -> np.ndarray:
    return t.column(name).to_numpy()


_ACOS_LIBM = np.frompyfunc(math.acos, 1, 1)


class Oracle:
    """Brute-force answers for one corpus."""

    def __init__(self, w: Workload, corpus: pa.Table):
        self.w = w
        self.id_col = "image_id" if w.space == "geo" else "pose_id"
        self.ids = corpus.column(self.id_col).combine_chunks()
        self.tie = _id_rank(self.ids)
        if w.space == "geo":
            lat, lon = cells.phash_to_coords(_col(corpus, "phash"))
            self.p = np.column_stack([lon, lat])  # the index's (x, y)
        else:
            self.rot = np.column_stack([_col(corpus, c) for c in so3engine.QCOLS])
            self.p = np.column_stack([_col(corpus, c) for c in so3engine.TCOLS])
        # uniform grid, ~4 rows per cell on average; rows sorted by cell id,
        # so the cells of a box are contiguous runs along the last axis
        self.lo = self.p.min(axis=0)
        span = np.maximum(self.p.max(axis=0) - self.lo, 1e-9)
        self.cell = float((np.prod(span) * 4 / len(self.p)) ** (1 / self.p.shape[1]))
        self.shape = np.floor(span / self.cell).astype(np.int64) + 1
        c = np.minimum(np.floor((self.p - self.lo) / self.cell).astype(np.int64), self.shape - 1)
        key = np.ravel_multi_index(tuple(c.T), self.shape)
        self.order = np.argsort(key, kind="stable")
        self.keys = key[self.order]

    def _box(self, q: np.ndarray, half: float) -> np.ndarray:
        """Corpus rows within ``half`` of q on every axis (the exact
        distance test follows).  Floor and rounding are monotone, so the
        cells of the slightly widened box hold every such row."""
        if not np.isfinite(half):
            return self.order
        h = half * (1 + 1e-9) + 1e-12
        lo = np.clip(np.floor((q - h - self.lo) / self.cell), 0, self.shape - 1).astype(np.int64)
        hi = np.clip(np.floor((q + h - self.lo) / self.cell), 0, self.shape - 1).astype(np.int64)
        heads = np.stack(
            np.meshgrid(*(np.arange(a, b + 1) for a, b in zip(lo[:-1], hi[:-1])), indexing="ij")
        ).reshape(len(q) - 1, -1)
        tail = np.ones(heads.shape[1], dtype=np.int64)
        start = np.searchsorted(
            self.keys, np.ravel_multi_index((*heads, tail * lo[-1]), self.shape), side="left"
        )
        stop = np.searchsorted(
            self.keys, np.ravel_multi_index((*heads, tail * hi[-1]), self.shape), side="right"
        )
        n = stop - start
        offset = np.repeat(start - np.cumsum(n) + n, n)
        rows = self.order[offset + np.arange(n.sum())]
        return rows[np.all(np.abs(self.p[rows] - q) <= h, axis=1)]

    def _dist(self, qp, qr, qi: np.ndarray, pi: np.ndarray, exact: bool = True):
        """Metric between query rows ``qi`` and corpus rows ``pi``, in the
        engines' operation order (left-associated sums).  ``exact`` takes
        the angle from libm ``acos``; NumPy's SIMD ``arccos`` can differ from
        it by an ulp, so it only serves to discard rows early."""
        d = qp[qi] - self.p[pi]
        if self.w.space == "geo":
            return np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1])
        et = np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1] + d[:, 2] * d[:, 2])
        a, b = qr[qi], self.rot[pi]
        dot = a[:, 0] * b[:, 0]
        dot = dot + a[:, 1] * b[:, 1]
        dot = dot + a[:, 2] * b[:, 2]
        dot = dot + a[:, 3] * b[:, 3]
        ldot = np.minimum(1.0, np.abs(dot))
        ang = _ACOS_LIBM(ldot).astype(np.float64) if exact else np.arccos(ldot)
        return self.w.rot_weight * ang + self.w.trans_weight * et

    def _rows(self, queries: pa.Table, result: pa.Table):
        """``result`` as (query row, corpus row) index arrays; -1 where an id
        is not in the input."""
        qi = pc.index_in(result.column("query_id"), value_set=queries.column("query_id"))
        pi = pc.index_in(result.column(self.id_col), value_set=self.ids)
        return (
            qi.fill_null(-1).to_numpy().astype(np.int64),
            pi.fill_null(-1).to_numpy().astype(np.int64),
        )

    def _bounds(self, qp, qr, queries: pa.Table, result: pa.Table) -> np.ndarray:
        """Per-query upper bound on the kth distance: the farthest of the k
        or more distinct corpus rows ``result`` names for it (whatever dist
        it claims), else inf."""
        bound = np.full(len(qp), np.inf)
        if not result.num_rows:
            return bound
        q, p = self._rows(queries, result)
        ok = (q >= 0) & (p >= 0)
        q, p = np.unique(np.stack([q[ok], p[ok]]), axis=1)
        far = np.full(len(qp), -np.inf)
        np.maximum.at(far, q, self._dist(qp, qr, q, p))
        enough = np.bincount(q, minlength=len(qp)) >= self.w.k
        bound[enough] = far[enough]
        return bound

    def expected(self, queries: pa.Table, result: pa.Table) -> dict[str, np.ndarray]:
        """The exact answer for ``queries`` as arrays (q, p, dist[, rank]) of
        query rows, corpus rows and distances.  ``result`` (the engine's
        answer) only seeds each kNN query's search bound."""
        w = self.w
        if w.space == "geo":
            qp = np.column_stack([_col(queries, "qlon"), _col(queries, "qlat")])
            qr = None
        else:
            qp = np.column_stack([_col(queries, c) for c in so3engine.TCOLS])
            qr = np.column_stack([_col(queries, c) for c in so3engine.QCOLS])
        if not w.k:
            half = np.full(len(qp), w.r)
        else:
            half = self._bounds(qp, qr, queries, result)
            if w.space == "pose":  # the rotation term is >= 0
                half = half / w.trans_weight
        parts = []
        for c0 in range(0, len(qp), 256):  # bounds the candidate-pair arrays
            rows = range(c0, min(c0 + 256, len(qp)))
            if w.space == "geo" and w.k:
                parts += [self._planar_knn(qp, i, self._box(qp[i], half[i])) for i in rows]
                continue
            boxes = [self._box(qp[i], half[i]) for i in rows]
            qi = np.repeat(np.asarray(rows), [len(b) for b in boxes])
            pi = np.concatenate(boxes)
            parts.append(self._radius(qp, qr, qi, pi) if not w.k else self._top_k(qp, qr, qi, pi))
        return {key: np.concatenate([part[key] for part in parts]) for key in parts[0]}

    def _planar_knn(self, qp, i: int, cand: np.ndarray) -> dict[str, np.ndarray]:
        _, top, dist = kernel.brute_force_knn(
            self.p[cand], qp[i : i + 1], self.w.k, tie_key=self.tie[cand]
        )
        n = len(top)
        return {"q": np.full(n, i), "p": cand[top], "dist": dist, "rank": np.arange(1, n + 1)}

    def _radius(self, qp, qr, qi, pi) -> dict[str, np.ndarray]:
        d = self._dist(qp, qr, qi, pi)
        keep = d <= self.w.r
        return {"q": qi[keep], "p": pi[keep], "dist": d[keep]}

    def _top_k(self, qp, qr, qi, pi) -> dict[str, np.ndarray]:
        """Per-query k nearest of the candidate pairs by (dist, id)."""
        k = self.w.k
        fast = self._dist(qp, qr, qi, pi, exact=False)
        srt = np.lexsort((fast, qi))
        qs = qi[srt]
        first = np.searchsorted(qs, qi)
        last = np.searchsorted(qs, qi, side="right") - 1
        kth = fast[srt][np.minimum(first + k - 1, last)]
        near = fast <= kth * (1 + 1e-9) + 1e-12
        qi, pi = qi[near], pi[near]
        d = self._dist(qp, qr, qi, pi)
        srt = np.lexsort((self.tie[pi], d, qi))
        qi, pi, d = qi[srt], pi[srt], d[srt]
        rank = np.arange(len(qi)) - np.searchsorted(qi, qi) + 1
        keep = rank <= k
        return {"q": qi[keep], "p": pi[keep], "dist": d[keep], "rank": rank[keep]}

    def mismatch(self, queries: pa.Table, result: pa.Table) -> str | None:
        """None when ``result`` equals the exact answer row for row (dist
        bit for bit), else a one-line description of the first difference."""
        cols = ["query_id", self.id_col, "dist"] + (["rank"] if self.w.k else [])
        missing = set(cols) - set(result.column_names)
        if missing:
            return f"result lacks columns {sorted(missing)}"
        want = self.expected(queries, result)
        q, p = self._rows(queries, result)
        got = {"q": q, "p": p, "dist": result.column("dist").to_numpy()}
        if self.w.k:
            got["rank"] = result.column("rank").to_numpy()
        if len(q) != len(want["q"]):
            return f"{len(q)} rows, expected {len(want['q'])}"
        sw = np.lexsort((want["p"], want["q"]))
        sg = np.lexsort((got["p"], got["q"]))
        for name in want:
            a, b = got[name][sg], want[name][sw]
            bad = np.flatnonzero(a != b)
            if len(bad):
                j = sw[bad[0]]
                row = {k: v[j].item() for k, v in want.items()}
                return f"{name} differs: expected row {row}, got {a[bad[0]].item()}"
        return None


# ------------------------------------------------------------ kernel rungs


def _median_s(fn, min_s: float = 0.3, min_reps: int = 3) -> float:
    """Median wall seconds of one call of fn over repeated calls."""
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def kernel_rungs(w: Workload, corpus: pa.Table) -> dict[str, float]:
    """Single-threaded, Spark-driver-side rates of the kernel functions the
    workload's cogroup UDFs call, on one group-sized array: the
    ``max_cell_rows`` corpus rows nearest the generators' densest spot
    (the planar hot spot / the pose cluster), which is the group the
    heavy-cell salting produces.  Queries are further corpus rows from the
    same spot; the radius rung takes fewer because every pair is a hit."""
    o = Oracle(w, corpus)
    if w.space == "geo":
        center = np.array([synth.HOT_LON + synth.HOT_W / 2, synth.HOT_LAT + synth.HOT_W / 2])
    else:
        center = np.full(3, 7.0)  # synth's pose-cluster translation mean
    cap = min(w.max_cell_rows, len(o.p) // 2)
    near = np.argsort(((o.p - center) ** 2).sum(axis=1), kind="stable")[: 2 * cap]
    pts_i, q_i = near[0::2], near[1::2]
    nq = 256 if w.kernel_fn == "radius" else 1024
    q_i = q_i[:nq]
    pts, qp = o.p[pts_i], o.p[q_i]
    tree = kernel.build(pts)
    if w.kernel_fn == "knn":
        call = lambda: kernel.knn(tree, qp, w.k, tie_key=o.tie[pts_i])  # noqa: E731
    elif w.kernel_fn == "radius":
        call = lambda: kernel.radius(tree, qp, w.r)  # noqa: E731
    else:
        call = lambda: kernel.knn_compound(  # noqa: E731
            tree, qp, o.rot[q_i], o.rot[pts_i], w.k, w.rot_weight, w.trans_weight,
            tie_key=o.tie[pts_i],
        )
    n_out = len(call()[0])
    call_s = _median_s(call)
    return {
        "kernel.build_rows_per_s": cap / _median_s(lambda: kernel.build(pts)),
        "kernel.queries_per_s": nq / call_s,
        "kernel.result_rows_per_s": n_out / call_s,
    }
