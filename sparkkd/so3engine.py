"""Distributed SO(3) and SE(3) kNN joins over pose tables.

The reference's raison d'être is nearest-neighbor search in rotation /
rigid-motion spaces for motion planning (``/root/reference/README.md:6``;
active test matrix ``test/kdtree_test.cpp:385-417`` runs StaticBuildAndQuery
and dynamic Add/KNN for SO3, SO3Alt, SO3RL, SE3 and weighted SE3).  This
module is the distributed twin of the geo engine (``sparkkd.engine``),
with its SKEW-ADAPTIVE layout.  A kNN query's search is seeded with a
bound >= its kth distance (reference ``src/_kdtree_median.hpp:131-137``):

* **SO(3), two phases**: every query probes its own partition first,
  whose true top-k gives the bound; phase 2 admits the other partitions
  against it through leaf-cell statistics, except for queries whose bound
  is strictly inside their home grid cell (home-edge early exit);
* **SE(3), one pass**: the bound is the query's distance to its
  kth-nearest pose in a fixed corpus sample (below); admission, ONE
  cogroup seeded with the bound and ONE merge window follow.

ADAPTIVE LAYOUT (round-3, after sf2 profiling): pruning statistics live at
LEAF grid cells — a base fine level L everywhere, except inside HOT base
cells (count > max_cell_rows), which are spatially REFINED three levels
deeper (the pose-space twin of geo's hot-cell refinement: the fixture's
rotation cluster is tighter than the base grid, and hash-salting it made
every clustered query fan out to every salt — at 4M poses that was the
whole runtime).  Leaves are then BIN-PACKED into shuffle partitions of at
most max_cell_rows points, grouped under a coarse ancestor so partitions
stay spatially coherent; only a leaf that is still hot after refinement (a
true point mass) falls back to hash salts.  Cogroup/shuffle granularity is
the partition (few, large, coherent => few Arrow/Python round trips —
profiled as the dominant cost of per-cell cogroups), while admission tests
tight leaf bboxes inside admitted partitions.

SO(3) — antipodal R^4 reduction (reference SO3RL space,
``src/_so3rlspace.hpp:36-54``): for unit quaternions the angular metric
``arccos(|a.b|)`` is strictly increasing in ``min(|a-b|, |a+b|)``, so exact
angular kNN over canonicalized points (q ~ -q collapsed to one sign) equals
Euclidean R^4 kNN probed at BOTH +q and -q with the per-point best kept.
The partition grid is over the canonicalized coefficients — the
distributed analogue of the reference's 4-volume radix partition
(``src/_so3space.hpp:594-658``).  Phase-2 extra for the minus probe:
canonicalized corpus points all have ``cw >= 0``, so the minus probe (whose
w coordinate is ``-cw_q <= 0``) is at least ``cw_q`` from EVERY corpus
point — when the phase-1 bound is below that, the whole minus sweep dies on
one scalar compare (and the minus probe's home partition is unoccupied
almost surely, so it contributes no phase-1 kernel work either).

SE(3) — compound space (``src/_spaces.hpp:369-421``): distance is
``rot_weight * angular + trans_weight * L2(translation)``.  The partition
key is a grid over translation; a partition's compound lower bound adds
``trans_weight * dist-to-bbox`` and a rotation-box term.  Rotations span
every leaf, so leaf statistics give only a loose kNN upper bound (up to
``rot_weight * pi/2`` of rotation slack).  The index instead keeps a fixed
corpus SAMPLE, every pose with ``pmod(xxhash64(pose_id), m) = 0`` for
m = max(16, ceil(n / 65,536)): any k corpus poses bound the kth distance.
Per-partition kernels run ``kernel.knn_compound`` — branch-and-bound over
a translation k-d tree — so big partitions stay leaf-log, never dense.

IEEE parity with the DuckDB oracle: the final ranking distance is computed
with term-for-term the same expression the oracle uses —
``arccos(min(1, |qw*pw + qx*px + qy*py + qz*pz|))`` with left-associated
additions (NumPy elementwise adds in the same order) and libm acos — so
hash-exact comparison holds.  Canonicalization sign flips are exact in
IEEE, so |dot(±a, ±b)| is bit-identical to |dot(a, b)|.  SIMD selection
cuts keep a relative 1e-12 margin before libm rescoring, so a 1-ulp
selection tie can never cut a candidate the oracle would rank inside k.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import kernel
from .engine import (
    _check_knn_args,
    _count_bound,
    _pa_np,
    _radius_on_index,
    _register_cache,
    _release_registry,
    _split_heavy_cogroups,
    _tie_rank,
)


def _layout_cache(layout) -> dict:
    """Per-layout runtime cache for driver-side derived objects (salt
    maps, broadcast variables): a build-once index pays createDataFrame/
    broadcast once instead of on every join call."""
    c = getattr(layout, "_runtime_cache", None)
    if c is None:
        c = {}
        object.__setattr__(layout, "_runtime_cache", c)
    return c


def _session_key(spark: SparkSession) -> str:
    """Stable per-context cache key: the SparkContext's ``applicationId``.
    ``id(spark)`` is NOT safe here: a new session object can reuse a
    stopped session's address and the cache would serve broadcasts bound
    to a dead SparkContext.  So there is no fallback — a context whose
    applicationId cannot be read raises."""
    return spark.sparkContext.applicationId


def _cached(layout, spark: SparkSession, name: str, build):
    """``build()`` once per (layout, name, SparkContext).  Only one
    SparkContext runs per Python process, so entries keyed by any other
    applicationId belong to stopped contexts: they are dropped here, on
    the first access under the new id, instead of pinning dead broadcasts
    for the layout's lifetime."""
    c = _layout_cache(layout)
    app = _session_key(spark)
    for k_ in [k_ for k_ in c if k_[1] != app]:
        del c[k_]
    key = (name, app)
    if key not in c:
        c[key] = build()
    return c[key]

SALT_BITS = 12
LVL_SHIFT = 48  # leaf key = (level << LVL_SHIFT) | cell  (cell < 2^(d*10))
CELL_MASK = (np.int64(1) << LVL_SHIFT) - 1
GROUP_SHIFT = 1  # partitions pack under the base level's ancestor this far up
REFINE_STEP = 3  # hot base cells refine this many levels deeper
MAX_LEAF_LEVEL = 10
# SO(3) kNN-phase-2 heavy-group split target, in (candidate rows x
# partition poses) work units, for batches past _KNN_SPLIT_GATE.  Higher
# than the radius default (4M): a radius group emits output proportional
# to its work, so Arrow materialization already dominates small groups,
# while a kNN group emits only ~k rows per candidate — per-unit kernel
# cost is far lower, and only much larger groups amortize what a split
# costs: the whole probed corpus is re-exchanged on (part_key, gsalt) and
# each split group's tree is rebuilt once per sub-group.  Measured (sf2,
# 400k x 4M, k=4): unsplit groups ran 5 s -> 90 s at ~uniform candidate
# counts (per-candidate scan cost varies ~20x with local pose density),
# so the single heaviest task WAS the stage wall; at 1e8 the heaviest
# group splits ~11-way (~8 s worst task).
_KNN_SPLIT_TARGET = 100_000_000
# An SO(3) kNN batch splits only when its heaviest group's work exceeds this
# multiple of the balanced per-core share total_work / defaultParallelism
# (engine._plan_group_splits): a split re-exchanges the whole probed
# corpus (not just the split groups') and rebuilds each split group's
# tree once per sub-group, and a kNN group's output is only ~k rows per
# candidate, so a near-balanced batch loses.  Measured on a 4-core
# x86-64 host, heaviest/share ratios and split -> unsplit times:
# perfbench pose_knn (5,000 queries/op) 1.2-1.3, median op 6.28 ->
# 4.57 s; the sf0.1 se3/so3 kNN rows 1.27 and 0.74, min-of-3 7.39 ->
# 6.58 s and 6.61 -> 5.55 s.  Where splitting won, the heaviest group
# dwarfed a share: sf2 kNN tasks ranged 5 s -> 90 s, and the sf0.1
# se3/so3 batches at parallelism 32 sit at ~10x/~6x.  (SE(3) kNN is one
# pass and runs no planner: see _se3_knn_on_index.)
_KNN_SPLIT_GATE = 2.0

QCOLS = ("qw", "qx", "qy", "qz")
TCOLS = ("tx", "ty", "tz")
CCOLS = ("cw", "cx", "cy", "cz")  # canonicalized quaternion coefficients

# one-shot join intermediates (indexes own per-instance registries)
_ONESHOT_CACHES: list[DataFrame] = []

_PAIR_ANG_EMPTY = pa.table(
    {
        "query_id": pa.array([], pa.string()),
        "pose_id": pa.array([], pa.string()),
        "ang": pa.array([], pa.float64()),
    }
)
_PAIR_DIST_EMPTY = pa.table(
    {
        "query_id": pa.array([], pa.string()),
        "pose_id": pa.array([], pa.string()),
        "dist": pa.array([], pa.float64()),
    }
)


# ------------------------------------------------------------ SQL helpers


def canon_sign_sql() -> str:
    """Sign that makes the first nonzero quaternion coefficient positive
    (q and -q name the same rotation; both engines and NumPy share this
    rule).  Random unit quaternions have qw != 0 a.s.; the chain keeps the
    rule total anyway."""
    return (
        "(CASE WHEN qw > 0 THEN 1.0 WHEN qw < 0 THEN -1.0"
        " WHEN qx > 0 THEN 1.0 WHEN qx < 0 THEN -1.0"
        " WHEN qy > 0 THEN 1.0 WHEN qy < 0 THEN -1.0"
        " WHEN qz >= 0 THEN 1.0 ELSE -1.0 END)"
    )


def canon_sign_np(q: np.ndarray) -> np.ndarray:
    """NumPy twin of canon_sign_sql (q: (n, 4))."""
    s = np.ones(len(q))
    undecided = np.ones(len(q), dtype=bool)
    for j in range(4):
        col = q[:, j]
        neg = undecided & (col < 0)
        s[neg] = -1.0
        undecided &= col == 0
        if j == 3:
            break
    return s


def _axis_idx_sql(expr: str, vmin: float, vspan: float, n: int) -> str:
    return (
        f"least(CAST({n - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(floor((({expr}) - CAST({vmin!r} AS DOUBLE)) / "
        f"CAST({vspan!r} AS DOUBLE) * CAST({float(n)!r} AS DOUBLE)) AS BIGINT)))"
    )


def grid_cell_sql(
    exprs: list[str], bounds: list[tuple[float, float]], level: int
) -> str:
    """d-D grid id over column exprs with per-axis (vmin, vspan) bounds;
    axis 0 is the most significant digit.  The id at level L-1 of a point
    equals the per-axis >>1 coarsening of its id at L (floor(x/2) ==
    floor(floor(x)/2)), so coarse SQL keys agree with _coarsen_nd."""
    n = 1 << level
    parts = [
        _axis_idx_sql(e, vmin, vspan, n) for e, (vmin, vspan) in zip(exprs, bounds)
    ]
    expr = parts[0]
    for p in parts[1:]:
        expr = f"(({expr}) * CAST({n} AS BIGINT) + {p})"
    return expr


# ------------------------------------------------------- layout (adaptive)


@dataclass
class PoseLayout:
    """Skew-adaptive index layout.

    LEAVES: mixed-granularity grid cells — base level everywhere, refined
    REFINE_STEP deeper inside hot base cells — each with count + tight
    data bbox (the pruning statistics).  Leaf arrays are ordered by
    partition, contiguous per pid.

    PARTITIONS: leaves bin-packed (under a coarse common ancestor, so
    partitions are spatially coherent) into shuffle units of at most
    max_cell_rows points; a still-hot single leaf (point mass) hash-salts.
    The cogroup key is (pid << SALT_BITS) | salt."""

    leaf_keys: np.ndarray  # (C,) encoded (lvl << LVL_SHIFT) | cell
    leaf_counts: np.ndarray  # (C,)
    leaf_lo: np.ndarray  # (C, d)
    leaf_hi: np.ndarray  # (C, d)
    leaf_pid: np.ndarray  # (C,) partition ordinal (contiguous runs)
    p_start: np.ndarray  # (P+1,) leaf-array offsets per pid
    p_counts: np.ndarray  # (P,)
    p_salt_n: np.ndarray  # (P,)
    p_lo: np.ndarray  # (P, d) union of member leaf bboxes
    p_hi: np.ndarray  # (P, d)
    level: int  # base grid level
    # refinement DESCENT: [(from_level, to_level, hot cells at from_level)]
    # — stage i's hot cells nest inside stage i-1's (grids nest), so a
    # point's leaf level is decided by the DEEPEST stage that contains it
    stages: list[tuple[int, int, np.ndarray]]
    # optional EXTRA per-leaf statistics bboxes over non-grid columns
    # (SE(3): canonicalized rotation coefficients — the reference's
    # compound distToRegion sums per-sub-space bounds,
    # src/_spaces.hpp:369-375, src/_compoundspace.hpp:60-88)
    leaf_slo: np.ndarray | None = None  # (C, ds)
    leaf_shi: np.ndarray | None = None
    p_slo: np.ndarray | None = None  # (P, ds) union over member leaves
    p_shi: np.ndarray | None = None
    # ADMISSION GROUPS — the third pruning level (reference: the ordered
    # volume traversal descends the tree instead of sweeping all leaves,
    # src/_so3space.hpp:401-423).  Partitions are already ordered by
    # (coarse ancestor, key), so contiguous pid RANGES are spatially
    # coherent; grouping ~sqrt(P) of them under a union box keeps the
    # dense per-chunk admission matrix at (chunk, G) with G ~ sqrt(P) —
    # bounded at any corpus size — and expands only admitted groups to
    # their member partitions (paired tests, never dense).
    g_start: np.ndarray | None = None  # (G+1,) pid offsets per group
    g_counts: np.ndarray | None = None  # (G,) total poses per group
    g_lo: np.ndarray | None = None  # (G, d) union of member p boxes
    g_hi: np.ndarray | None = None
    g_slo: np.ndarray | None = None  # (G, ds) union rotation stats boxes
    g_shi: np.ndarray | None = None

    @property
    def n_partitions(self) -> int:
        return len(self.p_counts)

    @property
    def total(self) -> int:
        return int(self.leaf_counts.sum())

    @property
    def refine_level(self) -> int | None:
        """First-stage refined level (compat view of the descent)."""
        return self.stages[0][1] if self.stages else None

    @property
    def hot_fine(self) -> np.ndarray:
        """First-stage hot base cells (compat view of the descent)."""
        return (
            self.stages[0][2] if self.stages else np.empty(0, np.int64)
        )

    @property
    def max_leaf_level(self) -> int:
        return self.stages[-1][1] if self.stages else self.level


def _collect_cell_stats(df: DataFrame, cell_expr: str, dim_cols: list[str]):
    aggs = [F.count("*").alias("cnt")]
    for c in dim_cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    pdf = (
        df.groupBy(F.expr(cell_expr).alias("key")).agg(*aggs).toPandas()
    ).sort_values("key")
    return (
        pdf["key"].to_numpy(np.int64),
        pdf["cnt"].to_numpy(np.int64),
        pdf[[f"lo_{c}" for c in dim_cols]].to_numpy(np.float64),
        pdf[[f"hi_{c}" for c in dim_cols]].to_numpy(np.float64),
    )


def _build_groups(p_lo, p_hi, p_counts, p_anc):
    """Pack the (ancestor-ordered) partitions into contiguous ADMISSION
    GROUPS of target size ~sqrt(P), breaking early at coarse-ancestor
    boundaries once a group holds >= target/2 members so group boxes
    follow the spatial hierarchy where it exists.  G ~ sqrt(P) balances
    the two admission stages: the dense (chunk, G) group matrix and the
    per-admitted-group paired expansion of <= target member partitions.

    Returns (g_start, g_counts, g_lo, g_hi)."""
    P = len(p_counts)
    s = max(8, int(np.ceil(np.sqrt(max(P, 1)))))
    g_of = np.empty(P, np.int64)
    g, size = 0, 0
    for pid in range(P):  # driver-side O(P), same class as the bin-pack
        if size >= s or (
            size >= s // 2 and pid > 0 and p_anc[pid] != p_anc[pid - 1]
        ):
            g += 1
            size = 0
        g_of[pid] = g
        size += 1
    G = (g + 1) if P else 0
    g_start = np.searchsorted(g_of, np.arange(G + 1)).astype(np.int64)
    if P == 0:
        return (
            g_start, np.empty(0, np.int64),
            p_lo[:0], p_hi[:0],
        )
    g_counts = np.add.reduceat(p_counts, g_start[:-1])
    g_lo = np.minimum.reduceat(p_lo, g_start[:-1], axis=0)
    g_hi = np.maximum.reduceat(p_hi, g_start[:-1], axis=0)
    return g_start, g_counts, g_lo, g_hi


def _greedy_pack(counts: np.ndarray, anc: np.ndarray, cap: int) -> np.ndarray:
    """Greedy capacity bin-pack of ordered leaves into partitions,
    breaking at ancestor-group changes: each partition is the MAXIMAL
    prefix of remaining leaves in its ancestor segment whose count sum
    stays <= cap (a partition always absorbs its first leaf, so an
    oversized leaf sits alone).  One searchsorted per PARTITION over the
    prefix-sum array — O(P log C) driver work instead of the per-leaf
    Python loop (VERDICT r4 minor (c)); assignment is identical to that
    loop by construction and by `test_greedy_pack_matches_scalar_loop`."""
    C = len(counts)
    pids = np.empty(C, np.int64)
    if C == 0:
        return pids
    cum = np.concatenate([[0], np.cumsum(counts, dtype=np.int64)])
    seg = np.concatenate(
        [[0], np.flatnonzero(anc[1:] != anc[:-1]) + 1, [C]]
    ).astype(np.int64)
    cur = -1
    for s, e in zip(seg[:-1], seg[1:]):
        i = int(s)
        e = int(e)
        while i < e:
            cur += 1
            j = int(np.searchsorted(cum, cum[i] + cap, side="right")) - 1
            j = min(max(j, i + 1), e)
            pids[i:j] = cur
            i = j
    return pids


def build_layout(
    df: DataFrame,
    exprs: list[str],
    bounds: list[tuple[float, float]],
    dim_cols: list[str],
    dims: int,
    level: int,
    max_cell_rows: int,
    stat_cols: list[str] | None = None,
) -> PoseLayout:
    """One base stats pass, then MULTI-STEP refinement: any cell still
    hotter than max_cell_rows gets a further scoped stats pass REFINE_STEP
    levels deeper, repeating until no leaf is hot or MAX_LEAF_LEVEL — the
    d-generic distributed analogue of the reference tree descending as
    deep as the data demands (per-level bbox halving,
    ``src/_l2space.hpp:92-103``; round-3 stopped after ONE step, so a
    cluster tighter than the first refined width fell back to hash
    salts).  Grid cells NEST across levels (2^L divides 2^(L+s) per
    axis), so each scoped pass filters on a single cell-membership
    predicate.  Driver-side bin-packing then builds the partitions.

    stat_cols: extra columns whose per-leaf min/max are carried as
    side statistics (leaf_slo/leaf_shi) without participating in the
    grid — SE(3) passes the canonicalized rotation coefficients here so
    admission can sum per-sub-space lower bounds (reference compound
    distToRegion, ``src/_compoundspace.hpp:60-88``)."""
    all_cols = list(dim_cols) + list(stat_cols or [])
    nd = len(dim_cols)
    stages: list[tuple[int, int, np.ndarray]] = []
    final_keys: list[np.ndarray] = []
    final_counts: list[np.ndarray] = []
    final_lo: list[np.ndarray] = []
    final_hi: list[np.ndarray] = []
    cur_level = level
    cur_expr = grid_cell_sql(exprs, bounds, level)
    kc, cc, loc, hic = _collect_cell_stats(df, cur_expr, all_cols)
    while True:
        hot_mask = cc > max_cell_rows
        if not hot_mask.any() or cur_level >= MAX_LEAF_LEVEL:
            final_keys.append((np.int64(cur_level) << LVL_SHIFT) + kc)
            final_counts.append(cc)
            final_lo.append(loc)
            final_hi.append(hic)
            break
        keep = ~hot_mask
        final_keys.append((np.int64(cur_level) << LVL_SHIFT) + kc[keep])
        final_counts.append(cc[keep])
        final_lo.append(loc[keep])
        final_hi.append(hic[keep])
        hot_cells = np.sort(kc[hot_mask])
        next_level = min(cur_level + REFINE_STEP, MAX_LEAF_LEVEL)
        stages.append((cur_level, next_level, hot_cells))
        # nesting makes this single membership test exact: every row of a
        # hot cell's children lies in that hot cell
        hot_list = ", ".join(str(int(c)) for c in hot_cells)
        scoped = df.filter(F.expr(f"({cur_expr}) IN ({hot_list})"))
        cur_level = next_level
        cur_expr = grid_cell_sql(exprs, bounds, next_level)
        kc, cc, loc, hic = _collect_cell_stats(scoped, cur_expr, all_cols)
    leaf_keys = np.concatenate(final_keys)
    leaf_counts = np.concatenate(final_counts)
    leaf_lo = np.concatenate(final_lo)
    leaf_hi = np.concatenate(final_hi)

    # order leaves by (coarse ancestor, key) and greedily pack partitions
    coarse = max(0, level - GROUP_SHIFT)
    lvls = (leaf_keys >> LVL_SHIFT).astype(np.int64)
    cells = (leaf_keys & CELL_MASK).astype(np.int64)
    anc = np.empty(len(leaf_keys), np.int64)
    for lv in np.unique(lvls):
        m = lvls == lv
        anc[m] = _coarsen_nd(cells[m], int(lv), coarse, dims)
    order = np.lexsort((leaf_keys, anc))
    leaf_keys = leaf_keys[order]
    leaf_counts = leaf_counts[order]
    leaf_lo = leaf_lo[order]
    leaf_hi = leaf_hi[order]
    anc = anc[order]
    pids = _greedy_pack(leaf_counts, anc, max_cell_rows)
    P = int(pids[-1]) + 1 if len(pids) else 0
    p_start = np.searchsorted(pids, np.arange(P + 1))
    p_counts = np.add.reduceat(leaf_counts, p_start[:-1])
    p_lo = np.minimum.reduceat(leaf_lo, p_start[:-1], axis=0)
    p_hi = np.maximum.reduceat(leaf_hi, p_start[:-1], axis=0)
    p_salt_n = np.clip(
        -(-p_counts // max_cell_rows), 1, 1 << SALT_BITS
    ).astype(np.int64)
    # admission groups over the ancestor-ordered partitions (boxes built
    # on the FULL stats width so the slice below splits them identically)
    p_anc = anc[p_start[:-1]]
    g_start, g_counts, g_lo, g_hi = _build_groups(p_lo, p_hi, p_counts, p_anc)
    leaf_slo = leaf_shi = p_slo = p_shi = g_slo = g_shi = None
    if stat_cols:
        leaf_slo, leaf_shi = leaf_lo[:, nd:], leaf_hi[:, nd:]
        p_slo, p_shi = p_lo[:, nd:], p_hi[:, nd:]
        g_slo, g_shi = g_lo[:, nd:], g_hi[:, nd:]
        leaf_lo, leaf_hi = leaf_lo[:, :nd], leaf_hi[:, :nd]
        p_lo, p_hi = p_lo[:, :nd], p_hi[:, :nd]
        g_lo, g_hi = g_lo[:, :nd], g_hi[:, :nd]
    return PoseLayout(
        leaf_keys=leaf_keys,
        leaf_counts=leaf_counts,
        leaf_lo=leaf_lo,
        leaf_hi=leaf_hi,
        leaf_pid=pids,
        p_start=p_start,
        p_counts=p_counts,
        p_salt_n=p_salt_n,
        p_lo=p_lo,
        p_hi=p_hi,
        level=level,
        stages=stages,
        leaf_slo=leaf_slo,
        leaf_shi=leaf_shi,
        p_slo=p_slo,
        p_shi=p_shi,
        g_start=g_start,
        g_counts=g_counts,
        g_lo=g_lo,
        g_hi=g_hi,
        g_slo=g_slo,
        g_shi=g_shi,
    )


def leaf_key_sql(
    exprs: list[str], bounds: list[tuple[float, float]], layout: PoseLayout
) -> str:
    """SQL for a point's encoded leaf key, descending the layout's full
    refinement chain.  Grid cells NEST across levels, so a stage-i hot
    cell lies inside a stage-(i-1) hot cell — a FLAT CASE testing the
    DEEPEST stage first therefore lands each point at exactly the level
    the descent assigned, with one membership test per stage (each
    IN-list is rendered once; Spark's OptimizeIn turns lists past the
    conversion threshold into InSet hash probes, so long hot lists cost
    O(1) per row, not a compare chain)."""
    base = grid_cell_sql(exprs, bounds, layout.level)
    base_key = f"((CAST({layout.level} AS BIGINT) << {LVL_SHIFT}) + ({base}))"
    if not layout.stages:
        return base_key
    whens = []
    for from_lvl, to_lvl, hot_cells in reversed(layout.stages):
        cell = grid_cell_sql(exprs, bounds, from_lvl)
        fine = grid_cell_sql(exprs, bounds, to_lvl)
        fine_key = f"((CAST({to_lvl} AS BIGINT) << {LVL_SHIFT}) + ({fine}))"
        hot_list = ", ".join(str(int(c)) for c in hot_cells)
        whens.append(f"WHEN ({cell}) IN ({hot_list}) THEN {fine_key}")
    return f"(CASE {' '.join(whens)} ELSE {base_key} END)"


def _finite_pred(cols) -> str:
    """SQL predicate: every column finite.  Queries with a NaN/inf
    coordinate have no defined neighbors — drop them up front (one codegen
    filter) so an inf can't land in a clamped grid cell and emit rows."""
    return " AND ".join(
        f"(NOT isnan({c}) AND abs({c}) != double('infinity'))" for c in cols
    )


def _salted(df: DataFrame, spark: SparkSession, layout: PoseLayout,
            leaf_expr: str, id_col: str) -> DataFrame:
    leaf_map = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "key": layout.leaf_keys,
                    "pid": layout.leaf_pid,
                    "salt_n": layout.p_salt_n[layout.leaf_pid],
                }
            ),
            schema="key bigint, pid bigint, salt_n bigint",  # empty-corpus safe
        )
    )
    return (
        df.withColumn("key", F.expr(leaf_expr))
        .join(leaf_map, "key")
        .withColumn(
            "part_key",
            (F.col("pid") * (1 << SALT_BITS))
            + F.pmod(F.xxhash64(id_col), F.col("salt_n")),
        )
    )


def _leaf_salts(spark: SparkSession, layout: PoseLayout) -> DataFrame:
    """(leaf key, part_key) exploded over the leaf's partition's salts —
    probes join this so a probed partition probes ALL of its salts.
    Cached per (layout, session): one createDataFrame per index lifetime."""

    def build():
        reps = layout.p_salt_n[layout.leaf_pid]
        key = np.repeat(layout.leaf_keys, reps)
        pid = np.repeat(layout.leaf_pid, reps)
        off = np.concatenate([[0], np.cumsum(reps)])[: len(reps)]
        salt = np.arange(reps.sum(), dtype=np.int64) - np.repeat(off, reps)
        return F.broadcast(
            spark.createDataFrame(
                pd.DataFrame({"key": key, "part_key": (pid << SALT_BITS) + salt}),
                schema="key bigint, part_key bigint",  # empty-corpus safe
            )
        )

    return _cached(layout, spark, "leaf_salts", build)


def _pid_salts(spark: SparkSession, layout: PoseLayout) -> DataFrame:
    """(pid, part_key) for phase-2 candidate emission (cached per layout +
    session, see _leaf_salts)."""

    def build():
        reps = layout.p_salt_n
        pid = np.repeat(np.arange(layout.n_partitions, dtype=np.int64), reps)
        off = np.concatenate([[0], np.cumsum(reps)])[: len(reps)]
        salt = np.arange(reps.sum(), dtype=np.int64) - np.repeat(off, reps)
        return F.broadcast(
            spark.createDataFrame(
                pd.DataFrame({"pid": pid, "part_key": (pid << SALT_BITS) + salt}),
                schema="pid bigint, part_key bigint",  # empty-corpus safe
            )
        )

    return _cached(layout, spark, "pid_salts", build)


def _trans_bounds(poses: DataFrame) -> list[tuple[float, float]]:
    """Per-axis (min, max) of the translation columns.  An EMPTY corpus
    yields NULL aggregates; substitute a unit box — the layout built over
    it is empty, so every join over it is correctly empty."""
    b = poses.agg(
        *[F.min(c).alias(f"lo_{c}") for c in TCOLS],
        *[F.max(c).alias(f"hi_{c}") for c in TCOLS],
    ).first()
    out = []
    for c in TCOLS:
        lo, hi = b[f"lo_{c}"], b[f"hi_{c}"]
        if lo is None:
            lo, hi = 0.0, 1.0
        out.append((float(lo), float(hi)))
    return out


def _leaf_pid(spark: SparkSession, layout: PoseLayout) -> DataFrame:
    """(leaf key, pid) for the kNN home-partition lookups (cached per
    layout + session, see _leaf_salts)."""
    return _cached(
        layout, spark, "leaf_pid",
        lambda: F.broadcast(
            spark.createDataFrame(
                pd.DataFrame({"key": layout.leaf_keys, "pid": layout.leaf_pid}),
                schema="key bigint, pid bigint",
            )
        ),
    )


# --------------------------------------------------- pruning geometry (d-D)


def _bbox_min_dist(p: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """(Q, C) min L2 distances from points (Q, d) to boxes (C, d)."""
    dmin2 = np.zeros((len(p), len(lo)))
    for j in range(p.shape[1]):
        pj = p[:, j][:, None]
        m = np.maximum(
            np.maximum(lo[:, j][None, :] - pj, pj - hi[:, j][None, :]), 0.0
        )
        dmin2 += m * m
    return np.sqrt(dmin2)


def _bbox_min_max_dist(p: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """(Q, C) min and max L2 distances from points (Q, d) to boxes (C, d)."""
    dmin2 = np.zeros((len(p), len(lo)))
    dmax2 = np.zeros((len(p), len(lo)))
    for j in range(p.shape[1]):
        pj = p[:, j][:, None]
        a = lo[:, j][None, :] - pj
        b = pj - hi[:, j][None, :]
        m = np.maximum(np.maximum(a, b), 0.0)
        dmin2 += m * m
        mx = np.maximum(np.abs(a), np.abs(b))
        dmax2 += mx * mx
    return np.sqrt(dmin2), np.sqrt(dmax2)


def _coarsen_nd(cell: np.ndarray, level: int, coarse: int, dims: int) -> np.ndarray:
    """Ancestor ids at `coarse` of d-D grid cells at `level` (axis 0 most
    significant, the grid_cell_sql layout)."""
    assert level >= coarse
    n = np.int64(1 << level)
    s = level - coarse
    nc = np.int64(1 << coarse)
    rem = cell.astype(np.int64, copy=True)
    idxs = []
    for _ in range(dims):
        idxs.append(rem % n)
        rem = rem // n
    out = np.zeros(len(cell), np.int64)
    for ix in reversed(idxs):  # axis 0 first
        out = out * nc + (ix >> s)
    return out


# per-process admission telemetry (driver-visible when called directly in
# tests; per-worker otherwise).  dense_cells counts the group-matrix cells
# swept, pair_tests the paired partition/leaf bound evaluations — the
# scaling test asserts both grow with admitted GROUPS, never with P.
ADMIT_STATS = {"dense_cells": 0, "pair_tests": 0}

# Below this partition count the (chunk, P) dense sweep is cheaper than
# group-sweep + paired expansion (measured: SO(3) sf1, P ~ 1k, the group
# level costs ~7% steady-join wall — BENCH/BASELINE.md §I); the group
# level exists for P >> 10k where dense admission memory grows linearly.
# Tests pin this to 0 to force the 3-level path at small P.
DENSE_P_MAX = int(os.environ.get("SPARKKD_DENSE_P_MAX", "2048"))


def _f32_outward(lo: np.ndarray, hi: np.ndarray):
    """float32 copies of stats bboxes padded OUTWARD (lo rounded toward
    -inf, hi toward +inf).  Every admission use is a superset test
    (distance LOWER bounds shrink, upper bounds grow on a bigger box), so
    halving the layout broadcast bytes costs at most a few extra
    candidates — never a lost pair.  NumPy promotes the f32 bounds back to
    f64 inside the distance kernels, so no mixed-precision surprises."""
    lo32 = lo.astype(np.float32)
    hi32 = hi.astype(np.float32)
    lo32 = np.where(lo32 > lo, np.nextafter(lo32, np.float32(-np.inf)), lo32)
    hi32 = np.where(hi32 < hi, np.nextafter(hi32, np.float32(np.inf)), hi32)
    return lo32, hi32


def _f32_pair(lo, hi):
    """_f32_outward that passes None through (optional stats boxes)."""
    if lo is None:
        return None, None
    return _f32_outward(lo, hi)


# Per-executor budget for the LEAF-level admission boxes.  Leaf arrays
# are the one layout component that grows O(N/16384) with the corpus
# (~3.4 GB f32 at 10^12 poses); partition- and group-level boxes stay
# small (P ~ N/2^18, G ~ sqrt(P)).  Leaf-level admission is an OPTIONAL
# superset refinement — dropping it admits a few more (query, partition)
# pairs but changes no result — so above the budget we ship None and the
# admission functions skip the leaf pass, keeping the broadcast bounded
# at any corpus size.
_MAX_LEAF_BCAST_BYTES = int(
    os.environ.get("SPARKKD_MAX_LEAF_BCAST_BYTES", str(256 << 20))
)


def _f32_leaf_outward(lo, hi):
    """f32 outward leaf boxes, or (None, None) over the broadcast budget
    (see _MAX_LEAF_BCAST_BYTES)."""
    lo32, hi32 = _f32_outward(lo, hi)
    if lo32.nbytes + hi32.nbytes > _MAX_LEAF_BCAST_BYTES:
        return None, None
    return lo32, hi32


def _f32_leaf_pack(layout):
    """SE(3) leaf boxes (translation + rotation) under one shared budget:
    all four arrays or all Nones, so the leaf pass is skipped atomically."""
    lo32, hi32 = _f32_outward(layout.leaf_lo, layout.leaf_hi)
    slo32, shi32 = _f32_pair(layout.leaf_slo, layout.leaf_shi)
    total = lo32.nbytes + hi32.nbytes + sum(
        a.nbytes for a in (slo32, shi32) if a is not None
    )
    if total > _MAX_LEAF_BCAST_BYTES:
        return None, None, None, None
    return lo32, hi32, slo32, shi32


def _expand_ranges(qi: np.ndarray, gi: np.ndarray, starts: np.ndarray):
    """Pair-expand admitted (query, range) pairs to their members:
    range gi spans starts[gi]..starts[gi+1].  Returns (qq, mem, off)
    where off are per-pair offsets for reduceat-style reductions."""
    counts = (starts[gi + 1] - starts[gi]).astype(np.int64)
    total = int(counts.sum())
    off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, off
    mem = np.repeat(starts[gi], counts) + (
        np.arange(total, dtype=np.int64) - np.repeat(off[:-1], counts)
    )
    qq = np.repeat(qi, counts)
    return qq, mem, off


def _partition_candidates(
    P: np.ndarray,
    bound: np.ndarray,
    layout_arrays,
    home_pid: np.ndarray | None = None,
    scale: float = 1.0,
):
    """Admit (query, PARTITION) pairs through THREE levels — dense only at
    the top: (1) a (chunk, G) sweep of group union boxes (G ~ sqrt(P)),
    (2) paired tests of the admitted groups' member partitions, (3) paired
    tests of admitted partitions' member leaves (any-pass).  Per-chunk
    work is O(chunk * G + admitted-group members) — independent of P for
    selective queries (the reference's ordered volume traversal one level
    up, ``src/_so3space.hpp:401-423``).  `home_pid` partitions are skipped
    (fully probed in phase 1).  Returns (qi, pid) arrays."""
    leaf_lo, leaf_hi, p_lo, p_hi, p_start, g_lo, g_hi, g_start = layout_arrays
    z = np.empty(0, dtype=np.int64)
    if p_lo.shape[0] <= DENSE_P_MAX:
        # small P: the dense (chunk, P) sweep is cheaper than group
        # machinery and its memory is bounded by DENSE_P_MAX by definition
        dmin_p = scale * _bbox_min_dist(P, p_lo, p_hi)
        ADMIT_STATS["dense_cells"] += dmin_p.size
        qi_a, pi_a = np.nonzero(dmin_p <= bound[:, None])
        if home_pid is not None and len(qi_a) > 0:
            keep = pi_a != home_pid[qi_a]
            qi_a, pi_a = qi_a[keep], pi_a[keep]
    else:
        dmin_g = scale * _bbox_min_dist(P, g_lo, g_hi)
        ADMIT_STATS["dense_cells"] += dmin_g.size
        qi_g, gi_g = np.nonzero(dmin_g <= bound[:, None])
        if len(qi_g) == 0:
            return z, z
        qq, pi_a, _ = _expand_ranges(qi_g, gi_g, g_start)
        ADMIT_STATS["pair_tests"] += len(qq)
        ok = (
            scale * _bbox_min_dist_pairs(P[qq], p_lo[pi_a], p_hi[pi_a])
            <= bound[qq]
        )
        if home_pid is not None:
            ok &= pi_a != home_pid[qq]
        qi_a, pi_a = qq[ok], pi_a[ok]
    if len(qi_a) == 0 or leaf_lo is None:
        # leaf arrays over the broadcast budget: partition-level
        # admission alone is already exact (leaf pass is a refinement)
        return qi_a, pi_a

    def test(qq_, li):
        ADMIT_STATS["pair_tests"] += len(qq_)
        return (
            scale * _bbox_min_dist_pairs(P[qq_], leaf_lo[li], leaf_hi[li])
            <= bound[qq_]
        )

    ok = _leaf_any_pass(qi_a, pi_a, p_start, test)
    return qi_a[ok], pi_a[ok]


def _rot_lb(R: np.ndarray, rlo: np.ndarray, rhi: np.ndarray) -> np.ndarray:
    """(Q, C) LOWER bounds on the angular distance arccos(|q.p|) from
    canonicalized query quaternions R (Q, 4) to any canonicalized unit
    quaternion inside boxes (rlo, rhi).

    For unit quaternions ang = 2*arcsin(cmin/2) with
    cmin = min(|q - p|, |q + p|); the Euclidean distance from q (and from
    -q) to the box is a contraction of the member distances, so
    cl = min(d(q, box), d(-q, box)) <= cmin and the arcsin map (monotone)
    gives a true angular lower bound.  Shrunk by a relative margin so SIMD
    arcsin ulps can never overshoot the exact libm value."""
    cl = np.minimum(_bbox_min_dist(R, rlo, rhi), _bbox_min_dist(-R, rlo, rhi))
    lb = 2.0 * np.arcsin(np.clip(cl * 0.5, 0.0, 1.0))
    return np.maximum(lb * (1.0 - 1e-12) - 1e-15, 0.0)


def _rot_ub(R: np.ndarray, rlo: np.ndarray, rhi: np.ndarray) -> np.ndarray:
    """(Q, C) UPPER bounds on the angular distance to the FARTHEST point
    of each box: cmin <= min over signs of the max box-corner distance,
    and ang <= pi/2 always.  Padded up by a relative margin."""
    _, dmax_p = _bbox_min_max_dist(R, rlo, rhi)
    _, dmax_n = _bbox_min_max_dist(-R, rlo, rhi)
    cm = np.minimum(dmax_p, dmax_n)
    ub = 2.0 * np.arcsin(np.clip(cm * 0.5, 0.0, 1.0))
    return np.minimum(ub * (1.0 + 1e-12) + 1e-15, np.pi / 2.0)


def _bbox_min_dist_pairs(
    p: np.ndarray, lo: np.ndarray, hi: np.ndarray
) -> np.ndarray:
    """(m,) min L2 distances for PAIRED points/boxes (all (m, d))."""
    g = np.maximum(np.maximum(lo - p, p - hi), 0.0)
    return np.sqrt((g * g).sum(axis=1))


def _rot_lb_pairs(
    R: np.ndarray, rlo: np.ndarray, rhi: np.ndarray
) -> np.ndarray:
    """Paired-row variant of :func:`_rot_lb` (all inputs (m, 4))."""
    cl = np.minimum(
        _bbox_min_dist_pairs(R, rlo, rhi), _bbox_min_dist_pairs(-R, rlo, rhi)
    )
    lb = 2.0 * np.arcsin(np.clip(cl * 0.5, 0.0, 1.0))
    return np.maximum(lb * (1.0 - 1e-12) - 1e-15, 0.0)


def _leaf_any_pass(qi_a, pi_a, p_start, test_fn):
    """Vectorized leaf-level refinement for admitted (query, partition)
    pairs: expand each pair to its partition's member leaves with repeat,
    run the PAIRED bound test once over all rows, reduce any() per pair
    with bitwise_or.reduceat — no Python loop over partitions (the
    per-partition loop this replaces measured ~0.8 ms/query at 4k
    partitions; leaves-per-partition is small, so the expansion is a few
    rows per admitted pair)."""
    qq, li, off = _expand_ranges(qi_a, pi_a, p_start)
    if len(qq) == 0:
        return np.zeros(len(qi_a), dtype=bool)
    ok = test_fn(qq, li)
    return np.bitwise_or.reduceat(ok, off[:-1])


def _se3_partition_candidates(
    T: np.ndarray,
    R: np.ndarray,
    bound: np.ndarray,
    layout_arrays,
    tw: float,
    rw: float,
):
    """Compound-space twin of :func:`_partition_candidates`: admit a
    (query, partition) pair when the SUM of per-sub-space lower bounds
    ``tw * dist_trans(bbox) + rw * rot_lb(rot bbox)`` passes at the
    partition level AND at >= 1 member leaf (reference compound
    distToRegion = sum of sub-space bounds, ``src/_spaces.hpp:369-375``,
    ``src/_compoundspace.hpp:60-88``).  R must be canonicalized.

    The rotation term is evaluated LAZILY on translation-admitted pairs
    only — a nonnegative extra term can only REMOVE admissions, so the
    result is identical while corpora whose rotations span every cell
    (rot_lb ~ 0 everywhere) pay near-zero extra admission cost.  When the
    layout carries no rotation statistics this degrades to the round-3
    translation-only bound.

    Same three-level shape as :func:`_partition_candidates`: dense ONLY
    over the (chunk, G) group matrix, paired expansion below it."""
    (leaf_lo, leaf_hi, leaf_rlo, leaf_rhi,
     p_lo, p_hi, p_rlo, p_rhi, p_start,
     g_lo, g_hi, g_rlo, g_rhi, g_start) = layout_arrays
    use_rot = rw > 0.0 and p_rlo is not None
    z = np.empty(0, dtype=np.int64)
    if p_lo.shape[0] <= DENSE_P_MAX:
        # small P: dense (chunk, P) translation sweep, lazy rot on hits
        dmin_p = tw * _bbox_min_dist(T, p_lo, p_hi)
        ADMIT_STATS["dense_cells"] += dmin_p.size
        qi_a, pi_a = np.nonzero(dmin_p <= bound[:, None])
        if use_rot and len(qi_a) > 0:
            extra = rw * _rot_lb_pairs(R[qi_a], p_rlo[pi_a], p_rhi[pi_a])
            keep = dmin_p[qi_a, pi_a] + extra <= bound[qi_a]
            qi_a, pi_a = qi_a[keep], pi_a[keep]
    else:
        dmin_g = tw * _bbox_min_dist(T, g_lo, g_hi)
        ADMIT_STATS["dense_cells"] += dmin_g.size
        qi_g, gi_g = np.nonzero(dmin_g <= bound[:, None])
        if use_rot and len(qi_g) > 0:
            extra = rw * _rot_lb_pairs(R[qi_g], g_rlo[gi_g], g_rhi[gi_g])
            keep = dmin_g[qi_g, gi_g] + extra <= bound[qi_g]
            qi_g, gi_g = qi_g[keep], gi_g[keep]
        if len(qi_g) == 0:
            return z, z
        qq, pi_a, _ = _expand_ranges(qi_g, gi_g, g_start)
        ADMIT_STATS["pair_tests"] += len(qq)
        d = tw * _bbox_min_dist_pairs(T[qq], p_lo[pi_a], p_hi[pi_a])
        ok = d <= bound[qq]
        if use_rot:
            idx = np.nonzero(ok)[0]
            if len(idx) > 0:
                extra = rw * _rot_lb_pairs(
                    R[qq[idx]], p_rlo[pi_a[idx]], p_rhi[pi_a[idx]]
                )
                bad = d[idx] + extra > bound[qq[idx]]
                ok[idx[bad]] = False
        qi_a, pi_a = qq[ok], pi_a[ok]
    if len(qi_a) == 0 or leaf_lo is None:
        # leaf arrays over the broadcast budget: partition-level
        # admission alone is already exact (leaf pass is a refinement)
        return qi_a, pi_a

    def test(qq_, li):
        ADMIT_STATS["pair_tests"] += len(qq_)
        d_ = tw * _bbox_min_dist_pairs(T[qq_], leaf_lo[li], leaf_hi[li])
        if use_rot and leaf_rlo is not None:
            d_ = d_ + rw * _rot_lb_pairs(R[qq_], leaf_rlo[li], leaf_rhi[li])
        return d_ <= bound[qq_]

    ok = _leaf_any_pass(qi_a, pi_a, p_start, test)
    return qi_a[ok], pi_a[ok]


def _grid_home_edge(
    P: np.ndarray, vmin: np.ndarray, vspan: np.ndarray, n_rows: np.ndarray
) -> np.ndarray:
    """Distance from each point to the nearest boundary of its own grid
    cell AT ITS OWN LEAF LEVEL (n_rows: per-row cells-per-axis), minus a
    float-rounding margin: every point of every OTHER leaf is at least
    this far away, so a query whose bound is strictly below it skips
    phase 2 entirely."""
    n = n_rows.astype(np.float64)[:, None]
    idx = np.clip(np.floor((P - vmin) / vspan * n), 0, n - 1)
    w = vspan / n
    lo = vmin + idx * w
    edge = np.minimum(P - lo, lo + w - P).min(axis=1)
    return edge - 1e-9 * max(float(np.max(vspan)), 1e-30)


import math as _math

# np.arccos is NumPy's SIMD implementation and differs from libm's acos by
# 1 ulp on ~1/3 of inputs; DuckDB (and CPython's math.acos) call libm.  The
# FINAL reported metric must be bit-identical to the oracle, so it goes
# through libm — only over the small candidate set, never the hot loop.
_ACOS_LIBM = np.frompyfunc(_math.acos, 1, 1)


def acos_exact(x: np.ndarray) -> np.ndarray:
    return _ACOS_LIBM(x).astype(np.float64)


def _angular_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """acos(min(1, |dot|)) with the ORACLE's exact semantics: left-
    associated adds ((w+x)+y)+z and libm acos — bit-identical to the SQL
    rendering in both Spark-side NumPy and DuckDB."""
    dot = a[:, 0] * b[:, 0]
    dot = dot + a[:, 1] * b[:, 1]
    dot = dot + a[:, 2] * b[:, 2]
    dot = dot + a[:, 3] * b[:, 3]
    return acos_exact(np.minimum(1.0, np.abs(dot)))


def level_for_poses(n_rows: int, dims: int, target: int = 192, max_level: int = 6) -> int:
    """Per-axis log2 resolution of the BASE leaf grid so occupied cells
    hold O(target) rows; hot cells refine deeper, partitions pack
    coarser."""
    import math

    if n_rows <= target:
        return 1
    lvl = int(math.floor(math.log2(n_rows / target) / dims)) + 1
    return max(1, min(max_level, lvl))


# ------------------------------------------------------------ SO(3) join


_B4 = [(-1.0, 2.0)] * 4


def _pose_lineage(index) -> DataFrame:
    """Per-partition lineage metrics (north_rule: cell id, row counts,
    bounds per partition) — driver-side from the layout, no Spark job:
    (pid, n_leaves, n_rows, salt_n, per-dim bbox)."""
    lay = index.layout
    d = lay.p_lo.shape[1]
    pdf = pd.DataFrame(
        {
            "pid": np.arange(lay.n_partitions, dtype=np.int64),
            "n_leaves": np.diff(lay.p_start).astype(np.int64),
            "n_rows": lay.p_counts,
            "salt_n": lay.p_salt_n,
            **{f"lo_{j}": lay.p_lo[:, j] for j in range(d)},
            **{f"hi_{j}": lay.p_hi[:, j] for j in range(d)},
        }
    )
    return index.spark.createDataFrame(pdf)


def _persist_by_part_key(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Persist a salted corpus PRE-PARTITIONED on part_key, so repeat query
    batches shuffle only the candidate side.  The caller's first action
    over it materializes it."""
    return corpus.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "part_key"
    ).persist()


class So3Index:
    """Build-once / query-many SO(3) index (the reference's KDTree contract
    applied to the rotation space): canonicalized, refinement-salted corpus
    persisted PRE-PARTITIONED on part_key so repeat query batches shuffle
    only the candidate side (same layout trick as engine.GeoIndex)."""

    def __init__(
        self,
        spark: SparkSession,
        poses: DataFrame,
        level: int | None = None,
        max_cell_rows: int = 16384,
        n_poses_hint: int | None = None,
    ):
        self.spark = spark
        corpus, self.layout = _so3_corpus(
            spark, poses, level, max_cell_rows, n_poses_hint
        )
        self.level = self.layout.level
        self.corpus = _persist_by_part_key(spark, corpus)
        self.corpus.count()  # materialize
        self._caches: list[DataFrame] = []

    def knn_join(
        self, queries: DataFrame, k: int = 8, max_radius: float = float("inf")
    ) -> DataFrame:
        k, max_radius = _check_knn_args(k, max_radius)
        return _so3_knn_on_index(
            self.spark, self.corpus, self.layout, queries, k,
            max_radius=max_radius, cache_registry=self._caches,
        )

    lineage = _pose_lineage

    def radius_join(self, queries: DataFrame, r: float) -> DataFrame:
        return _so3_radius(
            self.spark, self.corpus, self.layout, queries, r, self._caches
        )

    def unpersist(self) -> None:
        _release_registry(self._caches)
        self.corpus.unpersist()


def _so3_corpus(spark, poses, level, max_cell_rows, n_poses_hint):
    """The SO(3) corpus builder (So3Index and the one-shot joins):
    canonicalize, build the adaptive leaf layout (level None: derived from
    the row count), salt.  Returns (corpus (pose_id, cw..cz, part_key),
    layout)."""
    if level is None:
        n = n_poses_hint if n_poses_hint is not None else poses.count()
        level = level_for_poses(n, dims=4)
    sign = canon_sign_sql()
    canon = poses.select(
        "pose_id",
        *QCOLS,  # grid exprs read the raw coefficients via the sign
        *[(F.expr(f"{sign} * {c}")).alias(f"c{c[1]}") for c in QCOLS],
    )
    layout = build_layout(
        canon, list(CCOLS), _B4, list(CCOLS), 4, level, max_cell_rows
    )
    corpus = _salted(
        canon, spark, layout, leaf_key_sql(list(CCOLS), _B4, layout), "pose_id"
    ).select("pose_id", *CCOLS, "part_key")
    return corpus, layout


def _so3_queries(spark: SparkSession, queries: DataFrame) -> DataFrame:
    """Finite query rotations, canonicalized: (query_id, cw, cx, cy, cz),
    spread over the shuffle partitions."""
    sign = canon_sign_sql()
    return (
        queries.filter(_finite_pred(QCOLS))
        .select(
            "query_id",
            *[F.expr(f"{sign} * {c}").alias(f"c{c[1]}") for c in QCOLS],
        )
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    )


def _padded_chord(ang: float) -> float:
    """The Euclidean chord sqrt(2 - 2 cos ang) between canonicalized
    quaternions at angular distance ang, padded up: a superset seed for
    admission and tree pruning (the EXACT libm angle decides, so the pad
    only adds work)."""
    return float(np.sqrt(max(2.0 - 2.0 * np.cos(ang), 0.0)) * (1.0 + 1e-12) + 1e-15)


def so3_knn_join(
    spark: SparkSession,
    poses: DataFrame,
    queries: DataFrame,
    k: int = 8,
    level: int | None = None,
    max_cell_rows: int = 16384,
    n_poses_hint: int | None = None,
    max_radius: float = float("inf"),
) -> DataFrame:
    """Exact angular kNN join over quaternion columns (qw, qx, qy, qz):
    for every query pose, its k nearest corpus poses by
    ``arccos(|q . p|)``, ties by pose_id.  Returns
    (query_id, pose_id, ang, rank).

    Plan: canonicalize -> adaptive leaf grid (hot cells refined) packed
    into partitions -> phase-1 HOME-partition probe at both +q and -q
    (true kth bound) -> phase-2 partition admission by member-leaf bboxes
    within the bound -> per-partition 4-D k-d kernels inside cogroups ->
    min per (query, pose) to dedupe antipodal double-hits -> window top-k.
    Reference: SO3 build/query ``src/_so3space.hpp:594-658``, ordered
    volume traversal with early exit ``src/_so3space.hpp:401-423``, test
    matrix ``test/kdtree_test.cpp:385-417``.

    One-shot convenience over :class:`So3Index` (kept unpersisted: the
    corpus is consumed once, exactly like engine.knn_join vs GeoIndex).
    """
    k, max_radius = _check_knn_args(k, max_radius)
    corpus, layout = _so3_corpus(spark, poses, level, max_cell_rows, n_poses_hint)
    return _so3_knn_on_index(spark, corpus, layout, queries, k, max_radius=max_radius)


def _so3_knn_on_index(
    spark: SparkSession,
    corpus: DataFrame,
    layout: PoseLayout,
    queries: DataFrame,
    k: int,
    max_radius: float = float("inf"),
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    if cache_registry is None:
        cache_registry = _ONESHOT_CACHES
    _release_registry(cache_registry)
    mr = float(max_radius)
    # chord-space seed for tree pruning (padded superset); the EXACT libm
    # angle filters inside the kernels, so the pad only adds work and the
    # phase-1 cnt/bound are computed over exactly the radius-admitted rows
    chord_pad = _padded_chord(mr) if np.isfinite(mr) else float("inf")
    ccols = list(CCOLS)
    qc = _so3_queries(spark, queries)
    pos_leaf = leaf_key_sql(ccols, _B4, layout)
    neg_leaf = leaf_key_sql([f"(- {c})" for c in ccols], _B4, layout)
    leaf_salts = _leaf_salts(spark, layout)
    leaf_pid = _leaf_pid(spark, layout)

    # ---- phase 1: probe each probe-point's HOME partition (all salts) ---
    probes = (
        qc.withColumn("sgn", F.lit(1.0)).withColumn("key", F.expr(pos_leaf))
    ).unionByName(
        qc.withColumn("sgn", F.lit(-1.0)).withColumn("key", F.expr(neg_leaf))
    )
    p1_cand = probes.join(leaf_salts, "key").select(
        "query_id", *ccols, "sgn", "part_key"
    )

    p1_empty = pa.table(
        {
            "query_id": pa.array([], pa.string()),
            "pose_id": pa.array([], pa.string()),
            "ang": pa.array([], pa.float64()),
            "eu": pa.array([], pa.float64()),
            **{c: pa.array([], pa.float64()) for c in ccols},
        }
    )

    def p1_group(left: pa.Table, right: pa.Table) -> pa.Table:
        # Arrow-native kernel (guide §4.2): inputs stay Arrow — pose_id /
        # query_id strings never become Python objects; outputs are
        # take()/array() calls
        if left.num_rows == 0 or right.num_rows == 0:
            return p1_empty
        P = np.column_stack([_pa_np(right, c) for c in ccols])
        ids = right.column("pose_id")
        tie = _tie_rank(ids)
        tree = kernel.build(P)
        C4 = np.column_stack([_pa_np(left, c) for c in ccols])
        QP = C4 * _pa_np(left, "sgn")[:, None]
        qi, idx, eu = kernel.knn(tree, QP, k, tie_key=tie, max_radius=chord_pad)
        ang = _angular_np(QP[qi], P[idx])
        if np.isfinite(mr):
            keep = ang <= mr  # exact libm cut; chord pad only added work
            qi, idx, ang, eu = qi[keep], idx[keep], ang[keep], eu[keep]
        # DEDUPE (query, pose): when BOTH antipodal probes of a query land
        # in this partition (reachable at qw == ±0.0 — the canonical cell
        # of -0.0 equals +0.0's — or any tiny corpus packed into one
        # partition), the same pose appears once per probe.  Without this,
        # rank/cnt/eumax downstream count duplicates: the top-k window
        # could keep a duplicate and drop the true kth neighbor, and the
        # phase-2 bound could undershoot the kth-DISTINCT distance and
        # prune partitions holding true neighbors.  Keep the min-eu row —
        # min(|q-p|, |q+p|) is exactly chord(ang), so the kept eu stays a
        # true upper bound per pose and eumax a true kth bound.  ang is
        # bit-identical across probes (|dot(±q, p)| is sign-exact in IEEE).
        if len(qi) > 0:
            qcode = (
                left.column("query_id")
                .combine_chunks()
                .dictionary_encode()
                .indices.to_numpy(zero_copy_only=False)
            )
            pairk = qcode[qi].astype(np.int64) * np.int64(right.num_rows) + idx
            o = np.lexsort((eu, pairk))
            ks = pairk[o]
            firsts = np.ones(len(o), dtype=bool)
            firsts[1:] = ks[1:] != ks[:-1]
            sel = np.sort(o[firsts])
            qi, idx, ang, eu = qi[sel], idx[sel], ang[sel], eu[sel]
        return pa.table(
            {
                "query_id": pc.take(left.column("query_id"), pa.array(qi)),
                "pose_id": pc.take(ids, pa.array(idx)),
                "ang": pa.array(ang),
                "eu": pa.array(eu),
                **{c: pa.array(C4[qi, j]) for j, c in enumerate(ccols)},
            }
        )

    p1 = (
        p1_cand.groupby("part_key")
        .cogroup(corpus.groupby("part_key"))
        .applyInArrow(
            p1_group,
            schema="query_id string, pose_id string, ang double, eu double,"
            " cw double, cx double, cy double, cz double",
        )
    )
    w = Window.partitionBy("query_id").orderBy("ang", "pose_id")
    wq = Window.partitionBy("query_id")
    p1 = _register_cache(p1, cache_registry)
    # cache the windowed top-k too: bound_rows (job A) and untouched/
    # touched (job B) all consume it — without this, job B re-ran the
    # p1 window merge once per branch
    p1_topk = _register_cache(
        p1.withColumn("rank", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(wq))
        .filter(F.col("rank") <= k),
        cache_registry,
    )

    # ---- phase 2: bound rows, early exits, partition admission ----------
    # The kth row's OWN eu is a valid phase-2 bound: eu >= chord(ang) for
    # every row (min over signs), and any pose with ang < ang_k has
    # min-chord chord(ang) <= chord(ang_k) <= eu_k, so the sign achieving
    # the min is admitted.  This is TIGHTER than the old max(eu)-over-
    # window bound (eu is not monotone in ang when only one probe saw the
    # pose) and drops one window pass per call (round-6).
    bound_rows = (
        p1_topk.filter(F.col("rank") == F.least(F.lit(k), F.col("cnt")))
        .select(
            "query_id", *ccols,
            F.least(
                F.when(F.col("cnt") >= k, F.col("eu"))
                .otherwise(F.lit(float("inf"))),
                F.lit(chord_pad),
            ).alias("bound"),
        )
    )
    # occupied leaf keys, driver-built (leaf_keys are unique by
    # construction — no distinct exchange) and cached per layout
    occ = _cached(
        layout, spark, "occ_keys",
        lambda: F.broadcast(
            spark.createDataFrame(
                pd.DataFrame({"key": layout.leaf_keys}), schema="key bigint"
            )
        ),
    )
    qk = qc.withColumn("kp", F.expr(pos_leaf)).withColumn("kn", F.expr(neg_leaf))
    absent = (
        qk.join(F.broadcast(occ.withColumnRenamed("key", "kp")), "kp", "left_anti")
        .join(F.broadcast(occ.withColumnRenamed("key", "kn")), "kn", "left_anti")
        .select("query_id", *ccols, F.lit(chord_pad).alias("bound"))
    )
    if np.isfinite(mr):
        # with a finite radius a query can ALSO vanish from p1 because all
        # home-partition poses are out of radius — recover every query with
        # at least one OCCUPIED home (either probe) that produced no p1 row
        either = (
            qk.join(F.broadcast(occ.withColumnRenamed("key", "kp")), "kp", "left_semi")
            .unionByName(
                qk.join(
                    F.broadcast(occ.withColumnRenamed("key", "kn")), "kn", "left_semi"
                )
            )
            .distinct()
        )
        emptied = (
            either.join(
                F.broadcast(p1_topk.select("query_id").distinct()),
                "query_id", "left_anti",
            )
            .select("query_id", *ccols, F.lit(chord_pad).alias("bound"))
        )
        absent = absent.unionByName(emptied)
    # home pids (-1 when unoccupied) + leaf keys (level decides edge width)
    q_b = (
        bound_rows.unionByName(absent)
        .withColumn("kp", F.expr(pos_leaf))
        .withColumn("kn", F.expr(neg_leaf))
        .join(
            leaf_pid.withColumnRenamed("key", "kp").withColumnRenamed("pid", "kp_pid"),
            "kp", "left",
        )
        .join(
            leaf_pid.withColumnRenamed("key", "kn").withColumnRenamed("pid", "kn_pid"),
            "kn", "left",
        )
        .fillna({"kp_pid": -1, "kn_pid": -1})
    )

    p2_cand = _register_cache(
        _so3_admission(spark, layout, q_b, k, home=True), cache_registry
    )
    # ONE Spark job: the split planner's count-collect fills the p1
    # cache (upstream) + p2_cand cache, yields the probed part_keys as an
    # InSet pushdown AND splits a critical-path cogroup query-side
    # (measured at sf2: per-task kernel time varied 5 s -> 90 s at
    # ~uniform candidate counts, so ONE task was the stage wall)
    cand_g, corp_probe, gcols = _split_heavy_cogroups(
        spark, p2_cand, corpus, _pose_group_rows(layout),
        split_target=_KNN_SPLIT_TARGET, gate=_KNN_SPLIT_GATE,
    )

    def p2_group(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _PAIR_ANG_EMPTY
        P = np.column_stack([_pa_np(right, c) for c in ccols])
        ids = right.column("pose_id")
        tie = _tie_rank(ids)
        tree = kernel.build(P)
        QP = np.column_stack(
            [_pa_np(left, c) for c in ("pw", "px", "py", "pz")]
        )
        qi, idx, _ = kernel.knn(tree, QP, k, tie_key=tie, max_radius=chord_pad)
        ang = _angular_np(QP[qi], P[idx])
        if np.isfinite(mr):
            keep = ang <= mr
            qi, idx, ang = qi[keep], idx[keep], ang[keep]
        return pa.table(
            {
                "query_id": pc.take(left.column("query_id"), pa.array(qi)),
                "pose_id": pc.take(ids, pa.array(idx)),
                "ang": pa.array(ang),
            }
        )

    p2 = (
        cand_g.groupby(*gcols)
        .cogroup(corp_probe.groupby(*gcols))
        .applyInArrow(p2_group, schema="query_id string, pose_id string, ang double")
    )

    # re-rank ONLY queries phase 2 touched; a phase-2 probe may re-hit a
    # pose phase 1 saw from the other sign, so dedupe by min ang first
    affected = F.broadcast(p2_cand.select("query_id").distinct())
    untouched = p1_topk.join(affected, "query_id", "left_anti").select(
        "query_id", "pose_id", "ang", F.col("rank").cast("int")
    )
    touched = (
        p1_topk.join(affected, "query_id", "left_semi")
        .select("query_id", "pose_id", "ang")
        .unionByName(p2)
        .groupBy("query_id", "pose_id")
        .agg(F.min("ang").alias("ang"))
    )
    reranked = (
        touched.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "pose_id", "ang", F.col("rank").cast("int"))
    )
    return untouched.unionByName(reranked)


def _so3_admission(
    spark: SparkSession,
    layout: PoseLayout,
    frame: DataFrame,
    k: int | None = None,
    home: bool = False,
) -> DataFrame:
    """The SO(3) admission generator, shared by kNN phase 2 and radius:
    frame (query_id, cw, cx, cy, cz, bound [, kp, kp_pid, kn_pid]) ->
    candidate rows (query_id, pw, px, py, pz, part_key) per admitted
    (signed probe, partition salt): both probes +q and -q admit partitions
    within the chord-space bound (_partition_candidates).  kNN phase 2
    passes ``home=True``: each probe's home partition (kp_pid / kn_pid,
    -1 when unoccupied) was fully probed in phase 1 and is skipped, and
    the +q home-edge exit applies.  Rows without a finite bound fall back
    to a count-bound over k (radius bounds are always finite)."""
    ccols = list(CCOLS)
    bc = _cached(
        layout, spark, "so3knn_bc",
        lambda: spark.sparkContext.broadcast(
            (
                *_f32_leaf_outward(layout.leaf_lo, layout.leaf_hi),
                *_f32_outward(layout.p_lo, layout.p_hi), layout.p_start,
                layout.g_counts,
                *_f32_outward(layout.g_lo, layout.g_hi), layout.g_start,
            )
        ),
    )

    def gen(batches):
        (lo, hi, p_lo, p_hi, p_start,
         g_counts, g_lo, g_hi, g_start) = bc.value
        G = len(g_counts)
        la = (lo, hi, p_lo, p_hi, p_start, g_lo, g_hi, g_start)
        vmin = np.full(4, -1.0)
        vspan = np.full(4, 2.0)
        for rb in batches:
            if rb.num_rows == 0 or G == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            qid_arr = tbl.column("query_id").chunk(0)
            C4 = np.column_stack([_pa_np(tbl, c) for c in ccols])
            given = _pa_np(tbl, "bound")
            if home:
                kp = tbl.column("kp").to_numpy(zero_copy_only=False)
                kp_pid = tbl.column("kp_pid").to_numpy(zero_copy_only=False)
                kn_pid = tbl.column("kn_pid").to_numpy(zero_copy_only=False)
                n_leaf = (np.int64(1) << (kp >> LVL_SHIFT)).astype(np.int64)
            # chunk on the GROUP matrix — (chunk, G) stays ~64 MB however
            # large the corpus (G ~ sqrt(P), not P)
            chunk = max(256, 8_000_000 // max(G, 1))
            for c0 in range(0, rb.num_rows, chunk):
                sl = slice(c0, min(c0 + chunk, rb.num_rows))
                P4 = C4[sl]
                b = given[sl].copy()
                nb = np.nonzero(~np.isfinite(b))[0]
                if len(nb) > 0:
                    # statistics-only fallback at GROUP granularity: the
                    # union-box dmax still upper-bounds every member, so
                    # walking groups by dmax until g_counts cover k stays
                    # a valid (looser) kth bound — and the dense sweep is
                    # (nb, G), never (nb, leaves)
                    dmax = [
                        _bbox_min_max_dist(s * P4[nb], g_lo, g_hi)[1]
                        for s in (1.0, -1.0)
                    ]
                    b[nb] = np.minimum(
                        _count_bound(dmax[0], g_counts, k),
                        _count_bound(dmax[1], g_counts, k),
                    )
                for sgn in (1.0, -1.0):
                    if sgn < 0:
                        # canonical corpus points all have cw >= 0: the
                        # minus probe is >= cw_q from every point
                        alive = ~(b < P4[:, 0])
                    elif home:
                        # home-edge exit against the query's OWN leaf cell
                        # (its level encodes the width — refined leaves
                        # test tighter)
                        alive = ~(b < _grid_home_edge(P4, vmin, vspan, n_leaf[sl]))
                    else:
                        alive = np.ones(len(P4), dtype=bool)
                    rows = np.nonzero(alive)[0]
                    if len(rows) == 0:
                        continue
                    qi, pid = _partition_candidates(
                        sgn * P4[rows], b[rows], la,
                        home_pid=(kp_pid if sgn > 0 else kn_pid)[sl][rows]
                        if home else None,
                    )
                    if len(qi) == 0:
                        continue
                    pr = sgn * P4[rows[qi]]
                    yield pa.RecordBatch.from_pydict(
                        {
                            "query_id": pc.take(
                                qid_arr, pa.array(rows[qi] + c0)
                            ),
                            "pw": pa.array(pr[:, 0]),
                            "px": pa.array(pr[:, 1]),
                            "py": pa.array(pr[:, 2]),
                            "pz": pa.array(pr[:, 3]),
                            "pid": pa.array(pid),
                        }
                    )

    return (
        frame.mapInArrow(
            gen,
            schema="query_id string, pw double, px double, py double,"
            " pz double, pid long",
        )
        .join(_pid_salts(spark, layout), "pid")
        .select("query_id", "pw", "px", "py", "pz", "part_key")
    )


def so3_radius_join(
    spark: SparkSession,
    poses: DataFrame,
    queries: DataFrame,
    r: float,
    level: int | None = None,
    max_cell_rows: int = 16384,
    n_poses_hint: int | None = None,
) -> DataFrame:
    """All (query, pose) pairs with angular distance
    ``arccos(|q.p|) <= r`` — reference Q3 (kNN entry with finite
    maxRadius, ``src/_kdtree_median.hpp:131-137``) on the rotation space.
    Returns (query_id, pose_id, ang).

    The fixed radius r maps to a EUCLIDEAN chord bound
    ``sqrt(2 - 2 cos r)`` on the canonicalized R^4 coordinates (the
    angular metric is strictly increasing in the antipodal-min chord), so
    admission and the per-partition kernel run entirely in chord space —
    no phase-1 probe needed; both antipodal probes admit partitions whose
    member leaf bboxes come within the (slightly padded) chord, and the
    EXACT libm angle filters the final pairs, so the float padding can
    only add work, never wrong rows.  One-shot convenience over
    :class:`So3Index.radius_join`."""
    corpus, layout = _so3_corpus(spark, poses, level, max_cell_rows, n_poses_hint)
    return _so3_radius(spark, corpus, layout, queries, r)


def _pose_group_rows(layout: PoseLayout):
    """Corpus poses per pose cogroup key for the shared split planner
    (engine._split_heavy_cogroups).  part_key is (pid, salt): a salted
    partition's poses divide across its salt_n keys (ceil) — the full
    p_counts overestimated work by up to salt_n."""

    def rows(keys: np.ndarray) -> np.ndarray:
        pid = keys >> SALT_BITS
        return -(-layout.p_counts[pid] // np.maximum(layout.p_salt_n[pid], 1))

    return rows


def _so3_radius(
    spark: SparkSession,
    corpus: DataFrame,
    layout: PoseLayout,
    queries: DataFrame,
    r: float,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """SO(3) radius join over a salted corpus: the SO(3) admission at the
    padded chord of r, a chord scan per cogroup, the exact angle cut."""
    qc = _so3_queries(spark, queries)
    hits = _radius_on_index(
        spark, r,
        lambda r: _so3_admission(
            spark, layout, qc.withColumn("bound", F.lit(_padded_chord(r)))
        ),
        corpus, _pose_group_rows(layout), _make_so3_radius_group,
        "query_id string, pose_id string, ang double",
        _ONESHOT_CACHES if cache_registry is None else cache_registry,
    )
    # |dot(+-q, p)| is bit-identical, so both probes report the SAME ang
    # for a double-hit pose: a plain distinct dedupes exactly
    return hits.distinct()


def _make_so3_radius_group(r: float):
    """SO(3) radius cogroup kernel: a k-d radius scan at the padded chord
    of r over the group's canonical poses, then the exact libm angle."""
    ccols = list(CCOLS)
    chord = _padded_chord(r)

    def radius_group(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _PAIR_ANG_EMPTY
        P = np.column_stack([_pa_np(right, c) for c in ccols])
        ids = right.column("pose_id")
        tree = kernel.build(P)
        QP = np.column_stack(
            [_pa_np(left, c) for c in ("pw", "px", "py", "pz")]
        )
        qi, idx, _ = kernel.radius(tree, QP, chord)
        ang = _angular_np(QP[qi], P[idx])
        keep = ang <= r  # EXACT libm angle decides; chord pad only added work
        return pa.table(
            {
                "query_id": pc.take(left.column("query_id"), pa.array(qi[keep])),
                "pose_id": pc.take(ids, pa.array(idx[keep])),
                "ang": pa.array(ang[keep]),
            }
        )

    return radius_group


# ------------------------------------------------------------ SE(3) join


def _se3_layout(poses, b3, level, max_cell_rows):
    """Translation-grid layout carrying per-leaf CANONICAL-rotation bboxes
    as side statistics (stat_cols), so SE(3) admission can sum the
    per-sub-space lower bounds (reference compound distToRegion,
    ``src/_compoundspace.hpp:60-88``) instead of the round-3
    translation-only bound."""
    sign = canon_sign_sql()
    pc = poses.select(
        "*", *[(F.expr(f"{sign} * {c}")).alias(f"c{c[1]}") for c in QCOLS]
    )
    return build_layout(
        pc, list(TCOLS), b3, list(TCOLS), 3, level, max_cell_rows,
        stat_cols=list(CCOLS),
    )


class Se3Index:
    """Build-once / query-many SE(3) index: refinement-salted corpus
    persisted PRE-PARTITIONED on the translation-grid part_key (same
    layout as GeoIndex/So3Index) — repeat batches shuffle only the
    candidate side — plus a fixed corpus sample (_se3_sample) that bounds
    every kNN query's kth distance."""

    def __init__(
        self,
        spark: SparkSession,
        poses: DataFrame,
        level: int | None = None,
        max_cell_rows: int = 16384,
        n_poses_hint: int | None = None,
    ):
        self.spark = spark
        corpus, self.layout = _se3_corpus(
            spark, poses, level, max_cell_rows, n_poses_hint
        )
        self.level = self.layout.level
        self.corpus = _persist_by_part_key(spark, corpus)
        # collecting the sample is the action that materializes the corpus
        self.sample = _se3_sample(self.corpus, self.layout.total)
        self._caches: list[DataFrame] = []

    def knn_join(
        self,
        queries: DataFrame,
        k: int = 8,
        rot_weight: float = 1.0,
        trans_weight: float = 1.0,
    ) -> DataFrame:
        k, _ = _check_knn_args(k)
        return _se3_knn_on_index(
            self.spark, self.corpus, self.layout, self.sample, queries, k,
            rot_weight, trans_weight,
        )

    lineage = _pose_lineage

    def radius_join(
        self,
        queries: DataFrame,
        r: float,
        rot_weight: float = 1.0,
        trans_weight: float = 1.0,
    ) -> DataFrame:
        return _se3_radius(
            self.spark, self.corpus, self.layout, queries, r,
            rot_weight, trans_weight, self._caches,
        )

    def unpersist(self) -> None:
        _release_registry(self._caches)
        self.corpus.unpersist()


def _se3_corpus(spark, poses, level, max_cell_rows, n_poses_hint):
    """The SE(3) corpus builder (Se3Index and the one-shot joins): data-
    derived translation bounds, the adaptive translation-grid layout
    (level None: derived from the row count), salt.  Returns (corpus
    (pose_id, qw..qz, tx..tz, part_key), layout)."""
    if level is None:
        n = n_poses_hint if n_poses_hint is not None else poses.count()
        level = level_for_poses(n, dims=3)
    b3 = [(lo, max(hi - lo, 1e-9)) for lo, hi in _trans_bounds(poses)]
    layout = _se3_layout(poses, b3, level, max_cell_rows)
    leaf_expr = leaf_key_sql(list(TCOLS), b3, layout)
    corpus = _salted(poses, spark, layout, leaf_expr, "pose_id").select(
        "pose_id", *QCOLS, *TCOLS, "part_key"
    )
    return corpus, layout


def _se3_sample(corpus: DataFrame, n: int) -> np.ndarray:
    """The kNN bound sample (S, 7: rotation, translation), in one job:
    poses with pmod(xxhash64(pose_id), m) = 0, m = max(16, ceil(n /
    65,536)).  On 200k poses x 5,000 queries, 1/8, 1/16 and 1/32 took
    0.74, 0.55 and 0.39 s to bound and sent 46k, 60k and 81k rows into
    the merge window (single thread)."""
    m = max(16, -(-n // 65_536))
    t = (
        corpus.filter(F.pmod(F.xxhash64("pose_id"), F.lit(m)) == 0)
        .select(*QCOLS, *TCOLS)
        .toArrow()
    )
    return np.column_stack([t.column(c).to_numpy() for c in (*QCOLS, *TCOLS)])


def _se3_queries(spark: SparkSession, queries: DataFrame) -> DataFrame:
    """Finite query poses (query_id, qw..qz, tx..tz), spread over the
    shuffle partitions."""
    return (
        queries.filter(_finite_pred(list(QCOLS) + list(TCOLS)))
        .select("query_id", *QCOLS, *TCOLS)
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    )


def _sample_kth_bound(sample_tree, sample_rot, T, R, k, rw, tw) -> np.ndarray:
    """Per-query compound distance to the kth-nearest sample pose (inf if
    the sample holds fewer than k), padded like knn_compound's phase A
    for its SIMD arccos."""
    out = np.full(len(T), np.inf)
    qi, _, ldot, et = kernel.knn_compound(sample_tree, T, R, sample_rot, k, rw, tw)
    if len(qi) == 0:
        return out
    d = rw * np.arccos(ldot) + tw * et  # knn_compound's selection distance
    first = np.searchsorted(qi, np.arange(len(T)))
    cnt = np.diff(np.append(first, len(qi)))
    ok = np.nonzero(cnt >= k)[0]
    out[ok] = d[first[ok] + k - 1] * (1.0 + 1e-12) + 1e-15
    return out


def _se3_admission(
    spark: SparkSession,
    layout: PoseLayout,
    frame: DataFrame,
    rw: float,
    tw: float,
    k: int | None = None,
    sample: np.ndarray | None = None,
) -> DataFrame:
    """The SE(3) admission generator, shared by kNN and radius: frame
    (query_id, qw..qz, tx..tz, bound) -> candidate rows (query_id, qw..qz,
    tx..tz, bound, part_key) per admitted (query, partition salt), by the
    rotation-aware compound lower bound (_se3_partition_candidates).
    Radius passes the padded r.  kNN passes k and the index's corpus
    ``sample``: each query is bounded by its kth-nearest sample pose
    (_sample_kth_bound), or, while the sample holds fewer than k poses,
    by a count-bound over the admission groups."""
    rot_diam = rw * (np.pi / 2.0)
    bc = _cached(
        layout, spark, "se3knn_bc",
        lambda: spark.sparkContext.broadcast(
            (
                *_f32_leaf_pack(layout),
                *_f32_outward(layout.p_lo, layout.p_hi),
                *_f32_pair(layout.p_slo, layout.p_shi),
                layout.p_start,
                layout.g_counts,
                *_f32_outward(layout.g_lo, layout.g_hi),
                *_f32_pair(layout.g_slo, layout.g_shi),
                layout.g_start,
            )
        ),
    )
    if k is not None:
        # the sample tree is built once per (layout, session), driver-side
        sbc = _cached(
            layout, spark, "se3_sample_bc",
            lambda: spark.sparkContext.broadcast(
                (kernel.build(sample[:, 4:]), sample[:, :4])
            ),
        )

    def gen(batches):
        (lo, hi, slo, shi,
         p_lo, p_hi, p_slo, p_shi, p_start,
         g_counts, g_lo, g_hi, g_slo, g_shi, g_start) = bc.value
        G = len(g_counts)
        la = (lo, hi, slo, shi, p_lo, p_hi, p_slo, p_shi, p_start,
              g_lo, g_hi, g_slo, g_shi, g_start)
        if k is not None:
            s_tree, s_rot = sbc.value
        for rb in batches:
            if rb.num_rows == 0 or G == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            qid_arr = tbl.column("query_id").chunk(0)
            Qraw = np.column_stack([_pa_np(tbl, c) for c in QCOLS])
            T = np.column_stack([_pa_np(tbl, c) for c in TCOLS])
            QR = Qraw * canon_sign_np(Qraw)[:, None]
            given = _pa_np(tbl, "bound")
            # chunk on the GROUP matrix (partition + leaf stages are
            # pair-expanded — never dense)
            chunk = max(256, 8_000_000 // max(G, 1))
            for c0 in range(0, rb.num_rows, chunk):
                sl = slice(c0, min(c0 + chunk, rb.num_rows))
                P3 = T[sl]
                b = given[sl].copy()
                if k is not None:
                    b = np.minimum(
                        b, _sample_kth_bound(s_tree, s_rot, P3, QR[sl], k, rw, tw)
                    )
                nb = np.nonzero(~np.isfinite(b))[0]
                if len(nb) > 0:
                    # fallback count-bound at GROUP granularity (the
                    # sample holds < k poses): compound upper bound —
                    # union-box dmax covers every member pose, rotation
                    # term from group rotation bboxes when carried, else
                    # angular diameter
                    dmax = _bbox_min_max_dist(P3[nb], g_lo, g_hi)[1]
                    if rw > 0.0 and g_slo is not None:
                        ub = tw * dmax + rw * _rot_ub(QR[sl][nb], g_slo, g_shi)
                    else:
                        ub = tw * dmax + rot_diam
                    b[nb] = _count_bound(ub, g_counts, k)
                qi, pid = _se3_partition_candidates(P3, QR[sl], b, la, tw, rw)
                if len(qi) == 0:
                    continue
                g = qi + c0
                yield pa.RecordBatch.from_pydict(
                    {
                        "query_id": pc.take(qid_arr, pa.array(g)),
                        **{c: pa.array(Qraw[g, j]) for j, c in enumerate(QCOLS)},
                        **{c: pa.array(T[g, j]) for j, c in enumerate(TCOLS)},
                        "bound": pa.array(b[qi]),
                        "pid": pa.array(pid),
                    }
                )

    return (
        frame.mapInArrow(
            gen,
            schema="query_id string, "
            + ", ".join(f"{c} double" for c in (*QCOLS, *TCOLS, "bound"))
            + ", pid long",
        )
        .join(_pid_salts(spark, layout), "pid")
        .drop("pid")
    )


def se3_radius_join(
    spark: SparkSession,
    poses: DataFrame,
    queries: DataFrame,
    r: float,
    rot_weight: float = 1.0,
    trans_weight: float = 1.0,
    level: int | None = None,
    max_cell_rows: int = 16384,
    n_poses_hint: int | None = None,
) -> DataFrame:
    """All (query, pose) pairs within compound distance
    ``rot_weight * arccos(|q.p|) + trans_weight * ||t_q - t_p|| <= r`` —
    reference Q3 on the compound space (radius seeding
    ``src/_kdtree_median.hpp:131-137`` over ``src/_compoundspace.hpp``).
    Returns (query_id, pose_id, dist).

    Pruning: rotation contributes >= 0, so any admitted pose satisfies
    ``trans_weight * ||dt|| <= r`` — partition admission and the
    per-partition kernel both run on the translation bound alone (padded;
    with trans_weight == 0 everything is admitted — correct, dense), and
    the EXACT libm compound distance makes the final cut.  One-shot
    convenience over :class:`Se3Index.radius_join`."""
    corpus, layout = _se3_corpus(spark, poses, level, max_cell_rows, n_poses_hint)
    return _se3_radius(
        spark, corpus, layout, queries, r, rot_weight, trans_weight
    )


def _se3_radius(
    spark: SparkSession,
    corpus: DataFrame,
    layout: PoseLayout,
    queries: DataFrame,
    r: float,
    rot_weight: float,
    trans_weight: float,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """SE(3) radius join over a salted corpus: the SE(3) admission at the
    padded r, a 7-D embedded scan per cogroup, the exact compound cut.  A
    pose lives in exactly one partition and a query row carries one gsalt
    per admitted partition, so no dedupe is needed."""
    rw, tw = float(rot_weight), float(trans_weight)
    q = _se3_queries(spark, queries)
    return _radius_on_index(
        spark, r,
        # compound-space admission radius (padded superset; the exact
        # libm compound distance decides in the kernel)
        lambda r: _se3_admission(
            spark, layout,
            q.withColumn("bound", F.lit(r * (1.0 + 1e-12) + 1e-15)), rw, tw,
        ),
        corpus, _pose_group_rows(layout),
        lambda r: _make_se3_radius_group(r, rw, tw),
        "query_id string, pose_id string, dist double",
        _ONESHOT_CACHES if cache_registry is None else cache_registry,
    )


def _make_se3_radius_group(r: float, rw: float, tw: float):
    """SE(3) radius cogroup kernel: a 7-D embedded k-d radius scan at
    both rotation signs, then the exact libm compound distance."""
    # embedded-space scan radius: dist = rw*ang + tw*dt >=
    # sqrt((tw*dt)^2 + (rw*chord)^2) = L2 in the 7-D embedding
    # (tw*t, rw*c) with c the CANONICAL quaternion coefficients and the
    # query probed at BOTH rotation signs (chord = min over signs) — so a
    # plain k-d radius query at r is a provable superset with BOTH metric
    # terms pruning.  Round-3/-4a scanned on the translation term alone
    # (t <= r/tw admitted ~30x the hits at sf1: 292k pairs/s); the
    # embedded scan is the compound twin of the SO(3) antipodal reduction.
    r_scan = r * (1.0 + 1e-12) + 1e-15

    def radius_group(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _PAIR_DIST_EMPTY
        QR = np.column_stack([_pa_np(left, c) for c in QCOLS])
        QT = np.column_stack([_pa_np(left, c) for c in TCOLS])
        PR = np.column_stack([_pa_np(right, c) for c in QCOLS])
        PT = np.column_stack([_pa_np(right, c) for c in TCOLS])
        ids = right.column("pose_id")
        nq = len(QT)
        PRc = PR * canon_sign_np(PR)[:, None]
        QRc = QR * canon_sign_np(QR)[:, None]
        Z = np.hstack([tw * PT, rw * PRc])
        Zq = np.vstack(
            [
                np.hstack([tw * QT, rw * QRc]),
                np.hstack([tw * QT, -rw * QRc]),
            ]
        )
        tree = kernel.build(Z)
        qi2, idx, _ = kernel.radius(tree, Zq, r_scan)
        qi = qi2 % nq  # fold the +/- probes back to the query
        # dedupe (query, pose): both probes can return the same pair
        if len(qi) > 0:
            pairk = qi.astype(np.int64) * np.int64(len(ids)) + idx
            o = np.lexsort((pairk,))
            pk = pairk[o]
            firsts = np.ones(len(o), dtype=bool)
            firsts[1:] = pk[1:] != pk[:-1]
            sel = o[firsts]
            qi, idx = qi[sel], idx[sel]
        a = QR[qi]
        bq = PR[idx]
        d = QT[qi] - PT[idx]
        et = np.sqrt((d * d).sum(axis=1))
        # oracle-exact compound: left-assoc dot, libm acos — the libm
        # pass (frompyfunc, per-element) runs only on embedded-admitted
        # candidates after a SIMD chord pre-kill (chord <= ang, so
        # rw*chord + tw*et > r proves dist > r)
        dot = a[:, 0] * bq[:, 0]
        dot = dot + a[:, 1] * bq[:, 1]
        dot = dot + a[:, 2] * bq[:, 2]
        dot = dot + a[:, 3] * bq[:, 3]
        ldot = np.minimum(1.0, np.abs(dot))
        chord = np.sqrt(np.maximum(2.0 - 2.0 * ldot, 0.0))
        alive = rw * chord + tw * et <= r
        qi, idx, et, ldot = qi[alive], idx[alive], et[alive], ldot[alive]
        dist = rw * acos_exact(ldot) + tw * et
        keep = dist <= r
        return pa.table(
            {
                "query_id": pc.take(left.column("query_id"), pa.array(qi[keep])),
                "pose_id": pc.take(ids, pa.array(idx[keep])),
                "dist": pa.array(dist[keep]),
            }
        )

    return radius_group


def se3_knn_join(
    spark: SparkSession,
    poses: DataFrame,
    queries: DataFrame,
    k: int = 8,
    rot_weight: float = 1.0,
    trans_weight: float = 1.0,
    level: int | None = None,
    max_cell_rows: int = 16384,
    n_poses_hint: int | None = None,
) -> DataFrame:
    """Exact kNN join in the weighted compound SE(3) metric
    ``rot_weight * arccos(|q.p|) + trans_weight * ||t_q - t_p||``
    (reference compound/weighted spaces ``src/_spaces.hpp:273-421``,
    ``src/_compoundspace.hpp:60-88``).  Returns
    (query_id, pose_id, dist, rank).

    Partition key: adaptive grid over translation (data-derived bounds,
    hot cells refined, leaves bin-packed).  Partition pruning is exact:
    each query's bound is its compound distance to its kth-nearest pose
    in a fixed corpus sample (_se3_sample, collected here with one job),
    and a partition is admitted when its compound lower bound is within
    it.  One-shot convenience over :class:`Se3Index` (corpus
    unpersisted)."""
    k, _ = _check_knn_args(k)
    corpus, layout = _se3_corpus(spark, poses, level, max_cell_rows, n_poses_hint)
    return _se3_knn_on_index(
        spark, corpus, layout, _se3_sample(corpus, layout.total), queries, k,
        rot_weight, trans_weight,
    )


def _make_se3_group(k: int, rw: float, tw: float):
    """Cogroup kernel: branch-and-bound compound search via
    kernel.knn_compound — a k-d tree over the partition's TRANSLATIONS
    prunes with the trans_weight * distToLeaf lower bound, so per-query
    work is leaf-log + admitted scans instead of a dense Q x P matrix —
    each query seeded with its admission bound.  Selection runs on SIMD
    arccos padded by a relative 1e-12 margin; final values are
    libm-rescored from the returned (ldot, et), so the downstream window
    (ordered by the EXACT dist) decides oracle-exactly."""

    def se3_group(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _PAIR_DIST_EMPTY
        QR = np.column_stack([_pa_np(left, c) for c in QCOLS])
        QT = np.column_stack([_pa_np(left, c) for c in TCOLS])
        PR = np.column_stack([_pa_np(right, c) for c in QCOLS])
        PT = np.column_stack([_pa_np(right, c) for c in TCOLS])
        ids = right.column("pose_id")
        qi, idx, ldot, et = kernel.knn_compound(
            kernel.build(PT), QT, QR, PR, k, rw, tw,
            tie_key=_tie_rank(ids), max_radius=_pa_np(left, "bound"),
        )
        return pa.table(
            {
                "query_id": pc.take(left.column("query_id"), pa.array(qi)),
                "pose_id": pc.take(ids, pa.array(idx)),
                # FINAL values via libm acos — oracle-bit-exact
                "dist": pa.array(rw * acos_exact(ldot) + tw * et),
            }
        )

    return se3_group


def _se3_knn_on_index(
    spark: SparkSession,
    corpus: DataFrame,
    layout: PoseLayout,
    sample: np.ndarray,
    queries: DataFrame,
    k: int,
    rot_weight: float,
    trans_weight: float,
) -> DataFrame:
    """SE(3) kNN in one pass: admission (each query bounded by its
    kth-nearest corpus-sample pose) -> ONE cogroup with the corpus, each
    query's kernel seeded with its bound -> ONE (dist, pose_id) window
    merge.  Exact: the bound is >= the true kth distance, every partition
    holding a pose within it is admitted, and every comparison is <=.
    Runs no Spark job at call time and persists nothing.  No heavy group
    is split: the split planner's count-collect is an eager job, and in
    the pose_knn benchmark that job cost more than the split saved."""
    rw, tw = float(rot_weight), float(trans_weight)
    q = _se3_queries(spark, queries).withColumn("bound", F.lit(float("inf")))
    cand = _se3_admission(spark, layout, q, rw, tw, k, sample=sample)
    w = Window.partitionBy("query_id").orderBy("dist", "pose_id")
    return (
        cand.groupby("part_key")
        .cogroup(corpus.groupby("part_key"))
        .applyInArrow(
            _make_se3_group(k, rw, tw),
            schema="query_id string, pose_id string, dist double",
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
