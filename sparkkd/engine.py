"""Spark pipelines: the distributed re-expression of the reference queries.

Every operator follows the same Spark-first shape:

    parquet scan (pushdown/pruning by Catalyst)
      -> derive coords + cell_id with BUILT-IN column exprs (JVM, codegen)
      -> shuffle on the cell key (repartition implied by groupBy/cogroup)
      -> per-cell NumPy k-d kernel inside ONE Arrow UDF (sparkkd.kernel)
      -> window merge / joins with built-in operators

Cross-cell exactness uses the same branch-and-bound reasoning as the
reference's ``shouldTraverse`` (``src/_kdtree_median.hpp:136-138``), lifted
one level up: per-cell data bboxes play the role of node regions, and a
per-query kth-distance upper bound (derived from cell point counts) prunes
whole cells before any shuffle row is produced.

Skew handling is explicit (north_rule): cells whose row count exceeds
``max_cell_rows`` are salted into ``ceil(count/max_cell_rows)`` sub-trees;
query candidates are replicated to every salt of a candidate cell, so
exactness is preserved (all sub-trees of a probed cell are probed).

Scale notes (designed for 10^12 rows / 1000 executors, tested local[32]):

* The only driver-side state is the per-cell stats table
  (cell_id, count, bbox) — bounded by the number of OCCUPIED cells.  At
  level 13 that is <= 67M rows; production would aggregate stats at a
  coarser level first (same pruning math, looser bboxes).  Everything else
  stays distributed.
* Shuffles: one for stats (map-side combined count/min/max), one cogroup on
  the salted cell key, one window on query_id.  No cross join ever.
* All pre-kernel expressions are Spark built-ins -> whole-stage codegen;
  Python only touches Arrow batches.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import cells, kernel


def _pa_np(tbl: pa.Table, name: str) -> np.ndarray:
    """float64 numpy view/copy of an Arrow table column."""
    return tbl.column(name).to_numpy(zero_copy_only=False)


_EMPTY_PAIRS = pa.table(
    {
        "query_id": pa.array([], pa.string()),
        "image_id": pa.array([], pa.string()),
        "dist": pa.array([], pa.float64()),
    }
)

# key encoding: key = (level << LEVEL_SHIFT) | cell_id  (cell_id < 4^level
# needs 2*level bits; level <= 19 fits well under 2^40);
# part_key = key << SALT_SHIFT | salt (hash-salt fallback for duplicates)
LEVEL_SHIFT = 40
SALT_SHIFT = 12
MAX_LEVEL = 19


def _parallelism(spark: SparkSession) -> int:
    """Partitions of every kNN/radius plan's query spread and persisted
    corpus: one wave of tasks over the cluster's cores, whatever
    ``spark.sql.shuffle.partitions`` says.  Both sides take the same
    count, so the cached corpus layout satisfies the cogroup and only the
    candidate side is exchanged."""
    return spark.sparkContext.defaultParallelism


def _runtime_cache(owner) -> dict:
    """Per-owner runtime cache (a planar CellStats, a pose layout) for
    driver-side derived objects (broadcast variables): a build-once index
    pays its broadcasts once instead of on every join call."""
    c = getattr(owner, "_runtime_cache", None)
    if c is None:
        c = {}
        object.__setattr__(owner, "_runtime_cache", c)
    return c


def _session_key(spark: SparkSession) -> str:
    """Stable per-context cache key: the SparkContext's ``applicationId``.
    ``id(spark)`` is NOT safe here: a new session object can reuse a
    stopped session's address and the cache would serve broadcasts bound
    to a dead SparkContext.  So there is no fallback — a context whose
    applicationId cannot be read raises."""
    return spark.sparkContext.applicationId


def _cached(owner, spark: SparkSession, name: str, build):
    """``build()`` once per (owner, name, SparkContext).  Only one
    SparkContext runs per Python process, so entries keyed by any other
    applicationId belong to stopped contexts: they are dropped here, on
    the first access under the new id, instead of pinning dead broadcasts
    for the owner's lifetime."""
    c = _runtime_cache(owner)
    app = _session_key(spark)
    for k_ in [k_ for k_ in c if k_[1] != app]:
        del c[k_]
    key = (name, app)
    if key not in c:
        c[key] = build()
    return c[key]


def _salt_fanout(keys: np.ndarray, salt_n: np.ndarray):
    """Fan each admitted row out over the hash salts of its cell (planar
    key or pose partition id), so a probed cell probes ALL of its salted
    sub-trees: returns (rep, part_key) with ``rep`` indexing the input
    rows and part_key = key << SALT_SHIFT | salt.  Every admission
    generator emits its part_keys through this."""
    rep = np.repeat(np.arange(len(keys)), salt_n)
    first = np.cumsum(salt_n) - salt_n
    salt = np.arange(len(rep), dtype=np.int64) - np.repeat(first, salt_n)
    return rep, (keys[rep] << SALT_SHIFT) + salt


# Intermediate caches (radius candidates; kNN persists nothing)
# are tracked in a REGISTRY scoped to the issuing context: GeoIndex
# instances each own one (a new join on the SAME index releases that
# index's previous intermediates only — other indexes' and sessions'
# in-flight joins are untouched), and one-shot joins share a module
# registry released by the next one-shot call (their results are consumed
# once by contract).  A still-lazy earlier result remains CORRECT after
# release (Spark recomputes the evicted subtree); only already-materialized
# reuse is affected.
_ONESHOT_CACHES: list[DataFrame] = []


def _register_cache(df: DataFrame, registry: list[DataFrame]) -> DataFrame:
    df.persist()
    registry.append(df)
    return df


def _release_registry(registry: list[DataFrame]) -> None:
    while registry:
        try:
            registry.pop().unpersist()
        except Exception:
            pass


# Above this many probed part_keys an IN-list stops being the right plan:
# execution stays O(1)/row (OptimizeIn -> InSet hash probe) but the
# literal list inflates the plan tree — parse/analysis and plan shipping
# grow linearly, and at 10^5+ touched partitions that dominates.  A
# broadcast LEFT SEMI join ships one small hash relation instead.
_INSET_MAX_KEYS = 10_000


def _probe_filter(spark: SparkSession, df: DataFrame, keys) -> DataFrame:
    """Filter df to the probed part_keys: InSet pushdown below
    _INSET_MAX_KEYS, broadcast semi-join above it.  The key list always
    comes from an already-paid collect (it fills the candidate cache), so
    this changes only the filter RENDERING, never adds a job."""
    if not keys:
        return df.filter(F.lit(False))
    if len(keys) <= _INSET_MAX_KEYS:
        return df.filter(F.col("part_key").isin(keys))
    kdf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"part_key": np.asarray(keys, dtype=np.int64)})
        )
    )
    return df.join(kdf, "part_key", "left_semi")


def release_caches() -> None:
    """Unpersist intermediates from prior ONE-SHOT join calls (GeoIndex /
    So3Index / Se3Index instances release their own on each new radius
    join / unpersist()).  Only radius joins (and the datapipe operators)
    cache intermediates: every kNN join is one pass and persists nothing.
    Also drains the pose engine's one-shot registry — round 3 left
    pose-join intermediates pinned until the next one-shot pose join in
    the process (ADVICE r3)."""
    _release_registry(_ONESHOT_CACHES)
    from . import datapipe, so3engine

    _release_registry(so3engine._ONESHOT_CACHES)
    _release_registry(datapipe._ONESHOT_CACHES)


# ---------------------------------------------------------------- inputs


def with_coords(images: DataFrame) -> DataFrame:
    """Derive (x=lon, y=lat) from phash with JVM-side expressions (the
    ``_GetKey`` projection of the reference, ``src/_kdtree_base.hpp:50``)."""
    return images.withColumns(
        {
            "y": F.expr(cells.phash_lat_sql("phash")),
            "x": F.expr(cells.phash_lon_sql("phash")),
        }
    )


def with_cell(df: DataFrame, level: int, x: str = "x", y: str = "y") -> DataFrame:
    return df.withColumn("cell_id", F.expr(cells.cell_id_sql(x, y, level)))


@dataclass
class CellStats:
    """Driver-side pruning statistics: one row per occupied (possibly
    refined) cell.  Keys encode ``(level << LEVEL_SHIFT) | cell_id`` so a
    mix of base-level cold cells and fine-level refined cells coexists.

    Skew handling is two-tier (north_rule: explicit):

    1. **Spatial refinement** (primary — the distributed twin of the
       reference's adaptive tree depth, deeper where denser): base cells
       holding more than ``max_cell_rows`` rows are re-keyed at a finer
       level, so hot-region queries probe only NEARBY sub-cells instead of
       fanning out to every hash shard of a giant cell.
    2. **Hash salting** (fallback for point-mass duplicates that no spatial
       split can separate): a still-hot refined cell is split into
       ``ceil(count/max_cell_rows)`` salts; candidates replicate to all
       salts of that cell only.
    """

    keys: np.ndarray  # (C,) int64 sorted encoded keys
    counts: np.ndarray  # (C,) int64
    min_x: np.ndarray
    min_y: np.ndarray
    max_x: np.ndarray
    max_y: np.ndarray
    salt_n: np.ndarray  # (C,) int64 hash-salt fan-out per cell
    level: int  # base level
    # refinement schedule: list of (from_level, to_level, hot_cell_ids) —
    # a point's key descends through every matching refinement step
    refinements: list[tuple[int, int, np.ndarray]]
    # leaf table, CSR by key: key i's leaves are rows leaf_start[i] :
    # leaf_start[i + 1] — its occupied sub-cells up to 3 levels below the
    # key (the kNN admission's per-query count bound)
    leaf_start: np.ndarray  # (C+1,) int64
    leaf_counts: np.ndarray  # (N,) int64
    leaf_bbox: np.ndarray  # (N, 4) float64 min_x, min_y, max_x, max_y

    @property
    def total(self) -> int:
        return int(self.counts.sum())

    @property
    def fine_level(self) -> int:
        return self.refinements[-1][1] if self.refinements else self.level

    def key_sql(self, x_expr: str, y_expr: str) -> str:
        """SQL for the encoded key of a point: start at the base level and
        descend through each refinement step whose hot set contains the
        point's cell at that step's source level (recursive quadtree
        descent, rendered as a nested CASE)."""

        def key_at(lvl: int) -> str:
            c = cells.cell_id_sql(x_expr, y_expr, lvl)
            return f"(CAST({lvl} AS BIGINT) << {LEVEL_SHIFT}) + {c}"

        expr = key_at(self.level)
        for from_lvl, to_lvl, hot in self.refinements:
            hot_list = ", ".join(str(int(c)) for c in hot)
            cond = f"{cells.cell_id_sql(x_expr, y_expr, from_lvl)} IN ({hot_list})"
            expr = f"(CASE WHEN {cond} THEN {key_at(to_lvl)} ELSE {expr} END)"
        return expr


def _coarsen(cell: np.ndarray, from_level: int, to_level: int) -> np.ndarray:
    """Map cell ids at from_level to their ancestor ids at to_level.
    Requires from_level >= to_level: a negative NumPy shift is C-level UB
    (callers' masks already exclude finer-than-target rows; this assert
    turns a silent garbage path on other NumPy versions into an error)."""
    assert from_level >= to_level, (from_level, to_level)
    nf = np.int64(1 << from_level)
    s = from_level - to_level
    ix = (cell % nf) >> s
    iy = (cell // nf) >> s
    return iy * np.int64(1 << to_level) + ix


def collect_cell_stats(
    img: DataFrame,
    level: int,
    max_cell_rows: int = 8192,
    max_hot_cells: int = 4096,
    probe_depth: int = 6,
) -> CellStats:
    """Spatial-refinement statistics in (typically) ONE Spark job.

    Round 1 iterated: count at the base level, refine hot cells 3 levels
    deeper, re-count, repeat — 3-5 driver-blocking jobs that dominated the
    kNN serial floor.  Now: aggregate count+bbox once at a FINE level
    (base + probe_depth) and derive the identical refinement schedule and
    per-key stats by rolling the fine table up DRIVER-SIDE (pure NumPy):
    coarser counts are sums of fine counts and coarser bboxes are unions of
    fine bboxes, so the result is bit-identical to re-aggregating in Spark.
    Only a point-mass pathology (cells still hot at the fine level) pays an
    extra aggregation pass, scoped to those cells.

    At 10^12 rows the fine stats table is bounded by occupied fine cells
    (<= 67M at MAX_LEVEL); production would insert a tree of partial rollups
    — the math below is unchanged."""
    # fine-resolution stats rows: (cell id at `lvl`, lvl, cnt, bbox)
    cell_arr = np.empty(0, np.int64)
    lvl_arr = np.empty(0, np.int64)
    cnt_arr = np.empty(0, np.int64)
    bbox_arr = np.empty((0, 4), np.float64)  # min_x, min_y, max_x, max_y

    def agg_scope(scope: DataFrame, at_level: int) -> pd.DataFrame:
        return (
            scope.groupBy(
                F.expr(cells.cell_id_sql("x", "y", at_level)).alias("c")
            )
            .agg(
                F.count("*").alias("cnt"),
                F.min("x").alias("min_x"),
                F.min("y").alias("min_y"),
                F.max("x").alias("max_x"),
                F.max("y").alias("max_y"),
            )
            .toPandas()
        )

    fine = min(level + probe_depth, MAX_LEVEL)
    pdf = agg_scope(img, fine)
    cell_arr = pdf["c"].to_numpy(np.int64)
    lvl_arr = np.full(len(pdf), fine, np.int64)
    cnt_arr = pdf["cnt"].to_numpy(np.int64)
    bbox_arr = pdf[["min_x", "min_y", "max_x", "max_y"]].to_numpy(np.float64)

    def counts_at(at_level: int, mask: np.ndarray):
        """Roll the masked fine rows up to at_level: unique ancestor cells +
        summed counts (all masked rows have lvl >= at_level)."""
        # per-row coarsen honoring each row's own level
        anc = np.empty(int(mask.sum()), np.int64)
        sub_cells = cell_arr[mask]
        sub_lvls = lvl_arr[mask]
        for lv in np.unique(sub_lvls):
            m = sub_lvls == lv
            anc[m] = _coarsen(sub_cells[m], int(lv), at_level)
        uniq, inv = np.unique(anc, return_inverse=True)
        sums = np.zeros(len(uniq), np.int64)
        np.add.at(sums, inv, cnt_arr[mask])
        return uniq, sums, anc

    # derive the same schedule the iterative version produced: step by 3
    # from the base level, refining cells whose count exceeds max_cell_rows
    refinements: list[tuple[int, int, np.ndarray]] = []
    cur = level
    scope_mask = np.ones(len(cell_arr), dtype=bool)
    while True:
        uniq, sums, anc = counts_at(cur, scope_mask)
        hot_ids = uniq[sums > max_cell_rows]
        if len(hot_ids) == 0 or len(hot_ids) > max_hot_cells:
            break
        if cur >= fine:
            # point-mass pathology: still hot at the fine level -> one more
            # aggregation pass scoped to the hot cells, 6 levels deeper
            if fine >= MAX_LEVEL:
                break
            new_fine = min(fine + probe_depth, MAX_LEVEL)
            hot_list = ", ".join(str(int(c)) for c in hot_ids)
            scoped = img.filter(
                F.expr(f"{cells.cell_id_sql('x', 'y', fine)} IN ({hot_list})")
            )
            sub = agg_scope(scoped, new_fine)
            # replace the hot fine rows with their finer decomposition:
            # drop rows whose ancestor at `fine` is hot (all such rows sit
            # at lvl >= fine by construction)
            # rows coarser than `fine` (kept from an earlier extension) have
            # no ancestor AT fine — mark -1 (the lvl_arr >= fine conjunct
            # excludes them from `drop` anyway; -1 never hits hot_ids)
            row_anc = np.full(len(cell_arr), -1, np.int64)
            for lv in np.unique(lvl_arr):
                if lv < fine:
                    continue
                m = lvl_arr == lv
                row_anc[m] = _coarsen(cell_arr[m], int(lv), fine)
            drop = np.isin(row_anc, hot_ids) & (lvl_arr >= fine)
            keep = ~drop
            cell_arr = np.concatenate([cell_arr[keep], sub["c"].to_numpy(np.int64)])
            lvl_arr = np.concatenate(
                [lvl_arr[keep], np.full(len(sub), new_fine, np.int64)]
            )
            cnt_arr = np.concatenate([cnt_arr[keep], sub["cnt"].to_numpy(np.int64)])
            bbox_arr = np.concatenate(
                [
                    bbox_arr[keep],
                    sub[["min_x", "min_y", "max_x", "max_y"]].to_numpy(np.float64),
                ]
            )
            scope_mask = np.concatenate(
                [scope_mask[keep], np.ones(len(sub), dtype=bool)]
            )
            fine = new_fine
            # cur stays: re-evaluate the same level against the finer table
            continue
        nxt = min(cur + 3, fine)
        refinements.append((cur, nxt, np.sort(hot_ids)))
        # narrow scope to rows under a hot cell (the iterative `scope`);
        # rows coarser than `cur` can't be under a hot cur-cell — -1 drops
        # them from scope via the isin below
        cur_anc = np.full(len(cell_arr), -1, np.int64)
        for lv in np.unique(lvl_arr):
            if lv < cur:
                continue
            m = lvl_arr == lv
            cur_anc[m] = _coarsen(cell_arr[m], int(lv), cur)
        scope_mask = scope_mask & np.isin(cur_anc, hot_ids)
        cur = nxt

    # final per-key stats: descend each fine row through the schedule, then
    # roll up (sum counts, union bboxes) per leaf — the row's ancestor at
    # min(its level, key level + 3) — and the leaves per final key:
    # identical to re-aggregating in Spark at key_sql granularity
    key_level = np.full(len(cell_arr), level, np.int64)
    for from_lvl, to_lvl, hot in refinements:
        # rows coarser than from_lvl survived an extension un-decomposed —
        # they are non-hot by construction and keep their key_level
        anc = np.full(len(cell_arr), -1, np.int64)
        for lv in np.unique(lvl_arr):
            if lv < from_lvl:
                continue
            m = lvl_arr == lv
            anc[m] = _coarsen(cell_arr[m], int(lv), from_lvl)
        m = (key_level == from_lvl) & np.isin(anc, hot)
        key_level[m] = to_lvl
    # code = key << 8 | (leaf depth below the key) << 6 | the leaf's local
    # (iy, ix) in the key's 8x8 descendant grid: ONE int64 sort orders rows
    # by key then leaf, so both roll-ups are reduceats over the same order
    code = np.empty(len(cell_arr), np.int64)
    for lv in np.unique(lvl_arr):
        for kl in np.unique(key_level):
            m = (lvl_arr == lv) & (key_level == kl)
            if not m.any():
                continue
            depth = min(int(lv), int(kl) + 3) - int(kl)
            leaf = _coarsen(cell_arr[m], int(lv), int(kl) + depth)
            n_l, sub = np.int64(1 << (int(kl) + depth)), (1 << depth) - 1
            local = (((leaf // n_l) & sub) << 3) | ((leaf % n_l) & sub)
            key = (np.int64(kl) << LEVEL_SHIFT) + _coarsen(cell_arr[m], int(lv), int(kl))
            code[m] = (key << 8) | (depth << 6) | local
    order = np.argsort(code, kind="stable")
    code = code[order]
    starts = np.flatnonzero(np.diff(code, prepend=-1))  # codes are >= 0
    bb = bbox_arr[order]
    leaf_counts = np.add.reduceat(cnt_arr[order], starts)
    leaf_bbox = np.hstack(
        [np.minimum.reduceat(bb[:, :2], starts), np.maximum.reduceat(bb[:, 2:], starts)]
    )
    leaf_key = code[starts] >> 8
    kstarts = np.flatnonzero(np.diff(leaf_key, prepend=-1))
    counts = np.add.reduceat(leaf_counts, kstarts)
    lo = np.minimum.reduceat(leaf_bbox[:, :2], kstarts)
    hi = np.maximum.reduceat(leaf_bbox[:, 2:], kstarts)
    # hash-salt fan-out is capped by its bit budget (SALT_SHIFT): a cell
    # needing more than 4096 salts (~33.5M duplicate-coordinate rows at
    # defaults) degrades to coarser salting rather than corrupting keys
    salt_n = np.clip(
        -(-counts // max_cell_rows), 1, np.int64(1 << SALT_SHIFT)
    ).astype(np.int64)
    return CellStats(
        keys=leaf_key[kstarts],
        counts=counts,
        min_x=lo[:, 0],
        min_y=lo[:, 1],
        max_x=hi[:, 0],
        max_y=hi[:, 1],
        salt_n=salt_n,
        level=level,
        refinements=refinements,
        leaf_start=np.append(kstarts, len(leaf_key)).astype(np.int64),
        leaf_counts=leaf_counts,
        leaf_bbox=leaf_bbox,
    )


# queries with non-finite coordinates have no defined neighbors: drop them
# up front (one codegen filter) so they can't land in a clamped cell and
# emit inf/NaN distance rows
_FINITE_QUERY = (
    "NOT isnan(x) AND NOT isnan(y)"
    " AND abs(x) != double('infinity') AND abs(y) != double('infinity')"
)


def _salted_images(spark: SparkSession, img: DataFrame, stats: CellStats) -> DataFrame:
    """Attach part_key = key<<SALT_SHIFT | salt; salt = pmod(xxhash64(id), n)."""
    salt_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"key": stats.keys, "salt_n": stats.salt_n}),
            schema="key bigint, salt_n bigint",  # explicit: empty corpus
        )
    )
    return (
        img.withColumn("key", F.expr(stats.key_sql("x", "y")))
        .join(salt_df, "key")
        .withColumn(
            "part_key",
            (F.col("key") * (1 << SALT_SHIFT))
            + F.pmod(F.xxhash64("image_id"), F.col("salt_n")),
        )
    )


def _planar_corpus(spark, images, level, max_cell_rows, n_images_hint):
    """The planar corpus builder (GeoIndex and the one-shot joins): derive
    coordinates, collect cell stats (level None: derived from the row
    count), salt.  Returns (img, stats, img_salted); img_salted carries
    only what the kernels read: (image_id, x, y, part_key)."""
    img = with_coords(images).select("image_id", "x", "y")
    if level is None:
        n = n_images_hint if n_images_hint is not None else img.count()
        level = cells.level_for_count(n)
    stats = collect_cell_stats(img, level, max_cell_rows)
    img_salted = _salted_images(spark, img, stats).select(
        "image_id", "x", "y", "part_key"
    )
    return img, stats, img_salted


# ------------------------------------------------------- candidate pruning


def _coarse_groups(stats: CellStats):
    """Two-level pruning index: stats cells grouped by their ancestor at a
    coarse level (group bbox = union of member bboxes).  A query first
    tests ~G group boxes; only groups whose box beats the bound expand to
    their members.  With tight bounds most queries touch 1-4 groups, so
    the O(Q x C) sweep — the measured hot spot at 1.6M queries x 7k cells
    — collapses to O(Q x G) + epsilon.

    Returns (g_mnx, g_mny, g_mxx, g_mxy, g_order, g_start) where g_order
    lists member indices grouped by g and g_start its offsets."""
    key_levels = (stats.keys >> LEVEL_SHIFT).astype(np.int64)
    key_cells = (stats.keys & ((1 << LEVEL_SHIFT) - 1)).astype(np.int64)
    coarse_level = max(1, stats.level - 3)
    anc = np.empty(len(stats.keys), np.int64)
    for lv in np.unique(key_levels):
        m = key_levels == lv
        anc[m] = _coarsen(key_cells[m], int(lv), coarse_level)
    g_ids, g_inv = np.unique(anc, return_inverse=True)
    G = len(g_ids)
    g_mnx = np.full(G, np.inf)
    g_mny = np.full(G, np.inf)
    g_mxx = np.full(G, -np.inf)
    g_mxy = np.full(G, -np.inf)
    np.minimum.at(g_mnx, g_inv, stats.min_x)
    np.minimum.at(g_mny, g_inv, stats.min_y)
    np.maximum.at(g_mxx, g_inv, stats.max_x)
    np.maximum.at(g_mxy, g_inv, stats.max_y)
    g_order = np.argsort(g_inv, kind="stable")  # member idx grouped by g
    g_start = np.searchsorted(g_inv[g_order], np.arange(G + 1))
    return g_mnx, g_mny, g_mxx, g_mxy, g_order, g_start


def _count_bound(dmax: np.ndarray, counts: np.ndarray, k: int) -> np.ndarray:
    """Per-row statistics-only kth-NN bound (every space's admission
    fallback for rows without a finite bound): walk the (rows, C) regions
    in ascending farthest-point distance dmax until their counts cover k;
    that dmax upper-bounds the kth-NN distance (>= k points provably lie
    within it).  inf when all C regions together hold fewer than k.
    ``counts`` is (C,) shared by every row, or (rows, C) per row."""
    order = np.argsort(dmax, axis=1, kind="stable")
    cum = np.cumsum(
        np.take_along_axis(np.broadcast_to(counts, dmax.shape), order, axis=1), axis=1
    )
    need = np.argmax(cum >= k, axis=1)
    enough = cum[:, -1] >= k
    need = np.where(enough, need, dmax.shape[1] - 1)
    rows = np.arange(len(need))
    return np.where(
        enough, np.take_along_axis(dmax, order, axis=1)[rows, need], np.inf
    )


def _key_of(x: np.ndarray, y: np.ndarray, level: int, refinements) -> np.ndarray:
    """NumPy twin of CellStats.key_sql: the encoded key of each point."""
    key = (np.int64(level) << LEVEL_SHIFT) + cells.cell_id(x, y, level)
    for from_lvl, to_lvl, hot in refinements:
        m = np.isin(cells.cell_id(x, y, from_lvl), hot)
        key[m] = (np.int64(to_lvl) << LEVEL_SHIFT) + cells.cell_id(x[m], y[m], to_lvl)
    return key


def _knn_bound(px, py, bound, k, home, keys, counts, boxes, lstart, lcounts, lbox):
    """Per-query kNN admission bound: ``bound`` (max_radius) capped by
    _count_bound over the leaves of each query's ``home`` key; rows still
    at +inf (home key unoccupied or holding < k rows) take _count_bound
    over every cell (``boxes`` = the cells' min_x, min_y, max_x, max_y).
    Any leaf set holding >= k points bounds the kth distance, so home
    only decides how tight the bound is, never whether it is exact."""
    hk = np.minimum(np.searchsorted(keys, home), len(keys) - 1)
    r = np.flatnonzero(keys[hk] == home)
    if len(r):
        first, n = lstart[hk[r]], np.diff(lstart)[hk[r]]
        j = np.arange(n.max())
        valid = j[None, :] < n[:, None]
        li = np.where(valid, first[:, None] + j[None, :], 0)
        dmax = cells.bbox_max_dist(
            px[r][:, None], py[r][:, None],
            lbox[li, 0], lbox[li, 1], lbox[li, 2], lbox[li, 3],
        )
        dmax[~valid] = np.inf
        bound[r] = np.minimum(
            bound[r], _count_bound(dmax, np.where(valid, lcounts[li], 0), k)
        )
    nb = np.flatnonzero(bound == np.inf)
    if len(nb):
        dmax = cells.bbox_max_dist(
            px[nb][:, None], py[nb][:, None], *(b[None, :] for b in boxes)
        )
        bound[nb] = _count_bound(dmax, counts, k)
    return bound


def _planar_admission(
    spark: SparkSession,
    queries: DataFrame,
    stats: CellStats,
    k: int | None = None,
) -> DataFrame:
    """The planar admission generator, shared by kNN and radius: queries
    (query_id, x, y, bound) -> candidate rows (query_id, x, y, part_key,
    bound), one per admitted (query, cell salt) (_salt_fanout).

    Cells with min-dist <= bound become candidates — the cross-cell
    ``shouldTraverse`` (``src/_kdtree_median.hpp:136-138``), vectorized
    over query batches against broadcast cell stats.  Radius passes r.
    kNN passes max_radius and, given k, tightens it per query to the
    _count_bound over the leaves of the query's home key (>= k points
    provably lie within it, so it is >= the true kth distance: the
    reference's bounded search seeded with maxRadius,
    ``src/_kdtree_median.hpp:131-137``).  A home key that is unoccupied
    or holds fewer than k rows falls back to _count_bound over all cells.
    """
    bc = _cached(
        stats, spark, "planar_bc",
        lambda: spark.sparkContext.broadcast(
            (
                stats.keys, stats.counts, stats.salt_n,
                stats.min_x, stats.min_y, stats.max_x, stats.max_y,
                *_coarse_groups(stats),
                stats.leaf_start, stats.leaf_counts, stats.leaf_bbox,
            )
        ),
    )
    # queries usually arrive as one small parquet file = ONE partition;
    # spread the vectorized pruning work across the cluster first
    queries = queries.repartition(_parallelism(spark))
    level, refinements = stats.level, stats.refinements

    def gen(batches):
        (
            keys, counts, salt_n, mnx, mny, mxx, mxy,
            gmnx, gmny, gmxx, gmxy, gorder, gstart,
            lstart, lcounts, lbox,
        ) = bc.value
        C = len(keys)
        G_ = len(gmnx)
        for rb in batches:
            if rb.num_rows == 0 or C == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            qid = tbl.column("query_id").chunk(0)
            qx = _pa_np(tbl, "x")
            qy = _pa_np(tbl, "y")
            given = _pa_np(tbl, "bound")
            chunk = max(256, 8_000_000 // max(G_, 1))
            for c0 in range(0, rb.num_rows, chunk):
                sl = slice(c0, min(c0 + chunk, rb.num_rows))
                px, py = qx[sl], qy[sl]
                bound = given[sl].copy()
                if k is not None:
                    bound = _knn_bound(
                        px, py, bound, k, _key_of(px, py, level, refinements),
                        keys, counts, (mnx, mny, mxx, mxy), lstart, lcounts, lbox,
                    )
                # level 1: group boxes
                dmin_g = cells.bbox_min_dist(
                    px[:, None], py[:, None],
                    gmnx[None, :], gmny[None, :], gmxx[None, :], gmxy[None, :],
                )
                adm_g = dmin_g <= bound[:, None]
                out_qi: list[np.ndarray] = []
                out_ci: list[np.ndarray] = []
                for g in np.nonzero(adm_g.any(axis=0))[0]:
                    rows_g = np.nonzero(adm_g[:, g])[0]
                    mem = gorder[gstart[g] : gstart[g + 1]]
                    dmin = cells.bbox_min_dist(
                        px[rows_g][:, None], py[rows_g][:, None],
                        mnx[mem][None, :], mny[mem][None, :],
                        mxx[mem][None, :], mxy[mem][None, :],
                    )
                    adm = dmin <= bound[rows_g][:, None]
                    qi_l, ci_l = np.nonzero(adm)
                    if len(qi_l) > 0:
                        out_qi.append(rows_g[qi_l])
                        out_ci.append(mem[ci_l])
                if not out_qi:
                    continue
                ci = np.concatenate(out_ci)
                rep, part_key = _salt_fanout(keys[ci], salt_n[ci])
                qi = np.concatenate(out_qi)[rep]
                yield pa.RecordBatch.from_pydict(
                    {
                        "query_id": pc.take(qid, pa.array(qi + c0)),
                        "x": pa.array(qx[qi + c0]),
                        "y": pa.array(qy[qi + c0]),
                        "part_key": pa.array(part_key),
                        "bound": pa.array(bound[qi]),
                    }
                )

    return queries.mapInArrow(
        gen, schema="query_id string, x double, y double, part_key long, bound double"
    )


# ---------------------------------------------------------------- kNN join


def _tie_rank(ids) -> np.ndarray:
    """Per-point int64 lexicographic rank of an Arrow string column (the
    deterministic tie key).  Arrow's bytewise UTF-8 ordering equals the
    codepoint ordering NumPy used before (UTF-8 is order-preserving)."""
    si = pc.sort_indices(ids).to_numpy(zero_copy_only=False)
    tie = np.empty(len(si), dtype=np.int64)
    tie[si] = np.arange(len(si))
    return tie


def _knn_scan(pts: np.ndarray, qpts: np.ndarray, ids, k: int, bound: np.ndarray):
    """One group's bounded kNN, ties by the rank of the Arrow id column
    ``ids``: a small group (kernel.use_tile) is scored as one distance
    tile, ranking only its candidates' ids; a larger one builds a k-d
    tree.  Both give bit-identical distances.  Returns (qi, idx, dist)."""
    if kernel.use_tile(len(qpts), len(pts)):
        return kernel.knn_tile(
            pts, qpts, k, tie_rank=lambda u: _tie_rank(ids.take(u)), max_radius=bound
        )
    return kernel.knn(
        kernel.build(pts), qpts, k, tie_key=_tie_rank(ids), max_radius=bound
    )


def _make_knn_group(k: int):
    """Arrow-native cogroup kernel: the batched kNN of the group's
    candidate queries against its images, each seeded with its admission
    bound (reference maxRadius seeding, ``src/_kdtree_median.hpp:131-137``);
    ties broken by image_id lexicographic rank so the global merge is
    deterministic (_knn_scan).  Output rows are assembled with Arrow
    take/array calls — no pandas object-string round trip (guide §4.2)."""

    def knn_group(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _EMPTY_PAIRS
        pts = np.column_stack([_pa_np(right, "x"), _pa_np(right, "y")])
        ids = right.column("image_id")
        qpts = np.column_stack([_pa_np(left, "x"), _pa_np(left, "y")])
        qi, idx, dist = _knn_scan(pts, qpts, ids, k, _pa_np(left, "bound"))
        return pa.table(
            {
                "query_id": pc.take(left.column("query_id"), pa.array(qi)),
                "image_id": pc.take(ids, pa.array(idx)),
                "dist": pa.array(dist),
            }
        )

    return knn_group


def _check_knn_args(k, max_radius: float = float("inf")) -> tuple[int, float]:
    """Every space's kNN entry check, before any Spark job: k must be an
    integer >= 1 (NumPy integers accepted, bool rejected) and max_radius
    must not be NaN.  A finite negative max_radius is legal: it admits
    nothing, so the join is empty."""
    if isinstance(k, bool) or not isinstance(k, (int, np.integer)) or k < 1:
        raise ValueError(f"kNN join needs an integer k >= 1, got k={k!r}")
    max_radius = float(max_radius)
    if np.isnan(max_radius):
        raise ValueError(f"kNN join needs a non-NaN max_radius, got max_radius={max_radius}")
    return int(k), max_radius


def knn_join(
    spark: SparkSession,
    images: DataFrame,
    queries: DataFrame,
    k: int = 8,
    level: int | None = None,
    max_cell_rows: int = 8192,
    n_images_hint: int | None = None,
    max_radius: float = float("inf"),
) -> DataFrame:
    """Exact kNN join: for every query row, its k nearest images by planar
    L2 over phash-derived (lon, lat), ties broken by image_id; neighbors
    beyond ``max_radius`` are excluded (reference Q2's bounded entry,
    ``src/_kdtree_median.hpp:456-472``).

    Returns (query_id, image_id, dist, rank) with rank in 1..k.
    Generalizes reference Q1/Q2 (``src/_kdtree_median.hpp:332-359``) from a
    single query to a query table.

    Non-finite query coordinates (NaN/inf) yield NO rows for that query —
    such a query has no defined neighbors, so it is dropped by an explicit
    finite-coordinate filter, never crashing or damaging other queries'
    results; pre-filter with functions.l2_is_valid to reject them loudly
    instead.
    """
    k, max_radius = _check_knn_args(k, max_radius)
    _, stats, img_salted = _planar_corpus(
        spark, images, level, max_cell_rows, n_images_hint
    )
    return _knn_join_on_index(
        spark, img_salted, stats, queries, k, max_radius=max_radius
    )


def _knn_on_index(
    cand: DataFrame, corpus: DataFrame, kernel_fn, schema: str, k: int
) -> DataFrame:
    """The ONE kNN orchestration (planar, SO(3), SE(3)): the space's
    admission rows ``cand`` (each query bounded by >= its kth distance,
    keyed by part_key) -> ONE cogroup with the corpus running
    ``kernel_fn``, seeded with those bounds -> ONE window over the
    kernel's (query_id, id, dist) ``schema`` ranking by (dist, id) ->
    rank <= k.  Exact: every partition holding a point within a query's
    bound is admitted and every comparison is <=.  Runs no Spark job at
    call time and persists nothing.  No heavy group is split: the split
    planner's count-collect is an eager job, and in the pose_knn
    benchmark that job cost more than the split saved.

    Every group's rows go through the merge window, also those of queries
    admitted to a single group (already final in-group): splitting them
    off runs the cogroup UDF once per branch (Spark does not share a
    non-exchange subtree between two consumers), which measured slower
    than exchanging them."""
    hits = (
        cand.groupby("part_key")
        .cogroup(corpus.groupby("part_key"))
        .applyInArrow(kernel_fn, schema=schema)
    )
    _, id_col, dist_col = hits.columns
    w = Window.partitionBy("query_id").orderBy(dist_col, id_col)
    return hits.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _knn_join_on_index(
    spark: SparkSession,
    img_salted: DataFrame,
    stats: CellStats,
    queries: DataFrame,
    k: int,
    max_radius: float = float("inf"),
) -> DataFrame:
    """Planar kNN in one pass: admission (each query bounded by its home
    key's leaf statistics, capped at max_radius), then _knn_on_index."""
    k, mr = _check_knn_args(k, max_radius)
    q = queries.select(
        "query_id", F.col("qlon").alias("x"), F.col("qlat").alias("y")
    ).filter(_FINITE_QUERY)
    cand = _planar_admission(spark, q.withColumn("bound", F.lit(mr)), stats, k)
    return _knn_on_index(
        cand, img_salted, _make_knn_group(k),
        "query_id string, image_id string, dist double", k,
    )


# ------------------------------------------------------------- GeoIndex


class GeoIndex:
    """Build-once / query-many index over an image corpus — the API shape
    of the reference (construct ``KDTree`` once, call ``nearest`` many
    times, ``src/_kdtree_base.hpp:38-55``), distributed.

    The salted, cell-keyed projection of the corpus is persisted so repeated
    query batches skip the scan + stats + salt join; each query batch still
    pays one cogroup shuffle (at warehouse scale the projection would be
    bucket-stored instead — see PLANS.md).
    """

    def __init__(
        self,
        spark: SparkSession,
        images: DataFrame,
        level: int | None = None,
        max_cell_rows: int = 8192,
        n_images_hint: int | None = None,
    ):
        self.spark = spark
        self.img, self.stats, img_salted = _planar_corpus(
            spark, images, level, max_cell_rows, n_images_hint
        )
        self.level = self.stats.level
        # persist PRE-PARTITIONED on the cogroup key: the cached partitioning
        # satisfies the cogroup's clustered-distribution requirement, so query
        # batches shuffle only the (small) candidate side — the in-memory
        # twin of the bucket-stored layout (bucketstore.py); verified by
        # tests/test_engine_spark.py::test_geoindex_no_corpus_exchange
        self.img_salted = img_salted.repartition(
            _parallelism(spark), "part_key"
        ).persist()
        self.img_salted.count()  # materialize
        # per-index intermediate-cache registry (radius candidates): a new
        # radius join on THIS index releases THIS index's previous ones (consume or
        # materialize the previous result first if you need both); other
        # indexes / sessions are never touched.
        self._caches: list[DataFrame] = []

    @property
    def n_rows(self) -> int:
        return self.stats.total

    def lineage(self) -> DataFrame:
        """Per-cell lineage metrics (refined key, count, bbox)."""
        return (
            self.img.withColumn("cell_id", F.expr(self.stats.key_sql("x", "y")))
            .groupBy("cell_id")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("x").alias("min_x"),
                F.min("y").alias("min_y"),
                F.max("x").alias("max_x"),
                F.max("y").alias("max_y"),
            )
        )

    def knn_join(
        self, queries: DataFrame, k: int = 8, max_radius: float = float("inf")
    ) -> DataFrame:
        return _knn_join_on_index(
            self.spark,
            self.img_salted,
            self.stats,
            queries,
            k,
            max_radius=max_radius,
        )

    def radius_join(self, queries: DataFrame, r: float) -> DataFrame:
        return _planar_radius(
            self.spark, self.img_salted, self.stats, queries, r,
            cache_registry=self._caches,
        )

    def profile_batch(self, queries: DataFrame, k: int = 8) -> DataFrame:
        """Per-cell query metrics (north_rule: per-partition lineage +
        query latency histograms): run the home-cell probe with a timing
        kernel and emit one row per probed sub-tree —
        (part_key, n_queries, n_points, tree_depth, n_leaves, kernel_ms,
        us_per_query).  Feed to latency_histogram() / SnapshotStore
        .write_query_metrics() for the logged metrics table."""
        q = queries.select(
            "query_id", F.col("qlon").alias("x"), F.col("qlat").alias("y")
        ).filter(_FINITE_QUERY).withColumn("key", F.expr(self.stats.key_sql("x", "y")))
        rep, part_key = _salt_fanout(self.stats.keys, self.stats.salt_n)
        home_salts = F.broadcast(self.spark.createDataFrame(
            pd.DataFrame({"key": self.stats.keys[rep], "part_key": part_key}),
            schema="key bigint, part_key bigint",  # explicit: empty corpus
        ))
        cand = q.join(home_salts, "key").select("query_id", "x", "y", "part_key")

        def profile_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            import time as _t

            cols = {
                "part_key": [], "n_queries": [], "n_points": [],
                "tree_depth": [], "n_leaves": [], "kernel_ms": [],
                "us_per_query": [],
            }
            if len(left) == 0 or len(right) == 0:
                return pd.DataFrame(cols)
            pts = np.column_stack(
                [right["x"].to_numpy(np.float64), right["y"].to_numpy(np.float64)]
            )
            qpts = np.column_stack(
                [left["x"].to_numpy(np.float64), left["y"].to_numpy(np.float64)]
            )
            t0 = _t.perf_counter()
            tree = kernel.build(pts)
            kernel.knn(tree, qpts, k)
            ms = (_t.perf_counter() - t0) * 1e3
            return pd.DataFrame(
                {
                    "part_key": [int(right["part_key"].iloc[0])],
                    "n_queries": [len(left)],
                    "n_points": [len(right)],
                    "tree_depth": [tree.depth],
                    "n_leaves": [tree.n_leaves],
                    "kernel_ms": [round(ms, 3)],
                    "us_per_query": [round(ms * 1e3 / max(len(left), 1), 3)],
                }
            )

        return (
            cand.groupby("part_key")
            .cogroup(self.img_salted.groupby("part_key"))
            .applyInPandas(
                profile_group,
                schema="part_key long, n_queries long, n_points long,"
                " tree_depth int, n_leaves int, kernel_ms double,"
                " us_per_query double",
            )
        )

    def nearest(self, qlat: float, qlon: float, k: int = 1):
        """Single-point convenience (the reference's ``nearest``): returns
        list of Rows (image_id, dist, rank)."""
        q = self.spark.createDataFrame(
            pd.DataFrame({"query_id": ["q0"], "qlat": [qlat], "qlon": [qlon]})
        )
        return self.knn_join(q, k=k).select("image_id", "dist", "rank").collect()

    def unpersist(self) -> None:
        _release_registry(self._caches)
        self.img_salted.unpersist()


# ------------------------------------------------------------- radius join


def radius_join(
    spark: SparkSession,
    images: DataFrame,
    queries: DataFrame,
    r: float,
    level: int | None = None,
    max_cell_rows: int = 8192,
    n_images_hint: int | None = None,
    carry_xy: bool = False,
) -> DataFrame:
    """All (query, image) pairs with planar L2 distance <= r (reference Q3:
    kNN entry with finite maxRadius, ``src/_kdtree_median.hpp:131-137``).
    carry_xy=True additionally emits both endpoints' coordinates
    (qx, qy, ix, iy) — lets a composite consumer (geo_dbscan) derive
    per-endpoint grid cells from the pair table itself instead of
    re-joining the (output-sized) pair graph against a coordinate table."""
    _, stats, img_salted = _planar_corpus(
        spark, images, level, max_cell_rows, n_images_hint
    )
    return _planar_radius(
        spark, img_salted, stats, queries, r, carry_xy=carry_xy
    )


def _plan_group_splits(
    keys: np.ndarray,
    cand_rows: np.ndarray,
    corpus_rows: np.ndarray,
    parallelism: int,
    split_target: int,
    min_rows_per_split: int = 64,
) -> dict[int, int]:
    """The split DECISION, Spark-free: part_key -> sub-group count for the
    groups to split query-side (empty = cogroup on part_key unsplit).
    Work per group is candidate rows x corpus rows.

    The sizing is adaptive: aim for ~3 waves of ``parallelism`` tasks (a
    few hot groups otherwise leave most cores idle: event-log
    measurement, E=4x8 local-cluster, 9-14 phase-2 tasks with max task ~=
    stage wall), never finer than split_target/64 and never coarser than
    the static split_target; at most 256 sub-groups and >=
    min_rows_per_split candidate rows each (finer buys no balance and
    multiplies per-sub-group tree builds)."""
    cand_rows = np.asarray(cand_rows, np.int64)
    work = cand_rows * np.asarray(corpus_rows, np.int64)
    total = int(work.sum())
    if total == 0:
        return {}
    par = max(1, int(parallelism))
    tgt = min(split_target, max(total // (3 * par), max(split_target // 64, 1)))
    n = np.minimum(256, np.maximum(1, -(-work // tgt)))
    n = np.minimum(n, np.maximum(1, cand_rows // min_rows_per_split))
    heavy = n > 1
    return dict(zip(np.asarray(keys)[heavy].tolist(), n[heavy].tolist()))


def _split_heavy_cogroups(
    spark: SparkSession,
    cand: DataFrame,
    corpus: DataFrame,
    group_rows,
    split_target: int = 4_000_000,
    min_rows_per_split: int = 64,
):
    """The ONE split planner, used by the radius joins (planar, SO(3),
    SE(3)); kNN is one pass with no planner (_knn_on_index).  A dense
    group receiving many probing rows hands ONE cogroup task candidates x
    corpus rows of work (measured stragglers: the se3 sf1 radius run
    serialized for minutes on one task), so such a group is split
    query-side.  ONE collect over the cached candidate side: the
    per-part_key candidate counts fill the cache, yield the probed
    part_keys for the corpus probe filter AND feed _plan_group_splits.
    ``group_rows(keys)`` is the space's corpus row count per cogroup key,
    as an int64 array aligned with ``keys``.

    A heavy group splits whatever its share of the batch: candidates x
    corpus rows underweights a hot radius group, whose output is ~all of
    its pairs while a sparse group's is a small fraction.  Measured on sf0.1 radius_join_r2 at local[4]:
    heaviest group 0.67x a core's share by that estimate, yet the
    unsplit cogroup's slowest task ran 4.6-5.6 s of an 11.5 s stage:
    min-of-3 5.4-5.9 s unsplit vs 3.9-4.3 s split.

    Returns (cand, probed corpus, cogroup key columns).  Unsplit, the
    keys are part_key alone and no gsalt column exists, so the cached
    corpus partitioning satisfies the cogroup and the corpus side is NOT
    re-exchanged.  Split, both sides gain gsalt and group on
    (part_key, gsalt) — see _apply_group_splits for what that costs."""
    crows = cand.groupBy("part_key").count().collect()
    keys = np.array([r_["part_key"] for r_ in crows], np.int64)
    counts = np.array([r_["count"] for r_ in crows], np.int64)
    splits = _plan_group_splits(
        keys, counts, group_rows(keys), spark.sparkContext.defaultParallelism,
        split_target, min_rows_per_split,
    )
    probe = _probe_filter(spark, corpus, keys.tolist())
    if not splits:
        return cand, probe, ["part_key"]
    cand, probe = _apply_group_splits(spark, cand, probe, splits)
    return cand, probe, ["part_key", "gsalt"]


def _cell_group_rows(stats: CellStats):
    """Corpus rows per planar cogroup key: a cell's rows divide across its
    salt_n part_keys (from the in-memory CellStats, no Spark job)."""

    def rows(keys: np.ndarray) -> np.ndarray:
        ki = np.searchsorted(stats.keys, keys >> SALT_SHIFT)
        ki = np.clip(ki, 0, max(len(stats.keys) - 1, 0))
        return -(-stats.counts[ki] // np.maximum(stats.salt_n[ki], 1))

    return rows


def _apply_group_splits(
    spark: SparkSession, cand: DataFrame, base_probe: DataFrame, splits: dict
):
    """Attach gsalt = pmod(xxhash64(query_id), n_split) to split groups'
    candidate rows and replicate their probe-side rows via a broadcast
    explode.  The cost is not confined to the split groups: the cogroup
    now keys on (part_key, gsalt), which the cached hash(part_key) corpus
    layout does not satisfy, so the WHOLE probed corpus is re-exchanged;
    each split group's tree is rebuilt once per sub-group; and the two
    explode maps are createDataFrame broadcasts.

    Explicit schemas throughout: a bigint gsalt on ONE cogroup side
    hash-partitions differently from an int gsalt on the other and
    groups silently mispair (the round-5 dtype-parity lesson) — the
    final assert fails loudly instead."""
    smap = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "part_key": np.array(list(splits), np.int64),
                    "n_split": np.array(list(splits.values()), np.int32),
                }
            ),
            schema="part_key long, n_split int",
        )
    )
    cand = (
        cand.join(smap, "part_key", "left")
        .withColumn(
            "gsalt",
            F.coalesce(
                F.pmod(F.xxhash64("query_id"), F.col("n_split")), F.lit(0)
            ).cast("int"),
        )
        .drop("n_split")
    )
    exp = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "part_key": np.repeat(
                        np.array(list(splits), np.int64),
                        np.array(list(splits.values()), np.int64),
                    ),
                    "gsalt": np.concatenate(
                        [np.arange(v) for v in splits.values()]
                    ).astype(np.int32),
                }
            ),
            schema="part_key long, gsalt int",
        )
    )
    heavy = base_probe.join(exp, "part_key")
    light = (
        base_probe.join(
            exp.select("part_key").distinct(), "part_key", "left_anti"
        ).withColumn("gsalt", F.lit(0).cast("int"))
    )
    probe = heavy.unionByName(light.select(*heavy.columns))
    ct = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    pt = {f.name: f.dataType.simpleString() for f in probe.schema.fields}
    if (ct["part_key"], ct["gsalt"]) != (pt["part_key"], pt["gsalt"]):
        raise AssertionError(
            f"cogroup key dtype mismatch: cand={ct}, probe={pt}"
        )
    return cand, probe


def _radius_on_index(
    spark: SparkSession,
    r: float,
    admit,
    corpus: DataFrame,
    group_rows,
    make_kernel,
    schema: str,
    cache_registry: list[DataFrame],
) -> DataFrame:
    """The ONE radius orchestration (planar, SO(3), SE(3)).  A radius join
    is the reference's bounded search seeded with a constant maxRadius
    (``src/_kdtree_median.hpp:131-137``), i.e. the space's kNN
    admission at a constant bound: ``admit(r)`` returns its candidate rows
    keyed by part_key, ``make_kernel(r)`` the space's Arrow cogroup kernel.
    A NaN or infinite r is rejected before either is built.  Drains the
    caller's ``cache_registry`` and caches the candidates there; the split
    planner's ONE count-collect fills that cache, filters the corpus probe
    and splits heavy groups (_split_heavy_cogroups).
    """
    r = float(r)
    if not np.isfinite(r):
        raise ValueError(f"radius join needs a finite radius r, got r={r}")
    _release_registry(cache_registry)
    cand = _register_cache(admit(r), cache_registry)
    cand, probe, gcols = _split_heavy_cogroups(spark, cand, corpus, group_rows)
    return (
        cand.groupby(*gcols)
        .cogroup(probe.groupby(*gcols))
        .applyInArrow(make_kernel(r), schema=schema)
    )


def _planar_radius(
    spark: SparkSession,
    img_salted: DataFrame,
    stats: CellStats,
    queries: DataFrame,
    r: float,
    cache_registry: list[DataFrame] | None = None,
    carry_xy: bool = False,
) -> DataFrame:
    """Planar radius join over a salted corpus: planar admission at bound
    r, then a k-d radius scan per cogroup."""
    q = queries.select(
        "query_id", F.col("qlon").alias("x"), F.col("qlat").alias("y")
    ).filter(_FINITE_QUERY)
    schema = "query_id string, image_id string, dist double"
    if carry_xy:
        schema += ", qx double, qy double, ix double, iy double"
    return _radius_on_index(
        spark, r,
        lambda r: _planar_admission(spark, q.withColumn("bound", F.lit(r)), stats),
        img_salted, _cell_group_rows(stats),
        lambda r: _make_radius_group(r, carry_xy), schema,
        _ONESHOT_CACHES if cache_registry is None else cache_registry,
    )


def _make_radius_group(r: float, carry_xy: bool):
    """Planar radius cogroup kernel: every (query, image) pair of the
    group within L2 distance r."""
    empty_tbl = _EMPTY_PAIRS
    if carry_xy:
        empty_tbl = pa.table(
            {
                **{c: _EMPTY_PAIRS.column(c) for c in _EMPTY_PAIRS.column_names},
                **{c: pa.array([], pa.float64()) for c in ("qx", "qy", "ix", "iy")},
            }
        )

    def radius_group(left: pa.Table, right: pa.Table) -> pa.Table:
        # Arrow-native cogroup kernel: at 26.9M output pairs the pandas
        # object-string construction alone measured ~0.63 s/M rows vs
        # ~0.08 s/M for Arrow take/array (guide §4.2)
        if left.num_rows == 0 or right.num_rows == 0:
            return empty_tbl
        pts = np.column_stack([_pa_np(right, "x"), _pa_np(right, "y")])
        tree = kernel.build(pts)
        qpts = np.column_stack([_pa_np(left, "x"), _pa_np(left, "y")])
        qi, idx, dist = kernel.radius(tree, qpts, r)
        out = {
            "query_id": pc.take(left.column("query_id"), pa.array(qi)),
            "image_id": pc.take(right.column("image_id"), pa.array(idx)),
            "dist": pa.array(dist),
        }
        if carry_xy:
            out["qx"] = pa.array(qpts[qi, 0])
            out["qy"] = pa.array(qpts[qi, 1])
            out["ix"] = pa.array(pts[idx, 0])
            out["iy"] = pa.array(pts[idx, 1])
        return pa.table(out)

    return radius_group


# --------------------------------------------------------- point-in-polygon


def _polygon_arrays(polygons_pdf: pd.DataFrame) -> dict[str, np.ndarray]:
    """poly_id -> (E,4) edge array [x1,y1,x2,y2] over all rings."""
    out: dict[str, np.ndarray] = {}
    for (pid, ring), g in polygons_pdf.sort_values(["poly_id", "ring", "seq"]).groupby(
        ["poly_id", "ring"]
    ):
        xs = g["x"].to_numpy(np.float64)
        ys = g["y"].to_numpy(np.float64)
        e = np.column_stack([xs, ys, np.roll(xs, -1), np.roll(ys, -1)])
        out[pid] = np.vstack([out[pid], e]) if pid in out else e
    return out


def ray_cast_inside(px: np.ndarray, py: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting (P x E).  A point is inside iff a
    horizontal ray to +x crosses an odd number of edges (all rings — holes
    naturally subtract).  Crossing rule matches the oracle SQL term for
    term so results are identical."""
    x1, y1, x2, y2 = edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]
    cond = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = (x2 - x1)[None, :] * (py[:, None] - y1[None, :]) / (y2 - y1)[None, :] + x1[
            None, :
        ]
    crossing = cond & (px[:, None] < xs)
    return crossing.sum(axis=1) % 2 == 1


def pip_join(
    spark: SparkSession,
    images: DataFrame,
    polygons: DataFrame,
    level: int = 6,
    mode: str = "broadcast",
) -> DataFrame:
    """(image_id, poly_id) pairs where the image point lies inside the
    polygon (even-odd ray cast; SURVEY §2.4).

    mode="broadcast" (default, small polygon tables): covering cells are
    enumerated driver-side and broadcast, so the only shuffle is the
    images' groupBy.  mode="distributed" (large polygon tables): identical
    semantics with NO driver-side polygon state — see pip_join_distributed."""
    if mode == "distributed":
        return pip_join_distributed(spark, images, polygons, level)
    poly_pdf = polygons.toPandas()
    edges = _polygon_arrays(poly_pdf)
    # covering cells per polygon bbox at `level` (coarse prefilter)
    rows = []
    n = 1 << level
    for pid, e in edges.items():
        mnx, mxx = min(e[:, 0].min(), e[:, 2].min()), max(e[:, 0].max(), e[:, 2].max())
        mny, mxy = min(e[:, 1].min(), e[:, 3].min()), max(e[:, 1].max(), e[:, 3].max())
        ix0 = int(cells.axis_index(np.array([mnx]), cells.X_MIN, cells.X_SPAN, n)[0])
        ix1 = int(cells.axis_index(np.array([mxx]), cells.X_MIN, cells.X_SPAN, n)[0])
        iy0 = int(cells.axis_index(np.array([mny]), cells.Y_MIN, cells.Y_SPAN, n)[0])
        iy1 = int(cells.axis_index(np.array([mxy]), cells.Y_MIN, cells.Y_SPAN, n)[0])
        for iy in range(iy0, iy1 + 1):
            for ix in range(ix0, ix1 + 1):
                rows.append((pid, iy * n + ix))
    cover = F.broadcast(
        spark.createDataFrame(pd.DataFrame(rows, columns=["poly_id", "cell_id"]))
    )

    img = with_cell(with_coords(images).select("image_id", "x", "y"), level)
    cand = img.join(cover, "cell_id").select("image_id", "x", "y", "poly_id")

    bc = spark.sparkContext.broadcast(edges)

    def refine(batches):
        ed = bc.value
        for pdf in batches:
            for pid, g in pdf.groupby("poly_id"):  # loop over polygons only
                inside = ray_cast_inside(
                    g["x"].to_numpy(np.float64), g["y"].to_numpy(np.float64), ed[pid]
                )
                if inside.any():
                    yield g.loc[inside, ["image_id", "poly_id"]]

    return cand.mapInPandas(refine, schema="image_id string, poly_id string")


def pip_join_distributed(
    spark: SparkSession,
    images: DataFrame,
    polygons: DataFrame,
    level: int = 6,
) -> DataFrame:
    """Point-in-polygon for LARGE polygon tables: no driver-side polygon
    state, no broadcast of polygon geometry.

    Plan (all shuffles are equi-joins on bounded keys):
      1. edges from the vertex table with a window (next vertex per ring,
         wrapping) — one shuffle on (poly_id, ring);
      2. polygon bboxes -> covering cells exploded with built-in
         sequence()/transform() (the raster_vector_join pattern);
      3. candidates = images equi-joined to cover cells on cell_id;
      4. refinement: cogroup candidates x edges on poly_id, vectorized
         even-odd ray cast per group (the same kernel as the broadcast
         path, so results are identical).
    Skew note: a continent-sized polygon makes one cogroup group large;
    the kernel chunks the point side, and the candidate prefilter (bbox
    cover cells) keeps the group to points near the polygon."""
    n = 1 << level

    wcnt = Window.partitionBy("poly_id", "ring")
    v = polygons.withColumn("cnt", F.count("*").over(wcnt))
    a = v.alias("a")
    b = v.alias("b")
    edges = a.join(
        b,
        (F.col("a.poly_id") == F.col("b.poly_id"))
        & (F.col("a.ring") == F.col("b.ring"))
        & (F.col("b.seq") == (F.col("a.seq") + 1) % F.col("a.cnt")),
    ).select(
        F.col("a.poly_id").alias("poly_id"),
        F.col("a.x").alias("x1"),
        F.col("a.y").alias("y1"),
        F.col("b.x").alias("x2"),
        F.col("b.y").alias("y2"),
    )

    bbox = polygons.groupBy("poly_id").agg(
        F.min("x").alias("mnx"),
        F.min("y").alias("mny"),
        F.max("x").alias("mxx"),
        F.max("y").alias("mxy"),
    )

    def axis_sql(expr: str, vmin: float, vspan: float) -> str:
        return (
            f"least(CAST({n - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), "
            f"CAST(floor((({expr}) - {cells.sql_double(vmin)}) / "
            f"{cells.sql_double(vspan)} * {cells.sql_double(float(n))}) AS BIGINT)))"
        )

    cover = bbox.select(
        "poly_id",
        F.explode(
            F.expr(
                f"""flatten(transform(
                    sequence({axis_sql('mny', cells.Y_MIN, cells.Y_SPAN)},
                             {axis_sql('mxy', cells.Y_MIN, cells.Y_SPAN)}),
                    iy -> transform(
                      sequence({axis_sql('mnx', cells.X_MIN, cells.X_SPAN)},
                               {axis_sql('mxx', cells.X_MIN, cells.X_SPAN)}),
                      ix -> iy * CAST({n} AS BIGINT) + ix)))"""
            )
        ).alias("cell_id"),
    )

    img = with_cell(with_coords(images).select("image_id", "x", "y"), level)
    cand = img.join(cover, "cell_id").select("image_id", "x", "y", "poly_id")

    def refine(points: pd.DataFrame, edge_rows: pd.DataFrame) -> pd.DataFrame:
        if len(points) == 0 or len(edge_rows) == 0:
            return pd.DataFrame({"image_id": [], "poly_id": []})
        e = edge_rows[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        out = []
        pid = edge_rows["poly_id"].iloc[0]
        for c0 in range(0, len(points), 8192):  # memory-bounding chunks
            g = points.iloc[c0 : c0 + 8192]
            inside = ray_cast_inside(
                g["x"].to_numpy(np.float64), g["y"].to_numpy(np.float64), e
            )
            if inside.any():
                out.append(
                    pd.DataFrame(
                        {"image_id": g["image_id"].to_numpy()[inside], "poly_id": pid}
                    )
                )
        return (
            pd.concat(out)
            if out
            else pd.DataFrame({"image_id": [], "poly_id": []})
        )

    return (
        cand.groupby("poly_id")
        .cogroup(edges.groupby("poly_id"))
        .applyInPandas(refine, schema="image_id string, poly_id string")
    )


# -------------------------------------------------- raster <-> vector join


def footprints_from_polygons(polygons: DataFrame) -> DataFrame:
    """Polygon bounding boxes (the 'vector footprint' side)."""
    return polygons.groupBy("poly_id").agg(
        F.min("x").alias("mnx"),
        F.min("y").alias("mny"),
        F.max("x").alias("mxx"),
        F.max("y").alias("mxy"),
    )


def raster_vector_join(
    spark: SparkSession,
    tiles: DataFrame,
    footprints: DataFrame,
    level: int = 4,
) -> DataFrame:
    """(tile_id, poly_id) pairs whose bboxes overlap (closed intervals).

    Scalable range-join pattern (SURVEY §2.4): both sides explode their
    bbox into covering cells at a coarse level, equi-join on cell_id
    (co-partitioned shuffle join — no theta join), then the exact interval
    predicate refines and DISTINCT dedupes multi-cell matches."""
    n = 1 << level

    def axis_sql(expr: str, vmin: float, vspan: float) -> str:
        return (
            f"least(CAST({n - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), "
            f"CAST(floor((({expr}) - {cells.sql_double(vmin)}) / "
            f"{cells.sql_double(vspan)} * {cells.sql_double(float(n))}) AS BIGINT)))"
        )

    def cover(df: DataFrame, idc: str, mnx: str, mny: str, mxx: str, mxy: str):
        # explode bbox into its covering cell range via sequence()
        return df.select(
            idc,
            mnx,
            mny,
            mxx,
            mxy,
            F.explode(
                F.expr(
                    f"""flatten(transform(
                        sequence({axis_sql(mny, cells.Y_MIN, cells.Y_SPAN)},
                                 {axis_sql(mxy, cells.Y_MIN, cells.Y_SPAN)}),
                        iy -> transform(
                          sequence({axis_sql(mnx, cells.X_MIN, cells.X_SPAN)},
                                   {axis_sql(mxx, cells.X_MIN, cells.X_SPAN)}),
                          ix -> iy * CAST({n} AS BIGINT) + ix)))"""
                )
            ).alias("cell_id"),
        )

    t = cover(tiles, "tile_id", "min_x", "min_y", "max_x", "max_y")
    p = cover(footprints, "poly_id", "mnx", "mny", "mxx", "mxy")
    joined = t.join(p, "cell_id").where(
        (F.col("mnx") <= F.col("max_x"))
        & (F.col("mxx") >= F.col("min_x"))
        & (F.col("mny") <= F.col("max_y"))
        & (F.col("mxy") >= F.col("min_y"))
    )
    return joined.select("tile_id", "poly_id").distinct()


# ---------------------------------------------------------------- lineage


def latency_histogram(metrics: DataFrame, n_buckets: int = 12) -> DataFrame:
    """Histogram of per-query kernel latency across cells (north_rule:
    query latency histograms in the metrics table): log2 buckets of
    us_per_query weighted by each cell's query count."""
    b = F.ceil(F.log2(F.greatest(F.col("us_per_query"), F.lit(1e-3))))
    return (
        metrics.withColumn(
            "bucket_log2_us",
            F.least(F.greatest(b, F.lit(-10)), F.lit(float(n_buckets))).cast("int"),
        )
        .groupBy("bucket_log2_us")
        .agg(
            F.sum("n_queries").alias("n_queries"),
            F.count("*").alias("n_cells"),
            F.sum("kernel_ms").alias("total_ms"),
        )
        .orderBy("bucket_log2_us")
    )


def cell_lineage(images: DataFrame, level: int) -> DataFrame:
    """Per-cell lineage/metrics rows (north_rule: per-partition lineage):
    cell id, row count, data bbox, estimated tree depth."""
    img = with_cell(with_coords(images), level)
    return img.groupBy("cell_id").agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.min("y").alias("min_y"),
        F.max("x").alias("max_x"),
        F.max("y").alias("max_y"),
        F.ceil(F.log2(F.greatest(F.count("*") / 32.0, F.lit(1.0)))).alias(
            "tree_depth"
        ),
    )
