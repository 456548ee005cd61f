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
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return spark.sparkContext.defaultParallelism


# Intermediate caches (phase-1 top-k, phase-2 candidates) are tracked in a
# REGISTRY scoped to the issuing context: GeoIndex instances each own one
# (a new join on the SAME index releases that index's previous
# intermediates only — other indexes' and sessions' in-flight joins are
# untouched), and one-shot joins share a module registry released by the
# next one-shot call (their results are consumed once by contract).  A
# still-lazy earlier result remains CORRECT after release (Spark recomputes
# the evicted subtree); only already-materialized reuse is affected.
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
    So3Index / Se3Index instances release their own on each new join /
    unpersist()).  Also drains the pose engine's one-shot registry —
    round 3 left pose-join intermediates pinned until the next one-shot
    pose join in the process (ADVICE r3)."""
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
    # roll up (sum counts, union bboxes) per final key — identical to
    # re-aggregating in Spark at key_sql granularity
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
    final_cell = np.empty(len(cell_arr), np.int64)
    for lv in np.unique(lvl_arr):
        for kl in np.unique(key_level):
            m = (lvl_arr == lv) & (key_level == kl)
            if m.any():
                final_cell[m] = _coarsen(cell_arr[m], int(lv), int(kl))
    keys_all = (key_level << LEVEL_SHIFT) + final_cell
    uniq, inv = np.unique(keys_all, return_inverse=True)
    counts = np.zeros(len(uniq), np.int64)
    np.add.at(counts, inv, cnt_arr)
    mnx = np.full(len(uniq), np.inf)
    mny = np.full(len(uniq), np.inf)
    mxx = np.full(len(uniq), -np.inf)
    mxy = np.full(len(uniq), -np.inf)
    np.minimum.at(mnx, inv, bbox_arr[:, 0])
    np.minimum.at(mny, inv, bbox_arr[:, 1])
    np.maximum.at(mxx, inv, bbox_arr[:, 2])
    np.maximum.at(mxy, inv, bbox_arr[:, 3])
    # hash-salt fan-out is capped by its bit budget (SALT_SHIFT): a cell
    # needing more than 4096 salts (~33.5M duplicate-coordinate rows at
    # defaults) degrades to coarser salting rather than corrupting keys
    salt_n = np.clip(
        -(-counts // max_cell_rows), 1, np.int64(1 << SALT_SHIFT)
    ).astype(np.int64)
    return CellStats(
        keys=uniq,
        counts=counts,
        min_x=mnx,
        min_y=mny,
        max_x=mxx,
        max_y=mxy,
        salt_n=salt_n,
        level=level,
        refinements=refinements,
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


# explicit so an EMPTY corpus yields an empty frame (inference would raise)
_PART_KEYS_SCHEMA = "key bigint, part_key bigint, salt_n bigint"


def _candidate_part_keys(stats: CellStats) -> pd.DataFrame:
    """(key, part_key, salt_n) exploded over salts — broadcast-joined to
    candidates so a probed cell probes ALL of its salted sub-trees; salt_n
    lets the phase-1 kernel finalize ranks for single-salt cells without a
    corpus-sized window exchange."""
    reps = stats.salt_n
    key = np.repeat(stats.keys, reps)
    off = np.concatenate([[0], np.cumsum(reps)])[: len(reps)]
    salt = np.arange(reps.sum(), dtype=np.int64) - np.repeat(off, reps)
    return pd.DataFrame(
        {
            "key": key,
            "part_key": (key << SALT_SHIFT) + salt,
            "salt_n": np.repeat(reps, reps),
        }
    )


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


def _knn_candidates(
    spark: SparkSession,
    queries: DataFrame,
    stats: CellStats,
    k: int,
    exclude_home: bool = False,
    spread: bool = True,
) -> DataFrame:
    """queries (query_id, x, y [, bound]) -> (query_id, x, y, cell_id)
    candidate pairs.

    Vectorized cross-cell pruning (mapInPandas over query batches against
    broadcast cell stats).  The per-query admission bound is
    ``min(count_bound, provided bound)`` where:

    * count_bound: cells sorted by farthest-corner distance (dmax) are
      accumulated until their counts cover k; the dmax at that point
      upper-bounds the kth-NN distance (>= k points provably lie within
      it) — computable from statistics alone;
    * provided bound (optional ``bound`` column): the TRUE home-cell kth
      distance from a phase-1 probe — usually far tighter.

    Cells with min-dist <= bound become candidates — the cross-cell
    ``shouldTraverse`` (``src/_kdtree_median.hpp:136-138``).  With
    exclude_home=True the query's own cell (its ``home_key`` column) is
    skipped — it was already fully probed in phase 1.
    """
    g_mnx, g_mny, g_mxx, g_mxy, g_order, g_start = _coarse_groups(stats)

    bc = spark.sparkContext.broadcast(
        (
            stats.keys, stats.counts,
            stats.min_x, stats.min_y, stats.max_x, stats.max_y,
            g_mnx, g_mny, g_mxx, g_mxy, g_order, g_start,
        )
    )
    has_bound = "bound" in queries.columns
    if spread:
        # queries usually arrive as one small parquet file = ONE partition;
        # spread the vectorized pruning work across the cluster first
        # (spread=False when the input already comes out of a shuffle)
        queries = queries.repartition(_parallelism(spark))

    def gen(batches):
        (
            keys, counts, mnx, mny, mxx, mxy,
            gmnx, gmny, gmxx, gmxy, gorder, gstart,
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
            given = (
                _pa_np(tbl, "bound")
                if has_bound
                else np.full(rb.num_rows, np.inf)
            )
            home = (
                tbl.column("home_key").to_numpy(zero_copy_only=False)
                if exclude_home
                else None
            )
            chunk = max(256, 8_000_000 // max(G_, 1))
            for c0 in range(0, rb.num_rows, chunk):
                sl = slice(c0, min(c0 + chunk, rb.num_rows))
                px, py = qx[sl], qy[sl]
                gb = given[sl]
                bound = gb.copy()
                nb = np.nonzero(~np.isfinite(gb))[0]
                if len(nb) > 0:
                    # count-bound only for the (few) rows lacking a phase-1
                    # bound — full member sweep for just those rows
                    dmax = cells.bbox_max_dist(
                        px[nb][:, None], py[nb][:, None],
                        mnx[None, :], mny[None, :], mxx[None, :], mxy[None, :],
                    )
                    order = np.argsort(dmax, axis=1, kind="stable")
                    cum = np.cumsum(counts[order], axis=1)
                    need = np.argmax(cum >= k, axis=1)
                    enough = cum[:, -1] >= k
                    need = np.where(enough, need, C - 1)
                    rows = np.arange(len(need))
                    cb = np.where(
                        enough, np.take_along_axis(dmax, order, axis=1)[rows, need], np.inf
                    )
                    bound[nb] = cb
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
                    if home is not None:
                        adm &= keys[mem][None, :] != home[sl][rows_g][:, None]
                    qi_l, ci_l = np.nonzero(adm)
                    if len(qi_l) > 0:
                        out_qi.append(rows_g[qi_l])
                        out_ci.append(mem[ci_l])
                if not out_qi:
                    continue
                qi = np.concatenate(out_qi)
                ci = np.concatenate(out_ci)
                yield pa.RecordBatch.from_pydict(
                    {
                        "query_id": pc.take(qid, pa.array(qi + c0)),
                        "x": pa.array(qx[qi + c0]),
                        "y": pa.array(qy[qi + c0]),
                        "key": pa.array(keys[ci]),
                    }
                )

    return queries.mapInArrow(
        gen, schema="query_id string, x double, y double, key long"
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


def _make_knn_group(
    k: int,
    carry_xy: bool = False,
    max_radius: float = np.inf,
    emit_rank: bool = False,
):
    """Arrow-native cogroup kernel: build a k-d tree over the cell's
    images, run the batched bounded kNN for the cell's candidate queries
    (ties broken by image_id lexicographic rank so the global merge is
    deterministic).  Output rows are assembled with Arrow take/array calls
    — no pandas object-string round trip (guide §4.2).
    carry_xy=True passes the query coordinates through (lets phase 2 derive
    its inputs from phase-1 output without re-joining the query table).
    max_radius seeds the admission bound (reference Q2's maxRadius,
    ``src/_kdtree_median.hpp:456-472``).
    emit_rank=True additionally emits per-query (rank, cnt, final): for a
    SINGLE-SALT home cell the group holds the query's entire home probe, so
    rank/cnt are final right here and the corpus-sized window exchange is
    skipped for those rows (final=false rows — multi-salt cells — still
    merge through the window)."""
    empty = {c: _EMPTY_PAIRS.column(c) for c in _EMPTY_PAIRS.column_names}
    if carry_xy:
        empty.update(
            {"x": pa.array([], pa.float64()), "y": pa.array([], pa.float64())}
        )
    if emit_rank:
        empty.update(
            {
                "rank": pa.array([], pa.int32()),
                "cnt": pa.array([], pa.int64()),
                "final": pa.array([], pa.bool_()),
                "home_edge": pa.array([], pa.float64()),
            }
        )
    empty_tbl = pa.table(empty)

    def knn_group(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return empty_tbl
        pts = np.column_stack([_pa_np(right, "x"), _pa_np(right, "y")])
        ids = right.column("image_id")
        tie = _tie_rank(ids)
        tree = kernel.build(pts)
        qpts = np.column_stack([_pa_np(left, "x"), _pa_np(left, "y")])
        qi, idx, dist = kernel.knn(tree, qpts, k, tie_key=tie, max_radius=max_radius)
        out = {
            "query_id": pc.take(left.column("query_id"), pa.array(qi)),
            "image_id": pc.take(ids, pa.array(idx)),
            "dist": pa.array(dist),
        }
        if carry_xy:
            out["x"] = pa.array(qpts[qi, 0])
            out["y"] = pa.array(qpts[qi, 1])
        if emit_rank:
            # kernel output is sorted by (qi, dist, tie): in-group ranks
            if len(qi) > 0:
                starts = np.flatnonzero(np.r_[True, qi[1:] != qi[:-1]])
                lens = np.diff(np.append(starts, len(qi)))
                out["rank"] = pa.array(
                    (np.arange(len(qi)) - np.repeat(starts, lens) + 1).astype(
                        np.int32
                    )
                )
                out["cnt"] = pa.array(np.repeat(lens, lens).astype(np.int64))
            else:
                out["rank"] = pa.array([], pa.int32())
                out["cnt"] = pa.array([], pa.int64())
            out["final"] = pa.array(
                np.full(len(qi), left.column("salt_n")[0].as_py() == 1, dtype=bool)
            )
            # distance from each query to the nearest edge of its home GRID
            # cell (decoded from the group's part_key) — phase 2's early
            # exit: every point of every other cell is >= edge away.  The
            # 1e-9 deg margin absorbs float rounding between this boundary
            # arithmetic and the cell-assignment formula.  Computed here in
            # NumPy because the SQL rendering inlines the nested-CASE key
            # expression ~15x when Catalyst pushes the filter through the
            # projection (measured 30 us/row interpreted — vs free here).
            key = left.column("part_key")[0].as_py() >> SALT_SHIFT
            lvl = key >> LEVEL_SHIFT
            n = 1 << lvl
            cell = key & ((1 << LEVEL_SHIFT) - 1)
            wx, wy = cells.X_SPAN / n, cells.Y_SPAN / n
            lo_x = cells.X_MIN + (cell % n) * wx
            lo_y = cells.Y_MIN + (cell // n) * wy
            qxv, qyv = qpts[qi, 0], qpts[qi, 1]
            out["home_edge"] = pa.array(
                np.minimum(
                    np.minimum(qxv - lo_x, lo_x + wx - qxv),
                    np.minimum(qyv - lo_y, lo_y + wy - qyv),
                )
                - 1e-9
            )
        return pa.table(out)

    return knn_group


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
    img = with_coords(images).select("image_id", "x", "y")
    if level is None:
        n = n_images_hint if n_images_hint is not None else img.count()
        level = cells.level_for_count(n)
    stats = collect_cell_stats(img, level, max_cell_rows)
    img_salted = _salted_images(spark, img, stats)
    part_keys = F.broadcast(spark.createDataFrame(
        _candidate_part_keys(stats), schema=_PART_KEYS_SCHEMA
    ))
    return _knn_join_on_index(
        spark, img_salted, stats, part_keys, queries, k, max_radius=max_radius
    )


def _knn_join_on_index(
    spark: SparkSession,
    img_salted: DataFrame,
    stats: CellStats,
    part_keys: DataFrame,
    queries: DataFrame,
    k: int,
    max_radius: float = float("inf"),
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    if cache_registry is None:
        cache_registry = _ONESHOT_CACHES
    _release_registry(cache_registry)  # PREVIOUS call in this scope only
    q = queries.select(
        "query_id", F.col("qlon").alias("x"), F.col("qlat").alias("y")
    ).filter(_FINITE_QUERY)
    schema = "query_id string, image_id string, dist double"
    key_expr = stats.key_sql("x", "y")

    # ---- phase 1: probe each query's HOME cell (all salts of it) --------
    # This is the first descent of the reference search: it yields a TRUE
    # kth-distance bound per query, so phase 2 probes almost nothing.
    q_home = q.withColumn("key", F.expr(key_expr))
    p1_cand = q_home.join(part_keys, "key").select(
        "query_id", "x", "y", "part_key", "salt_n"
    )
    p1 = (
        p1_cand.groupby("part_key")
        .cogroup(img_salted.groupby("part_key"))
        .applyInArrow(
            _make_knn_group(k, carry_xy=True, max_radius=max_radius, emit_rank=True),
            schema=schema
            + ", x double, y double, rank int, cnt long, final boolean,"
            " home_edge double",
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "image_id")
    wq = Window.partitionBy("query_id")
    # p1 feeds the final/merge split, bound rows, the p2 exclusion AND the
    # final union; cache it once (fills during the p2_cand materialization
    # below — no separate count() job).
    p1 = _register_cache(p1, cache_registry)
    # single-salt home cells (the overwhelming majority): the kernel's
    # in-group rank/cnt ARE final — those rows skip the Q-sized window
    # exchange entirely.  Only multi-salt cells merge through the window.
    p1_final = p1.filter(F.col("final")).drop("final")
    p1_merge = (
        p1.filter(~F.col("final"))
        .drop("rank", "cnt", "final")
        .withColumn("rank", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(wq))
    )
    # ALSO cache the merged top-k: bound_rows (job A) and the untouched/
    # touched branches (job B) all consume it — without this cache job B
    # re-ran the p1 window merge once per branch (2 extra exchanges).
    p1_topk = _register_cache(
        p1_final.unionByName(p1_merge).filter(F.col("rank") <= k),
        cache_registry,
    )

    # ---- phase 2: probe remaining cells within the bound ----------------
    # Home is always excluded: phase 1 returned min(k, |home|) rows, which
    # covers the home cell completely in both the cnt>=k and cnt<k cases.
    # Bound rows come straight from p1_topk: cnt counts SURVIVING candidate
    # rows (radius-capped in the kernel), so the query's last surviving row
    # is exactly rank == least(k, cnt) — no extra window needed.  The bound
    # is the kth distance when cnt >= k, else inf, capped at max_radius.
    mr = float(max_radius)
    bound_rows = p1_topk.filter(
        F.col("rank") == F.least(F.lit(k), F.col("cnt"))
    ).select(
        "query_id",
        "x",
        "y",
        F.least(
            F.when(F.col("cnt") >= k, F.col("dist")).otherwise(
                F.lit(float("inf"))
            ),
            F.lit(mr),
        ).alias("bound"),
        F.expr(key_expr).alias("home_key"),
        "home_edge",
    )
    # queries whose home cell holds no images never reach p1: recover them
    # with a BROADCAST anti join against the (small) part_keys table.
    # (With a finite max_radius a query CAN also vanish from p1 because all
    # home-cell points are out of radius — those queries are NOT in
    # bound_rows; recover them through the same anti join on p1 query ids.)
    absent = (
        q_home.join(part_keys, "key", "left_anti")
        .select(
            "query_id", "x", "y",
            F.lit(mr).alias("bound"),
            F.col("key").alias("home_key"),
            F.lit(0.0).alias("home_edge"),  # empty home: always probe
        )
    )
    if np.isfinite(mr):
        emptied = (
            q_home.join(part_keys, "key", "left_semi")
            .join(
                F.broadcast(p1_topk.select("query_id").distinct()),
                "query_id",
                "left_anti",
            )
            .select(
                "query_id", "x", "y",
                F.lit(mr).alias("bound"),
                F.col("key").alias("home_key"),
                F.lit(0.0).alias("home_edge"),
            )
        )
        absent = absent.unionByName(emptied)
    q_b = bound_rows.unionByName(absent)
    # home-edge early exit (the dominant pruning term at scale — the
    # O(Q x C) cell sweep otherwise): a query whose bound is STRICTLY
    # inside its home grid cell cannot be improved by any other cell (all
    # their points are >= edge away; keys partition space, so other cells'
    # regions are disjoint even across refinement levels).  Strict '<'
    # keeps exact tie semantics: an outside point at dist == bound could
    # still displace the kth by image_id order, so bound == edge probes.
    q_b = q_b.filter(~(F.col("bound") < F.col("home_edge"))).drop("home_edge")
    p2_cand = _knn_candidates(spark, q_b, stats, k, exclude_home=True, spread=False)
    p2_cand = _register_cache(
        p2_cand.join(part_keys, "key").select("query_id", "x", "y", "part_key"),
        cache_registry,
    )
    # ONE builder job (round-4, VERDICT #5): collecting the probed
    # part_keys materializes the p1_topk cache (upstream) AND the p2_cand
    # cache as a side effect, and replaces the probe-keys broadcast
    # exchange with an InSet pushdown on the corpus — the round-3 floor
    # (explicit count job + broadcast job) is gone.  Probing only the
    # touched cells still matters: without it the whole corpus
    # re-shuffles for a handful of boundary queries.
    keys = [r["part_key"] for r in p2_cand.select("part_key").distinct().collect()]
    img_probe = _probe_filter(spark, img_salted, keys)
    p2 = (
        p2_cand.groupby("part_key")
        .cogroup(img_probe.groupby("part_key"))
        .applyInArrow(_make_knn_group(k, max_radius=max_radius), schema=schema)
    )

    # re-rank ONLY queries that phase 2 probed (broadcast semi/anti joins —
    # no Q-sized shuffle); everyone else's phase-1 ranks are already final
    affected = F.broadcast(p2_cand.select("query_id").distinct())
    untouched = p1_topk.join(affected, "query_id", "left_anti").select(
        "query_id", "image_id", "dist", F.col("rank").cast("int")
    )
    touched_p1 = p1_topk.join(affected, "query_id", "left_semi").select(
        "query_id", "image_id", "dist"
    )
    reranked = (
        touched_p1.unionByName(p2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "image_id", "dist", F.col("rank").cast("int"))
    )
    # p1_topk/p2_cand stay persisted until the NEXT join call releases them
    # (they must outlive the lazy returned plan's execution)
    return untouched.unionByName(reranked)


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
        img = with_coords(images).select("image_id", "x", "y")
        if level is None:
            n = n_images_hint if n_images_hint is not None else img.count()
            level = cells.level_for_count(n)
        self.level = level
        self.img = img
        self.stats = collect_cell_stats(img, level, max_cell_rows)
        # persist PRE-PARTITIONED on the cogroup key: the cached partitioning
        # satisfies both phases' clustered-distribution requirement, so query
        # batches shuffle only the (small) candidate side — the in-memory
        # twin of the bucket-stored layout (bucketstore.py); verified by
        # tests/test_engine_spark.py::test_geoindex_no_corpus_exchange
        self.img_salted = (
            _salted_images(spark, img, self.stats)
            .repartition(_parallelism(spark), "part_key")
            .persist()
        )
        self.img_salted.count()  # materialize
        self.part_keys = F.broadcast(
            spark.createDataFrame(
                _candidate_part_keys(self.stats), schema=_PART_KEYS_SCHEMA
            )
        )
        # per-index intermediate-cache registry: a new join on THIS index
        # releases THIS index's previous intermediates (consume or
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
            self.part_keys,
            queries,
            k,
            max_radius=max_radius,
            cache_registry=self._caches,
        )

    def radius_join(self, queries: DataFrame, r: float) -> DataFrame:
        return _radius_join_on_index(
            self.spark, self.img_salted, self.stats, self.part_keys, queries, r,
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
        cand = q.join(self.part_keys, "key").select("query_id", "x", "y", "part_key")

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
    img = with_coords(images).select("image_id", "x", "y")
    if level is None:
        n = n_images_hint if n_images_hint is not None else img.count()
        level = cells.level_for_count(n)
    stats = collect_cell_stats(img, level, max_cell_rows)
    img_salted = _salted_images(spark, img, stats)
    part_keys = F.broadcast(spark.createDataFrame(
        _candidate_part_keys(stats), schema=_PART_KEYS_SCHEMA
    ))
    return _radius_join_on_index(
        spark, img_salted, stats, part_keys, queries, r, carry_xy=carry_xy
    )


def _plan_group_splits(
    keys: np.ndarray,
    cand_rows: np.ndarray,
    corpus_rows: np.ndarray,
    parallelism: int,
    split_target: int,
    gate: float,
    min_rows_per_split: int = 64,
) -> dict[int, int]:
    """The split DECISION, Spark-free: part_key -> sub-group count for the
    groups to split query-side (empty = cogroup on part_key unsplit).
    Work per group is candidate rows x corpus rows.  Nothing splits
    unless the heaviest group exceeds ``gate`` x the balanced per-core
    share total_work / parallelism (0 = no gate).  Any split re-keys the
    cogroup on (part_key, gsalt), re-exchanging the WHOLE probed corpus
    and rebuilding each split group's tree once per sub-group, so for
    kNN it pays only when one group is the critical path (see
    so3engine._KNN_SPLIT_GATE).

    Past the gate the sizing is adaptive: aim for ~3 waves of
    ``parallelism`` tasks (a few hot groups otherwise leave most cores
    idle: event-log measurement, E=4x8 local-cluster, 9-14 phase-2 tasks
    with max task ~= stage wall), never finer than split_target/64 and
    never coarser than the static split_target; at most 256 sub-groups
    and >= min_rows_per_split candidate rows each (finer buys no balance
    and multiplies per-sub-group tree builds)."""
    cand_rows = np.asarray(cand_rows, np.int64)
    work = cand_rows * np.asarray(corpus_rows, np.int64)
    total = int(work.sum())
    par = max(1, int(parallelism))
    if total == 0 or int(work.max()) * par <= gate * total:
        return {}
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
    gate: float = 0.0,
    min_rows_per_split: int = 64,
):
    """The ONE phase-2 split planner (planar radius, SO(3) and SE(3) kNN
    and radius).  A dense group receiving many probing rows hands ONE
    cogroup task candidates x corpus rows of work (measured stragglers:
    the se3 sf1 radius run serialized for minutes on one task), so such a
    group is split query-side.  ONE collect over the cached candidate
    side: the per-part_key candidate counts fill the cache, yield the
    probed part_keys for the corpus probe filter AND feed
    _plan_group_splits.  ``group_rows(keys)`` is the space's corpus row
    count per cogroup key, as an int64 array aligned with ``keys``.

    Radius joins keep the default ``gate=0``: candidates x corpus rows
    underweights a hot radius group, whose output is ~all of its pairs
    while a sparse group's is a small fraction.  Measured on sf0.1
    radius_join_r2 at local[4]: heaviest group 0.67x a core's share by
    that estimate, yet the unsplit cogroup's slowest task ran 4.6-5.6 s
    of an 11.5 s stage: min-of-3 5.4-5.9 s unsplit vs 3.9-4.3 s split.

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
        split_target, gate, min_rows_per_split,
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
    explode maps are createDataFrame broadcasts.  Hence the gate
    in _plan_group_splits.

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


def _radius_join_on_index(
    spark: SparkSession,
    img_salted: DataFrame,
    stats: CellStats,
    part_keys: DataFrame,
    queries: DataFrame,
    r: float,
    cache_registry: list[DataFrame] | None = None,
    carry_xy: bool = False,
) -> DataFrame:
    if cache_registry is None:
        cache_registry = _ONESHOT_CACHES
    _release_registry(cache_registry)  # PREVIOUS call in this scope only
    q = queries.select(
        "query_id", F.col("qlon").alias("x"), F.col("qlat").alias("y")
    ).filter(_FINITE_QUERY)
    g_mnx, g_mny, g_mxx, g_mxy, g_order, g_start = _coarse_groups(stats)
    bc = spark.sparkContext.broadcast(
        (
            stats.keys, stats.min_x, stats.min_y, stats.max_x, stats.max_y,
            g_mnx, g_mny, g_mxx, g_mxy, g_order, g_start,
        )
    )
    q = q.repartition(_parallelism(spark))

    def gen(batches):
        # mapInArrow: the candidate table is output-sized (one row per
        # admitted (query, cell) pair) — building it as Arrow take/array
        # calls skips the pandas object-string round trip both ways
        keys, mnx, mny, mxx, mxy, gmnx, gmny, gmxx, gmxy, gorder, gstart = bc.value
        C = len(keys)
        G_ = len(gmnx)
        for rb in batches:
            if rb.num_rows == 0 or C == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            qid = tbl.column("query_id").chunk(0)
            qx = _pa_np(tbl, "x")
            qy = _pa_np(tbl, "y")
            chunk = max(256, 8_000_000 // max(G_, 1))
            for c0 in range(0, rb.num_rows, chunk):
                sl = slice(c0, min(c0 + chunk, rb.num_rows))
                px, py = qx[sl], qy[sl]
                # two-level: coarse group boxes, then members of passing
                # groups only (same structure as _knn_candidates)
                dmin_g = cells.bbox_min_dist(
                    px[:, None], py[:, None],
                    gmnx[None, :], gmny[None, :], gmxx[None, :], gmxy[None, :],
                )
                adm_g = dmin_g <= r
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
                    qi_l, ci_l = np.nonzero(dmin <= r)
                    if len(qi_l) > 0:
                        out_qi.append(rows_g[qi_l])
                        out_ci.append(mem[ci_l])
                if not out_qi:
                    continue
                qi = np.concatenate(out_qi)
                ci = np.concatenate(out_ci)
                yield pa.RecordBatch.from_pydict(
                    {
                        "query_id": pc.take(qid, pa.array(qi + c0)),
                        "x": pa.array(qx[qi + c0]),
                        "y": pa.array(qy[qi + c0]),
                        "key": pa.array(keys[ci]),
                    }
                )

    cand = q.mapInArrow(gen, schema="query_id string, x double, y double, key long")
    cand = cand.join(part_keys, "key").select("query_id", "x", "y", "part_key")
    # cache + ONE collect (counts): fills the cache, drives the corpus
    # probe filter AND the heavy-group split (guide §2.5: the hot-cell
    # group was a measured single-task straggler)
    cand = _register_cache(cand, cache_registry)
    cand, img_probe, gcols = _split_heavy_cogroups(
        spark, cand, img_salted, _cell_group_rows(stats)
    )

    out_schema = "query_id string, image_id string, dist double"
    if carry_xy:
        out_schema += ", qx double, qy double, ix double, iy double"
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

    return (
        cand.groupby(*gcols)
        .cogroup(img_probe.groupby(*gcols))
        .applyInArrow(radius_group, schema=out_schema)
    )


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
