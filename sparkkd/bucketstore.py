"""Bucket-stored geo index: build once, persist BUCKETED, query many times
with NO corpus shuffle per query batch.

The reference's contract is build-once/query-many (``KDTree`` constructed
over the data, then ``nearest`` called repeatedly,
``src/_kdtree_base.hpp:38-55``).  Round 1's GeoIndex kept the salted
projection cached in executor memory — good within a session, but every
fresh session (and every cache eviction) re-scanned and re-SHUFFLED the
whole corpus.  At 10^12 rows the shuffle is the cost; this module removes
it:

* ``save_geo_index`` writes the salted projection as a parquet table
  bucketed by ``part_key`` (Spark's ``bucketBy`` — files are hash-split by
  the same murmur3 the shuffle would use) with an in-file sort.
* ``BucketedGeoIndex`` answers kNN / radius joins through the SAME plans
  as ``engine.GeoIndex`` (kNN: the single pass of ``_knn_join_on_index``
  — one admission, one cogroup, one merge), but the corpus side's cogroup
  requirement (hash distribution by part_key) is satisfied by the bucketed
  SCAN — the plan shows no Exchange above the corpus file scan; only the
  (small) query/candidate side shuffles.  Verified by
  tests/test_bucketstore.py, which counts Exchange nodes in the executed
  plan.

Pruning statistics (CellStats, leaf table included) are persisted as JSON
next to the data, so a fresh session reconstructs driver-side state
without touching the corpus.  The table survives session restarts: load() re-issues the
``CREATE TABLE ... USING PARQUET CLUSTERED BY ... LOCATION`` DDL when the
(in-memory) catalog lost it.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import engine

INDEX_COLS = "image_id STRING, x DOUBLE, y DOUBLE, key BIGINT, part_key BIGINT"


def _stats_to_json(stats: engine.CellStats) -> str:
    return json.dumps(
        {
            "keys": stats.keys.tolist(),
            "counts": stats.counts.tolist(),
            "min_x": stats.min_x.tolist(),
            "min_y": stats.min_y.tolist(),
            "max_x": stats.max_x.tolist(),
            "max_y": stats.max_y.tolist(),
            "salt_n": stats.salt_n.tolist(),
            "level": stats.level,
            "refinements": [
                [f, t, hot.tolist()] for f, t, hot in stats.refinements
            ],
            "leaf_start": stats.leaf_start.tolist(),
            "leaf_counts": stats.leaf_counts.tolist(),
            "leaf_bbox": stats.leaf_bbox.tolist(),
        }
    )


def _stats_from_json(text: str) -> engine.CellStats:
    """A stats.json written before the leaf table existed loads with one
    leaf per key (the key's own count and bbox): kNN admission then
    bounds from cell-level statistics, exactly as before."""
    d = json.loads(text)
    keys = np.array(d["keys"], np.int64)
    counts = np.array(d["counts"], np.int64)
    box = [np.array(d[c], np.float64) for c in ("min_x", "min_y", "max_x", "max_y")]
    return engine.CellStats(
        keys=keys,
        counts=counts,
        min_x=box[0],
        min_y=box[1],
        max_x=box[2],
        max_y=box[3],
        salt_n=np.array(d["salt_n"], np.int64),
        level=int(d["level"]),
        refinements=[
            (int(f), int(t), np.array(hot, np.int64))
            for f, t, hot in d["refinements"]
        ],
        leaf_start=np.array(d.get("leaf_start", range(len(keys) + 1)), np.int64),
        leaf_counts=np.array(d.get("leaf_counts", counts), np.int64),
        leaf_bbox=np.array(d.get("leaf_bbox", np.column_stack(box)), np.float64).reshape(-1, 4),
    )


def save_geo_index(
    spark: SparkSession,
    images: DataFrame,
    name: str,
    path: str | Path,
    level: int | None = None,
    max_cell_rows: int = 8192,
    n_buckets: int = 32,
    n_images_hint: int | None = None,
) -> "BucketedGeoIndex":
    """Build the salted projection + stats and persist both: parquet files
    bucketed by part_key (with morton-friendly in-bucket sort on key) under
    ``path``, stats JSON beside them, table ``name`` in the catalog."""
    path = Path(path)
    img = engine.with_coords(images).select("image_id", "x", "y")
    if level is None:
        n = n_images_hint if n_images_hint is not None else img.count()
        level = engine.cells.level_for_count(n)
    stats = engine.collect_cell_stats(img, level, max_cell_rows)
    salted = engine._salted_images(spark, img, stats).select(
        "image_id", "x", "y", "key", "part_key"
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        salted.write.mode("overwrite")
        .bucketBy(n_buckets, "part_key")
        .sortBy("part_key", "key")
        .option("path", str(path / "data"))
        .saveAsTable(name)
    )
    meta = {"n_buckets": n_buckets, "name": name}
    (path / "stats.json").write_text(_stats_to_json(stats))
    (path / "meta.json").write_text(json.dumps(meta))
    return BucketedGeoIndex(spark, name, path)


class BucketedGeoIndex:
    """Query-side handle over a saved bucketed index.  Reconstructs the
    catalog entry after a session restart (in-memory catalogs forget), then
    serves the same join surface as engine.GeoIndex — without persist() and
    without a per-query corpus shuffle."""

    def __init__(self, spark: SparkSession, name: str, path: str | Path):
        self.spark = spark
        self.path = Path(path)
        meta = json.loads((self.path / "meta.json").read_text())
        self.name = name or meta["name"]
        self.n_buckets = int(meta["n_buckets"])
        if not spark.catalog.tableExists(self.name):
            spark.sql(
                f"CREATE TABLE {self.name} ({INDEX_COLS}) USING PARQUET"
                f" CLUSTERED BY (part_key) SORTED BY (part_key, key)"
                f" INTO {self.n_buckets} BUCKETS"
                f" LOCATION '{self.path / 'data'}'"
            )
        self.img_salted = spark.table(self.name)
        self.stats = _stats_from_json((self.path / "stats.json").read_text())
        # per-index intermediate-cache registry (see engine.GeoIndex)
        self._caches: list[DataFrame] = []

    @classmethod
    def load(cls, spark: SparkSession, path: str | Path) -> "BucketedGeoIndex":
        meta = json.loads((Path(path) / "meta.json").read_text())
        return cls(spark, meta["name"], path)

    def knn_join(
        self, queries: DataFrame, k: int = 8, max_radius: float = float("inf")
    ) -> DataFrame:
        return engine._knn_join_on_index(
            self.spark,
            self.img_salted,
            self.stats,
            queries,
            k,
            max_radius=max_radius,
        )

    def radius_join(self, queries: DataFrame, r: float) -> DataFrame:
        # pass the per-index registry (like knn_join): without it the
        # radius path would drain/pollute the GLOBAL one-shot registry —
        # freeing e.g. a still-unconsumed checkpoint-backed DBSCAN result
        # and leaking this index's cand cache past unpersist()
        return engine._planar_radius(
            self.spark, self.img_salted, self.stats, queries, r,
            cache_registry=self._caches,
        )
