"""Spark engine end-to-end: exactness vs DuckDB/NumPy oracles at sf0.001.

These are the distributed twins of the kernel oracle tests — the
north_star requires row-for-row equality of join output and tile
assignment, caption byte-equality and decoded-pixel exactness through the
full shuffle + Arrow path.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from sparkkd import cells, codec, engine, kernel, synth

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def tables(spark, sf0001_fixtures):
    root = sf0001_fixtures
    return {
        "root": root,
        "images": spark.read.parquet(str(root / "images.parquet")),
        "queries": spark.read.parquet(str(root / "queries.parquet")),
        "polygons": spark.read.parquet(str(root / "polygons.parquet")),
        "tiles": spark.read.parquet(str(root / "tiles.parquet")),
    }


def oracle_knn(root, k):
    lat, lon = cells.phash_lat_sql(), cells.phash_lon_sql()
    return duckdb.connect().execute(
        f"""
        WITH img AS (SELECT image_id, {lat} AS y, {lon} AS x
                     FROM read_parquet('{root}/images.parquet')),
        q AS (SELECT query_id, qlat AS y, qlon AS x
              FROM read_parquet('{root}/queries.parquet')),
        d AS (SELECT q.query_id, img.image_id,
                sqrt((img.x - q.x)*(img.x - q.x) + (img.y - q.y)*(img.y - q.y)) AS dist
              FROM q CROSS JOIN img)
        SELECT query_id, image_id, dist,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY dist, image_id) AS INT) AS rank
        FROM d QUALIFY rank <= {k}
        """
    ).df()


def test_spark_sql_coord_parity(spark, tables):
    """Spark-evaluated phash->coords and cell ids match NumPy bit-for-bit
    (guards against DECIMAL literal inference)."""
    from pyspark.sql import functions as F

    pdf = (
        tables["images"]
        .select(
            "phash",
            F.expr(cells.phash_lat_sql()).alias("y"),
            F.expr(cells.phash_lon_sql()).alias("x"),
            F.expr(cells.cell_id_sql(cells.phash_lon_sql(), cells.phash_lat_sql(), 7)).alias("c"),
        )
        .toPandas()
    )
    lat, lon = cells.phash_to_coords(pdf["phash"].to_numpy())
    assert np.array_equal(pdf["y"].to_numpy(), lat)
    assert np.array_equal(pdf["x"].to_numpy(), lon)
    assert np.array_equal(pdf["c"].to_numpy(), cells.cell_id(lon, lat, 7))
    assert pdf["y"].dtype == np.float64


@pytest.mark.parametrize("k", [1, 8])
def test_knn_join_exact(spark, tables, k):
    got = (
        engine.knn_join(spark, tables["images"], tables["queries"], k=k)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = (
        oracle_knn(tables["root"], k)
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["image_id"].to_numpy() == want["image_id"].to_numpy()).all()
    assert np.array_equal(got["dist"].to_numpy(), want["dist"].to_numpy())  # bit-exact
    assert np.array_equal(got["rank"].to_numpy(), want["rank"].to_numpy())


def test_knn_join_exact_under_aggressive_salting(spark, tables):
    """Tiny max_cell_rows forces multi-salt cells everywhere; results must
    be identical (all salted sub-trees probed)."""
    got = (
        engine.knn_join(spark, tables["images"], tables["queries"], k=4, max_cell_rows=64)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = oracle_knn(tables["root"], 4).sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (got["image_id"].to_numpy() == want["image_id"].to_numpy()).all()


def test_radius_join_exact(spark, tables):
    r = 3.0
    got = engine.radius_join(spark, tables["images"], tables["queries"], r=r).toPandas()
    root = tables["root"]
    lat, lon = cells.phash_lat_sql(), cells.phash_lon_sql()
    want = duckdb.connect().execute(
        f"""
        WITH img AS (SELECT image_id, {lat} AS y, {lon} AS x
                     FROM read_parquet('{root}/images.parquet')),
        q AS (SELECT query_id, qlat AS y, qlon AS x
              FROM read_parquet('{root}/queries.parquet'))
        SELECT q.query_id, img.image_id,
               sqrt((img.x - q.x)*(img.x - q.x) + (img.y - q.y)*(img.y - q.y)) AS dist
        FROM q CROSS JOIN img
        WHERE sqrt((img.x - q.x)*(img.x - q.x) + (img.y - q.y)*(img.y - q.y)) <= {r}
        """
    ).df()
    key = ["query_id", "image_id"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    assert (got_s["image_id"].to_numpy() == want_s["image_id"].to_numpy()).all()
    assert np.array_equal(got_s["dist"].to_numpy(), want_s["dist"].to_numpy())


def test_pip_join_matches_scalar_raycast(spark, tables):
    got = (
        engine.pip_join(spark, tables["images"], tables["polygons"])
        .toPandas()
        .sort_values(["image_id", "poly_id"])
        .reset_index(drop=True)
    )
    # scalar oracle: same even-odd rule, plain Python loops
    img = tables["images"].toPandas()
    lat, lon = cells.phash_to_coords(img["phash"].to_numpy())
    polys = engine._polygon_arrays(tables["polygons"].toPandas())
    rows = []
    for pid, e in polys.items():
        inside = engine.ray_cast_inside(lon, lat, e)
        for i in np.nonzero(inside)[0]:
            rows.append((img["image_id"].iloc[i], pid))
    want = pd.DataFrame(rows, columns=["image_id", "poly_id"]).sort_values(
        ["image_id", "poly_id"]
    ).reset_index(drop=True)
    assert got.equals(want)
    assert len(got) > 0  # fixture actually exercises the operator


def test_raster_vector_join_matches_brute_force(spark, tables):
    foot = engine.footprints_from_polygons(tables["polygons"])
    got = (
        engine.raster_vector_join(spark, tables["tiles"], foot)
        .toPandas()
        .sort_values(["tile_id", "poly_id"])
        .reset_index(drop=True)
    )
    tiles = tables["tiles"].toPandas()
    fp = foot.toPandas()
    rows = [
        (t.tile_id, p.poly_id)
        for _, t in tiles.iterrows()
        for _, p in fp.iterrows()
        if p.mnx <= t.max_x and p.mxx >= t.min_x and p.mny <= t.max_y and p.mxy >= t.min_y
    ]
    want = pd.DataFrame(rows, columns=["tile_id", "poly_id"]).sort_values(
        ["tile_id", "poly_id"]
    ).reset_index(drop=True)
    assert got.equals(want)
    assert len(got) > 0


def test_payload_fidelity_through_knn(spark, tables):
    """Captions byte-equal and pixels decode exactly after the full
    shuffle+Arrow join path (north_star per-row invariant)."""
    res = engine.knn_join(spark, tables["images"], tables["queries"], k=2)
    joined = res.join(tables["images"], "image_id").select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    )
    pdf = joined.toPandas().drop_duplicates("image_id")
    src = tables["images"].toPandas().set_index("image_id")
    for _, row in pdf.head(200).iterrows():
        assert row["caption"] == src.loc[row["image_id"], "caption"]  # byte-equal
        px = codec.decode(bytes(row["bytes"]), row["fmt"], row["w"], row["h"])
        want = synth.expected_pixels(row["phash"], row["w"], row["h"])
        if codec.is_lossless(row["fmt"]):
            assert (px == want).all()
        else:  # lossy q6: north-rule PSNR floor + bounded per-channel error
            assert np.abs(px.astype(np.int16) - want.astype(np.int16)).max() <= 3
            assert codec.psnr(px, want) >= 40.0


def test_tile_assignment_stable_across_partitioning(spark, tables):
    """Cell assignment must not depend on physical partitioning
    (FIXTURES.md invariant 2)."""
    img = engine.with_cell(engine.with_coords(tables["images"]), 7)
    a = img.select("image_id", "cell_id").toPandas().sort_values("image_id")
    b = (
        engine.with_cell(engine.with_coords(tables["images"].repartition(17)), 7)
        .select("image_id", "cell_id")
        .toPandas()
        .sort_values("image_id")
    )
    assert np.array_equal(a["cell_id"].to_numpy(), b["cell_id"].to_numpy())


def test_cell_lineage_counts(spark, tables):
    lin = engine.cell_lineage(tables["images"], 7).toPandas()
    assert lin["n_rows"].sum() == tables["images"].count()
    assert (lin["min_x"] <= lin["max_x"]).all()
    assert (lin["tree_depth"] >= 0).all()


def test_geoindex_no_corpus_exchange(spark, tables):
    """The GeoIndex corpus is persisted pre-partitioned on part_key: a
    cogroup against it must reuse the cached partitioning — the ONLY
    Exchange in a minimal candidate-vs-corpus cogroup plan is the
    candidate side's (the in-memory twin of the bucket-stored layout)."""
    import re

    import pandas as pd

    idx = engine.GeoIndex(spark, tables["images"], n_images_hint=2000)
    try:
        cand = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": ["q0"],
                    "x": [0.0],
                    "y": [0.0],
                    "part_key": [int(idx.stats.keys[0]) << engine.SALT_SHIFT],
                }
            )
        )
        probe = (
            cand.groupby("part_key")
            .cogroup(idx.img_salted.groupby("part_key"))
            .applyInArrow(
                engine._make_knn_group(1),
                schema="query_id string, image_id string, dist double",
            )
        )
        probe.count()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # the executed plan of this two-child op must shuffle ONLY the
        # candidate side.  Per-query requirement shuffles are tagged
        # ENSURE_REQUIREMENTS (the cached plan's one-time REPARTITION_BY_NUM
        # build shuffle also prints inside InMemoryRelation — not per-query
        # work); exactly one may exist, and the corpus must flow in through
        # the cache.
        ex_lines = {
            ln.strip()
            for ln in plan.splitlines()
            if re.search(r"Exchange hashpartitioning.*ENSURE_REQUIREMENTS", ln)
        }
        assert len(ex_lines) == 1, plan
        assert "InMemoryTableScan" in plan
    finally:
        idx.unpersist()


def test_radius_join_forced_heavy_split_identical(spark, tables, monkeypatch):
    """Round-6 heavy-cogroup split regression: forcing every radius
    cogroup to split query-side (tiny split target) must return exactly
    the same pair set as the effectively-unsplit default — each (query,
    cell-salt) pair is evaluated exactly once under any gsalt fan-out,
    and carry_xy coordinates survive the split unchanged."""
    r = 3.0
    base = (
        engine.radius_join(spark, tables["images"], tables["queries"], r=r)
        .toPandas()
        .sort_values(["query_id", "image_id"])
        .reset_index(drop=True)
    )
    orig = engine._split_heavy_cogroups
    saw_gsalt = {}

    def forced(spark_, cand, corpus, group_rows, **kw):
        c, p, gcols = orig(
            spark_, cand, corpus, group_rows,
            split_target=128, min_rows_per_split=2,
        )
        saw_gsalt["yes"] = "gsalt" in c.columns and "gsalt" in gcols
        return c, p, gcols

    monkeypatch.setattr(engine, "_split_heavy_cogroups", forced)
    got = (
        engine.radius_join(
            spark, tables["images"], tables["queries"], r=r, carry_xy=True
        )
        .toPandas()
        .sort_values(["query_id", "image_id"])
        .reset_index(drop=True)
    )
    # the forced run must actually have exercised the gsalt fan-out —
    # otherwise this test silently degrades to the unsplit path
    assert saw_gsalt.get("yes") is True
    assert len(got) == len(base)
    assert (got["query_id"].to_numpy() == base["query_id"].to_numpy()).all()
    assert (got["image_id"].to_numpy() == base["image_id"].to_numpy()).all()
    assert (got["dist"].to_numpy() == base["dist"].to_numpy()).all()
    # carried coordinates reproduce the pair distance exactly as computed
    d = np.sqrt((got.qx - got.ix) ** 2 + (got.qy - got.iy) ** 2)
    assert np.allclose(d.to_numpy(), got["dist"].to_numpy(), rtol=0, atol=0)
