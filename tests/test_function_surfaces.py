"""Coverage for the public SQL/scalar surfaces that plans build on:
the md5-60bit Spark/DuckDB idiom pair, grid cell exprs vs the layout's
leaf keys, the SQL-body so3 distance function, and SO(3) validity."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from sparkkd import datapipe, functions as fx, so3engine as S

pytestmark = pytest.mark.spark


def so3_cell_sql(level: int) -> str:
    """Oracle: 4-D grid id over the CANONICALIZED coefficients in
    [-1, 1]^4."""
    s = S.canon_sign_sql()
    return S.grid_cell_sql(
        [f"({s} * {c})" for c in S.QCOLS], [(-1.0, 2.0)] * 4, level
    )


def trans_cell_sql(bounds: list[tuple[float, float]], level: int) -> str:
    """Oracle: 3-D grid id over translation with data-derived bounds."""
    return S.grid_cell_sql(
        list(S.TCOLS), [(lo, max(hi - lo, 1e-9)) for lo, hi in bounds], level
    )


def test_md5_hash60_spark_duckdb_parity(spark):
    """The shared 60-bit md5 hash family must produce IDENTICAL values in
    both engines — the foundation of every minhash/simhash/LSH oracle."""
    from pyspark.sql import functions as F

    vals = ["", "a", "hello world", "0:shingle text", "ünïcode"]
    df = spark.createDataFrame(pd.DataFrame({"s": vals}))
    got = (
        df.withColumn("h", F.expr(datapipe.md5_hash60_spark("s")))
        .toPandas().sort_values("s")
    )
    con = duckdb.connect()
    want = con.execute(
        f"SELECT s, {datapipe.md5_hash60_duckdb('s')} AS h FROM "
        "(SELECT unnest(?) AS s)", [vals]
    ).df().sort_values("s")
    assert list(got["h"]) == list(want["h"])


def test_so3_cell_sql_matches_base_leaf_keys(spark):
    """so3_cell_sql at the layout's base level must agree with the leaf
    keys build_layout assigns to unrefined cells."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    q = rng.normal(size=(400, 4))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "pose_id": [f"p{i:05d}" for i in range(len(q))],
            "qw": q[:, 0], "qx": q[:, 1], "qy": q[:, 2], "qz": q[:, 3],
        }
    )
    poses = spark.createDataFrame(pdf)
    sign = S.canon_sign_sql()
    canon = poses.select(
        "pose_id", *S.QCOLS,
        *[(F.expr(f"{sign} * {c}")).alias(f"c{c[1]}") for c in S.QCOLS],
    )
    level = 2
    lay = S.build_layout(
        canon, list(S.CCOLS), [(-1.0, 2.0)] * 4, list(S.CCOLS), 4, level, 10_000
    )
    assert lay.refine_level is None  # big budget: no refinement
    got = (
        canon.withColumn("cell", F.expr(so3_cell_sql(level)))
        .groupBy("cell").count().toPandas().sort_values("cell")
    )
    want_cells = lay.leaf_keys & S.CELL_MASK
    order = np.argsort(want_cells)
    assert np.array_equal(got["cell"].to_numpy(np.int64), want_cells[order])
    assert np.array_equal(got["count"].to_numpy(np.int64), lay.leaf_counts[order])


def test_trans_cell_sql_grid_assignment(spark):
    from pyspark.sql import functions as F

    rng = np.random.default_rng(4)
    t = rng.uniform(-5, 5, size=(200, 3))
    pdf = pd.DataFrame({"tx": t[:, 0], "ty": t[:, 1], "tz": t[:, 2]})
    df = spark.createDataFrame(pdf)
    bounds = [(-5.0, 5.0)] * 3
    lvl = 2
    got = df.withColumn(
        "cell", F.expr(trans_cell_sql(bounds, lvl))
    ).toPandas()["cell"].to_numpy(np.int64)
    n = 1 << lvl
    idx = np.clip(np.floor((t + 5.0) / 10.0 * n), 0, n - 1).astype(np.int64)
    want = (idx[:, 0] * n + idx[:, 1]) * n + idx[:, 2]
    assert np.array_equal(got, want)


def test_register_sql_functions_so3_distance(spark):
    """The SQL-body function must equal the NumPy scalar on random pairs
    up to the JVM/libm 1-ulp acos gap."""
    fx.register_sql_functions(spark)
    rng = np.random.default_rng(9)
    a = rng.normal(size=(50, 4)); a /= np.linalg.norm(a, axis=1, keepdims=True)
    b = rng.normal(size=(50, 4)); b /= np.linalg.norm(b, axis=1, keepdims=True)
    pdf = pd.DataFrame({"a": a.tolist(), "b": b.tolist()})
    got = (
        spark.createDataFrame(pdf)
        .selectExpr("sparkkd_so3_distance(a, b) AS d")
        .toPandas()["d"].to_numpy()
    )
    want = fx.so3_distance(a, b)
    assert np.allclose(got, want, atol=1e-12)


def test_so3_is_valid():
    rng = np.random.default_rng(10)
    q = rng.normal(size=(20, 4))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    bad = q.copy()
    bad[0] *= 1.1  # not unit
    ok = fx.so3_is_valid(np.vstack([q, bad[:1]]))
    assert ok[:20].all() and not ok[20]
