#!/usr/bin/env python3
"""Self-test of the benchmark at toy sizes (about two minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that BENCHMARK.json and the metrics the benchmark prints agree on
names and units, that the oracle gate catches a corrupted result, and that
a raised op and a corrupted op count as failed ops.  Exits 0 when all pass.
"""

from __future__ import annotations

import dataclasses
import json
import shutil
import sys

import run as R

sys.path.insert(0, str(R.ROOT))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402

import workloads as W  # noqa: E402

TOY = {"n_corpus": 3_000, "n_queries": 60}


def toy(name: str) -> W.Workload:
    return dataclasses.replace(W.WORKLOADS[name], **TOY)


def check_names_and_units() -> None:
    spec = json.loads((R.ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.PER_LAYER_UNITS
    assert {x["name"] for x in spec["workloads"]} <= set(W.WORKLOADS)


def check_oracle_catches_corruption() -> None:
    """The exact answer passes; one ulp, one swapped id or one lost row
    fails, for every workload kind."""
    for name in W.WORKLOADS:
        w = toy(name)
        corpus = W.corpus_table(w, 7)
        queries = W.query_table(w, 8)
        o = W.Oracle(w, corpus)
        want = o.expected(queries, pa.table({"query_id": [], o.id_col: []}))
        cols = {
            "query_id": queries.column("query_id").take(pa.array(want["q"])),
            o.id_col: o.ids.take(pa.array(want["p"])),
            "dist": pa.array(want["dist"]),
        }
        if w.k:
            cols["rank"] = pa.array(want["rank"], pa.int32())
        good = pa.table(cols)
        assert good.num_rows > 10, name
        assert o.mismatch(queries, good) is None, name

        d = want["dist"].copy()
        d[5] = np.nextafter(d[5], np.inf)
        ulp = good.set_column(good.column_names.index("dist"), "dist", pa.array(d))
        ids = good.column(o.id_col).to_pylist()
        ids[5] = o.ids[(int(want["p"][5]) + 1) % len(o.ids)].as_py()
        swapped = good.set_column(
            good.column_names.index(o.id_col), o.id_col, pa.array(ids)
        )
        for bad in (ulp, swapped, good.slice(1)):
            assert o.mismatch(queries, bad) is not None, name


def check_runs(spark, work) -> None:
    from pyspark.sql import functions as F

    def result(name, traced=False, join=None):
        return R.bench(spark, toy(name), 3, 1.0, traced, work, join=join)[0]

    for name in ("geo_knn_small", "pose_knn"):
        res = result(name)
        assert res["correct"] and res["failed"] == 0, res
        assert set(res["metrics"]) == set(R.END_TO_END_UNITS), res["metrics"]
        assert all(v > 0 for v in res["metrics"].values()), res["metrics"]
        res = result(name, traced=True)
        assert res["correct"], res
        assert set(res["metrics"]) == set(R.PER_LAYER_UNITS), res["metrics"]
        assert res["metrics"]["index.jobs_per_op"] >= 1, res["metrics"]

    calls = []

    def raise_on_second(index, w, queries):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected failure")
        return W.join(index, w, queries)

    res = result("geo_knn_small", join=raise_on_second)
    assert not res["correct"] and res["failed"] == 1, res
    assert res["summary"]["op_fail_ratio"] == 1 / res["attempted"], res

    def corrupt(index, w, queries):
        df = W.join(index, w, queries)
        return df.withColumn(
            "dist", F.when(F.col("rank") == 2, F.col("dist") * 1.5).otherwise(F.col("dist"))
        )

    res = result("geo_knn_small", join=corrupt)
    assert not res["correct"] and res["failed"] == 1, res  # the checked op


def main() -> int:
    check_names_and_units()
    check_oracle_catches_corruption()
    work = R.WORK / "selftest"
    try:
        with R.spark_session(work) as spark:
            check_runs(spark, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
