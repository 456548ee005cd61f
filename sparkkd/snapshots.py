"""Snapshot / manifest layer: Iceberg-emulating checkpoints + lineage.

No Iceberg runtime jars exist in this sandbox (verified: pyspark/jars has no
iceberg-spark-runtime), so the engine emulates the parts the north_rule
needs with parquet + JSON manifests, format-compatible in spirit:

* **Immutable snapshots**: each snapshot is a manifest JSON listing the
  parquet files it contains plus a parent pointer — appending creates a NEW
  snapshot that references the parent's files and adds delta files; nothing
  is rewritten.  Time-travel = read any manifest by id.
* **Log-structured append + amortized compaction** — the distributed twin
  of the reference's dynamic-insert logarithmic method (append + rebuild of
  the trailing power-of-2 block, ``src/_kdtree_median.hpp:433-441``; reads
  scan a forest of trees, ``:394-407``): readers union base + delta files;
  ``compact()`` rewrites one merged file set when the delta row count
  reaches the base row count (the same doubling rule).
* **Per-partition lineage**: every snapshot write records a metrics table
  (cell id, row count, bbox, tree depth estimate) under ``metrics/``.
* **Resumable pipelines**: ``CheckpointedPipeline`` runs named stages whose
  outputs are parquet + a ``_DONE`` marker; re-running after a kill skips
  completed stages and reproduces identical output (north_rule: resumable
  from checkpoint).

If ``iceberg-spark-runtime`` ever becomes loadable, only this module needs
swapping.
"""

from __future__ import annotations

import atexit
import json
import shutil
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from . import engine


def temp_store_dir(prefix: str) -> str:
    """A fresh directory under the system temp dir for a throwaway
    SnapshotStore, removed at interpreter exit rather than when the caller
    returns: a lazy frame read from the store stays valid while the
    process lives, and the store no longer outlives it."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


class SnapshotStore:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        (self.root / "data").mkdir(parents=True, exist_ok=True)
        (self.root / "manifests").mkdir(parents=True, exist_ok=True)
        (self.root / "metrics").mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------ manifest

    def _manifest_path(self, snap_id: int) -> Path:
        return self.root / "manifests" / f"snap-{snap_id:08d}.json"

    def latest_snapshot_id(self) -> int | None:
        ids = sorted(
            int(p.stem.split("-")[1]) for p in (self.root / "manifests").glob("snap-*.json")
        )
        return ids[-1] if ids else None

    def manifest(self, snap_id: int | None = None) -> dict:
        if snap_id is None:
            snap_id = self.latest_snapshot_id()
            if snap_id is None:
                raise FileNotFoundError("no snapshots")
        return json.loads(self._manifest_path(snap_id).read_text())

    # --------------------------------------------------------------- write

    def _write_files(self, df: DataFrame, label: str) -> tuple[list[str], int]:
        out = self.root / "data" / f"{label}-{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(str(out))
        files = sorted(str(p) for p in out.glob("*.parquet"))
        import pyarrow.parquet as pq

        n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return files, n

    def _commit(self, files: list[str], n_rows: int, parent: int | None,
                base_rows: int, delta_rows: int, op: str,
                extra: dict | None = None) -> int:
        snap_id = (self.latest_snapshot_id() or 0) + 1
        man = {
            "snapshot_id": snap_id,
            "parent_id": parent,
            "operation": op,
            "files": files,
            "n_rows": n_rows,
            "base_rows": base_rows,
            "delta_rows": delta_rows,
        }
        if extra:
            man.update(extra)
        tmp = self._manifest_path(snap_id).with_suffix(".tmp")
        tmp.write_text(json.dumps(man, indent=1))
        tmp.rename(self._manifest_path(snap_id))
        return snap_id

    def write(self, df: DataFrame) -> int:
        """Initial snapshot (static bulk build analogue, reference C1)."""
        files, n = self._write_files(df, "base")
        return self._commit(files, n, None, base_rows=n, delta_rows=0, op="append-base")

    def append(self, df: DataFrame) -> int:
        """Log-structured append (dynamic insert analogue, reference C6)."""
        parent = self.latest_snapshot_id()
        if parent is None:
            return self.write(df)
        man = self.manifest(parent)
        files, n = self._write_files(df, "delta")
        return self._commit(
            man["files"] + files,
            man["n_rows"] + n,
            parent,
            base_rows=man["base_rows"],
            delta_rows=man["delta_rows"] + n,
            op="append-delta",
        )

    def read(self, spark: SparkSession, snap_id: int | None = None) -> DataFrame:
        man = self.manifest(snap_id)
        return spark.read.parquet(*man["files"])

    def needs_compaction(self, snap_id: int | None = None) -> bool:
        """Doubling rule: compact when deltas reach the base size (the
        reference rebuilds the trailing block of size ~2^j on insert)."""
        man = self.manifest(snap_id)
        return man["delta_rows"] >= max(man["base_rows"], 1)

    def compact(self, spark: SparkSession) -> int:
        parent = self.latest_snapshot_id()
        man = self.manifest(parent)
        df = self.read(spark, parent)
        files, n = self._write_files(df, "base")
        # lineage keys that must SURVIVE compaction: the ingested-epoch
        # ledger drives streaming exactly-once (a replayed micro-batch after
        # a crash is skipped by epoch id) — wiping it on compact would let a
        # replay re-append rows (see sparkkd.streaming.stream_ingest)
        extra = {k: man[k] for k in ("epochs",) if k in man}
        return self._commit(
            files, n, parent, base_rows=n, delta_rows=0, op="compact", extra=extra
        )

    def expire_unreferenced(self) -> int:
        """Remove data dirs not referenced by any manifest (GC)."""
        referenced = set()
        for p in (self.root / "manifests").glob("snap-*.json"):
            for f in json.loads(p.read_text())["files"]:
                referenced.add(Path(f).parent)
        removed = 0
        for d in (self.root / "data").iterdir():
            if d not in referenced:
                shutil.rmtree(d)
                removed += 1
        return removed

    # ------------------------------------------------------------- lineage

    def write_lineage(self, spark: SparkSession, snap_id: int, level: int) -> str:
        """Per-cell lineage metrics for a snapshot (north_rule)."""
        df = self.read(spark, snap_id)
        out = self.root / "metrics" / f"snap-{snap_id:08d}-cells"
        engine.cell_lineage(df, level).write.mode("overwrite").parquet(str(out))
        return str(out)

    def write_query_metrics(self, metrics: "DataFrame", snap_id: int, label: str = "knn") -> str:
        """Log a query-batch metrics table (GeoIndex.profile_batch output:
        per-cell counts, tree depth, kernel latency) plus its latency
        histogram under metrics/ (north_rule: query latency histograms)."""
        out = self.root / "metrics" / f"snap-{snap_id:08d}-query-{label}"
        metrics.write.mode("overwrite").parquet(str(out))
        hist = engine.latency_histogram(metrics)
        hist.write.mode("overwrite").parquet(str(out) + "-hist")
        return str(out)


class CheckpointedPipeline:
    """Named stages with parquet outputs + done markers: kill anywhere,
    re-run, completed stages are skipped and the final output is identical."""

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def stage_path(self, name: str) -> Path:
        return self.root / name

    def is_done(self, name: str) -> bool:
        return (self.stage_path(name) / "_DONE").exists()

    def run_stage(self, name: str, fn) -> DataFrame:
        """fn: () -> DataFrame.  Executed only if not already done."""
        path = self.stage_path(name)
        if not self.is_done(name):
            if path.exists():
                shutil.rmtree(path)  # partial output from a crash
            fn().write.parquet(str(path))
            (path / "_DONE").touch()
        return self.spark.read.parquet(str(path))
