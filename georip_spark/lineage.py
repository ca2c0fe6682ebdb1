"""Checkpoint-resumable stage execution with per-partition lineage.

The reference has no resumability — a crashed run restarts from
scratch (only per-file exist_ok checks, georip/raster/tools.py:276-279).
The north_rule demands per-partition checkpoint lineage: stage
outputs land in bucketed parquet, a manifest records which buckets
completed (with row counts as metrics), and a resume run recomputes
ONLY the missing buckets via deterministic bucket assignment
(pmod(xxhash64(key), n) — stable across runs and parallelism levels).

On a cluster this maps 1:1 onto Iceberg snapshot/partition semantics
(append per partition, read the manifest instead of _lineage.json);
the filesystem layout here is the dependency-free equivalent.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from georip_spark import functions as GF
from georip_spark.pipeline import DEFAULT_CLASSES, _JOIN_KEYS, _doc_tiles, _plan

BUCKET_COL = "_bucket"


class StageStore:
    """Filesystem-backed store of named, bucketed stage outputs."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def stage_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def manifest_path(self, name: str) -> str:
        return os.path.join(self.stage_dir(name), "_lineage.json")

    def manifest(self, name: str) -> dict:
        p = self.manifest_path(name)
        if not os.path.exists(p):
            return {"buckets": {}, "n_buckets": None}
        with open(p) as f:
            return json.load(f)

    def _save_manifest(self, name: str, m: dict) -> None:
        with open(self.manifest_path(name), "w") as f:
            json.dump(m, f, indent=1)

    def completed_buckets(self, name: str) -> set[int]:
        return {int(b) for b in self.manifest(name)["buckets"]}

    def is_complete(self, name: str, n_buckets: int) -> bool:
        return len(self.completed_buckets(name)) >= n_buckets

    def drop_bucket(self, name: str, bucket: int) -> None:
        """Simulate partial failure / invalidate one partition."""
        m = self.manifest(name)
        m["buckets"].pop(str(bucket), None)
        self._save_manifest(name, m)
        d = os.path.join(self.stage_dir(name), f"{BUCKET_COL}={bucket}")
        if os.path.exists(d):
            shutil.rmtree(d)

    def run_stage(
        self,
        df: DataFrame,
        name: str,
        key_col: str,
        n_buckets: int = 16,
    ) -> DataFrame:
        """Execute (or resume) a stage: bucket rows deterministically,
        compute + append ONLY buckets missing from the manifest, record
        per-bucket row counts + timing, return the full stage output.

        The incremental filter is pushed into the plan
        (`_bucket IN (missing)`), so a resume run's scan prunes
        completed work before any shuffle."""
        os.makedirs(self.stage_dir(name), exist_ok=True)
        bucketed = df.withColumn(
            BUCKET_COL, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
        )
        done = self.completed_buckets(name)
        # Reconcile directory state against the manifest BEFORE deciding
        # what's missing: a prior run may have committed a bucket's
        # parquet write and died before _save_manifest (the window
        # includes the read-back count job). Blind append would then
        # recompute AND re-append those rows — silently duplicating the
        # stage output. Orphan bucket dirs are dropped so the bucket is
        # recomputed exactly once.
        for entry in os.listdir(self.stage_dir(name)):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            try:
                b = int(entry.split("=", 1)[1])
            except ValueError:
                # `_bucket=__HIVE_DEFAULT_PARTITION__` or other junk.
                # With THIS bucket expression it can only be external
                # garbage: pmod(xxhash64(k), n) never yields null —
                # xxhash64(null) returns the seed (42), so null keys
                # land in a real bucket. Treat as orphan; the
                # `isNull()` arm of the recompute filter below keeps
                # resume lossless even if a future bucket expression
                # CAN yield null (ADVICE round 3: `IN (missing)` alone
                # would exclude null rows — silent data loss).
                shutil.rmtree(os.path.join(self.stage_dir(name), entry))
                continue
            if b not in done:
                shutil.rmtree(os.path.join(self.stage_dir(name), entry))
        missing = [b for b in range(n_buckets) if b not in done]
        if missing:
            todo = bucketed.filter(
                F.col(BUCKET_COL).isin(missing) | F.col(BUCKET_COL).isNull()
            )
            t0 = time.time()
            todo.write.mode("append").partitionBy(BUCKET_COL).parquet(self.stage_dir(name))
            elapsed = time.time() - t0
            spark = df.sparkSession
            counts = {
                int(r[BUCKET_COL]): int(r["n"])
                for r in spark.read.parquet(self.stage_dir(name))
                .filter(F.col(BUCKET_COL).isin(missing))
                .groupBy(BUCKET_COL)
                .agg(F.count("*").alias("n"))
                .collect()
            }
            m = self.manifest(name)
            m["n_buckets"] = n_buckets
            for b in missing:
                m["buckets"][str(b)] = {
                    "rows": counts.get(b, 0),
                    "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "batch_sec": round(elapsed, 2),
                }
            self._save_manifest(name, m)
        return (
            df.sparkSession.read.parquet(self.stage_dir(name)).drop(BUCKET_COL)
        )

    def metrics(self, name: str) -> dict:
        """Per-partition lineage metrics for reporting."""
        m = self.manifest(name)
        rows = sum(b["rows"] for b in m["buckets"].values())
        return {
            "stage": name,
            "buckets_done": len(m["buckets"]),
            "n_buckets": m["n_buckets"],
            "rows": rows,
        }


def run_pipeline_with_lineage(
    spark: SparkSession,
    rasters: DataFrame,
    regions: DataFrame,
    store: StageStore,
    n_buckets: int = 16,
) -> DataFrame:
    """build_dataset with stage checkpoints: its tiles and docs_out are
    bucketed by doc_id — a rerun after a crash recomputes only the
    doc-buckets whose output is missing. Between the two stages the
    plan is build_dataset's own (pipeline._plan)."""
    tiles = store.run_stage(_doc_tiles(rasters), "tiles", "doc_id", n_buckets)
    if "region" in tiles.columns:
        # The join keys are a function of doc_id. A stage whose older
        # buckets were written without them reads back with null keys
        # for those rows (or, by file order, without the columns — then
        # build_labels parses them); re-derive the nulls.
        tiles = tiles.withColumns({
            k: F.coalesce(F.col(k), parsed)
            for k, parsed in zip(_JOIN_KEYS, GF.parse_doc_id(F.col("doc_id")))
        })
    docs = _plan(
        tiles, regions, res=None, keep_classes=DEFAULT_CLASSES, salt=None,
        broadcast_regions=None, derive_tile_refs=True,
    )["docs_out"]
    return store.run_stage(docs, "docs_out", "doc_id", n_buckets)
