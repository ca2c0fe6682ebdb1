"""Spans recorded around the calls into each layer, and the per-layer
metrics derived from them.

A span is (name, parent, start, end) plus the counts the call produced,
the Spark jobs it launched and the Spark stages that finished inside
it. Its parent is the public entry point whose calls it stands in for;
only the spans under the workload's own pipeline entry point
(``pipeline.*``) count towards the tracing overhead and the Spark
runtime metrics. Spans are kept in memory and written out when the run
ends.
"""

from __future__ import annotations

import contextlib
import json

import host
from host import now
from workloads import LINEAGE_BUCKETS, LOST

# per-layer metric -> unit. A traced run prints every one; a layer the
# workload's traced run does not call reads 0 (tile_grid and lineage
# under docs_shuffle, tiles_from_docs and kNN under raster_bcast).
PER_LAYER = {
    "session.start_s": "s",
    "synth.generate_s": "s",
    "synth.input_mb": "MB",
    "pipeline.plan_s": "s",
    "pipeline.plan_jobs": "count",
    "tiling.tile_grid_s": "s",
    "tiling.tiles": "count",
    "pipeline.tiles_from_docs_s": "s",
    "pipeline.media_spans": "count",
    "joins.prepare_regions_s": "s",
    "joins.regions_kept": "count",
    "joins.cover_cells": "count",
    "joins.spatial_join_s": "s",
    "joins.probe_rows": "count",
    "joins.candidate_pairs": "count",
    "pipeline.build_labels_s": "s",
    "pipeline.labels": "count",
    "pipeline.label_yield": "ratio",
    "pipeline.assemble_docs_s": "s",
    "pipeline.spans": "count",
    "lineage.tiles_stage_s": "s",
    "lineage.docs_stage_s": "s",
    "lineage.cold_s": "s",
    "lineage.resume_s": "s",
    "lineage.resume_ratio": "ratio",
    "lineage.written_mb": "MB",
    "lineage.bytes_per_span": "B",
    "joins.knn_s": "s",
    "joins.knn_jobs": "count",
    "joins.knn_left_points": "count",
    "joins.knn_points_per_s": "1/s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_frac": "ratio",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.task_skew": "ratio",
    "spark.cores_busy": "ratio",
    "trace.traced_s": "s",
    "trace.overhead_s": "s",
}


class Tracer:
    def __init__(self, spark):
        self.log = host.StageLog(spark)
        self.t0 = now()
        self.spans: list[dict] = []
        self.stages: list[dict] = []
        self.counts: dict = {}  # counts the benchmark derives outside any span
        self.checks: list[tuple[str, bool]] = []  # output checks other than docs tables

    @contextlib.contextmanager
    def span(self, name: str, parent: str):
        counts: dict = {}
        jobs_before = self.log.jobs()
        rec = {"name": name, "parent": parent, "start": now() - self.t0}
        try:
            yield counts
        finally:
            rec["end"] = now() - self.t0
            new = self.log.take()
            self.stages.extend(dict(s, span=name) for s in new)
            rec["jobs"] = len(self.log.jobs() - jobs_before)
            rec["counts"] = counts
            rec["spark"] = self.log.summarize(new, rec["end"] - rec["start"])
            self.spans.append(rec)

    def dur(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s in self.spans if s["name"] == name)

    def jobs(self, name: str) -> int:
        return sum(s["jobs"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        spans = [dict(s, counts=brief(s["counts"])) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "stages": self.stages, "counts": self.counts,
                       "checks": self.checks}, f, indent=1)


def brief(counts: dict) -> dict:
    """A span's counts without the sampled span sequences."""
    return {k: v for k, v in counts.items() if k != "sample"}


def per_layer(tr: Tracer, run: dict) -> dict:
    """Per-layer metrics of a traced run. ``run`` carries what the run
    measured outside the spans: session start, set-up and the untraced
    job time."""
    pipeline = [s for s in tr.spans if s["parent"].startswith("pipeline.")]
    traced_s = sum(s["end"] - s["start"] for s in pipeline)
    pairs = tr.count("joins.spatial_join", "candidate_pairs")
    labels = tr.count("pipeline.build_labels", "labels")
    cold_s = sum(
        tr.dur(n) for n in ("lineage.tiles_stage", "lineage.docs_stage", "lineage.read_back")
    )
    resume_s = tr.dur("lineage.resume")
    lineage_spans = tr.count("lineage.read_back", "spans")
    knn_s = tr.dur("joins.knn_join")
    knn_points = tr.count("joins.knn_join", "left_points")
    m = {
        "session.start_s": run["start_s"],
        "synth.generate_s": run["generate_s"],
        "synth.input_mb": run["input_mb"],
        "pipeline.plan_s": tr.dur("pipeline.plan"),
        "pipeline.plan_jobs": tr.jobs("pipeline.plan"),
        "tiling.tile_grid_s": tr.dur("tiling.tile_grid"),
        "tiling.tiles": tr.count("tiling.tile_grid", "tiles"),
        "pipeline.tiles_from_docs_s": tr.dur("pipeline.tiles_from_docs"),
        "pipeline.media_spans": tr.count("pipeline.tiles_from_docs", "tiles"),
        "joins.prepare_regions_s": tr.dur("joins.prepare_regions"),
        "joins.regions_kept": tr.count("joins.prepare_regions", "regions_kept"),
        "joins.cover_cells": tr.count("joins.prepare_regions", "cover_cells"),
        "joins.spatial_join_s": tr.dur("joins.spatial_join"),
        "joins.probe_rows": tr.counts.get("probe_rows", 0),
        "joins.candidate_pairs": pairs,
        "pipeline.build_labels_s": tr.dur("pipeline.build_labels"),
        "pipeline.labels": labels,
        "pipeline.label_yield": labels / pairs if pairs else 0.0,
        "pipeline.assemble_docs_s": tr.dur("pipeline.assemble_docs"),
        "pipeline.spans": tr.count("pipeline.assemble_docs", "spans"),
        "lineage.tiles_stage_s": tr.dur("lineage.tiles_stage"),
        "lineage.docs_stage_s": tr.dur("lineage.docs_stage"),
        "lineage.cold_s": cold_s,
        "lineage.resume_s": resume_s,
        "lineage.resume_ratio": (
            resume_s / cold_s / (len(LOST) / LINEAGE_BUCKETS) if cold_s else 0.0
        ),
        "lineage.written_mb": tr.counts.get("lineage_written_mb", 0.0),
        "lineage.bytes_per_span": (
            tr.counts["lineage_written_mb"] * 2**20 / lineage_spans if lineage_spans else 0.0
        ),
        "joins.knn_s": knn_s,
        "joins.knn_jobs": tr.jobs("joins.knn_join"),
        "joins.knn_left_points": knn_points,
        "joins.knn_points_per_s": knn_points / knn_s if knn_s else 0.0,
        "trace.traced_s": traced_s,
        "trace.overhead_s": traced_s - run["job_s"],
    }
    names = {s["name"] for s in pipeline}
    stages = [s for s in tr.stages if s["span"] in names]
    m.update({f"spark.{k}": v for k, v in tr.log.summarize(stages, traced_s).items()})
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
