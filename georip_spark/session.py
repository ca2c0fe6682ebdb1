"""SparkSession factory with scale-oriented defaults.

All engine entry points share one config surface so local tests,
the driver's verify harness, and a real cluster get the same plan
shapes (AQE on, Arrow on, sensible shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_heap_gb() -> int:
    """Three eighths of physical memory, in whole GiB, within [1, 48]:
    48g on the 128 GiB box the heap was tuned on, and a heap a smaller
    host can hold resident next to the Python workers (6g on 15 GiB)."""
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return int(max(1, min(48, round(phys_gib * 3 / 8))))


# Defaults chosen for the sandbox (local[32], 128 GiB) but expressed so
# they transfer to a multi-executor cluster: AQE coalesces the 2×-core
# shuffle partitioning down at runtime, and maxPartitionBytes keeps scan
# tasks ~128 MB so a 100 TB input becomes ~800k tasks, not 8k huge ones.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size bounds pandas-UDF peak memory per task.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast ONLY on explicit hints: stats-estimated auto-broadcast
    # twice bit this engine — (a) a 64MB threshold let AQE broadcast a
    # mid-size exploded fact slice whose hash-relation build
    # anti-scaled with cores, and (b) at 128k docs a size misestimate
    # of the WKT-string dim side OOM'd the driver mid-broadcast. Every
    # genuinely small dim (class map, prepared regions when the caller
    # knows they're small) is broadcast explicitly with F.broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # 1 MB shuffle write buffers (default 32k): the assemble/join
    # shuffles write GB-scale fat rows; 32k buffers issue ~30× more
    # small writes whose page-cache/writeback contention is the
    # measured N→4N anti-scaling term of the shuffle stages
    # (jobs/hof_microbench.py genshuf: eff 0.70 → 0.81 and 8-core
    # time 8.6s → 7.1s with no 2-core cost; tmpfs shuffle dirs give
    # the same win, confirming the mechanism — bigger buffers are the
    # fix that transfers to a real cluster).
    "spark.shuffle.file.buffer": "1m",
    "spark.shuffle.unsafe.file.output.buffer": "1m",
    # local-mode single-JVM posture: the "driver" heap IS the whole
    # executor pool's heap, sized to the host (_host_heap_gb). On the
    # 128 GiB local[32] box, at 16g the pipeline's big fan-out stage
    # measured 74s GC in 237s of task time (31% — the HOF expression
    # eval allocation churn), and the good-window pipeline floor
    # dropped 3.9s → 3.1s at 48g. A fixed 48g was OOM-killed on a
    # 15 GiB host once AlwaysPreTouch made it resident. On a real
    # cluster this key sizes only the driver; executors carry their
    # own spark.executor.memory.
    "spark.driver.memory": f"{_host_heap_gb()}g",
    # Pre-fault the heap at JVM start: this host intermittently cannot
    # serve fresh-page faults at GC-copy rates (the bistable jvmalloc
    # control, NOTES.md r4 session 7 / r5 session 2) — with the heap
    # resident up front, G1 region expansion stops faulting mid-run
    # (measured in a collapsed-state window: pipeline legs 12-20s
    # without, 4.6-5.2s with, q-queries unaffected either way).
    "spark.driver.extraJavaOptions": "-XX:+AlwaysPreTouch",
    "spark.sql.shuffle.partitions": "64",
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromConstraints rewrites join-key not-null checks by
    # substituting each alias's DEFINITION: for the pipeline's probe
    # side the inferred `isnotnull(minx…maxy)` filters inline the full
    # 4-corner affine footprint trees (and the cover/cell math above
    # them) into a monster Filter evaluated per fanned-out row.
    # Measured on the 64k-doc shuffle-regime join at pinned local[4]
    # (round 6, OPTIMIZATION_r06.md): 42.1s → 13.9s wall from this
    # exclusion alone — the filter's re-evaluated expression trees
    # were ~3× the entire remaining pipeline. Excluding an OPTIMIZER
    # rule cannot change results (plans stay semantically equal); the
    # only thing lost is early null-key pruning, which this engine's
    # data paths never rely on (null join keys simply fail the hash
    # lookup one operator later). Verified no regression on any bench
    # query; oracle green.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
}


def get_spark(
    app_name: str = "georip_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores). On a real cluster, pass ``master=None`` and launch via
    ``spark-submit --py-files`` (jobs/ entry points do this).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
