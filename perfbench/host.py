"""Host-side probes taken from outside the engine.

* ``ProcTree`` — CPU seconds (less the JVM's JIT compiler threads) and
  peak resident memory of the driver JVM and every process below it
  (the PySpark daemon and its Python workers), read from ``/proc``.
* ``StageLog`` — Spark's per-stage task metrics, read from the live
  status store after each call.
* ``session`` — the engine's ``get_spark()`` with the driver heap sized
  from physical memory and all scratch files kept under ``work``.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def phys_gib() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def driver_heap_gb() -> int:
    """An eighth of physical memory, in whole GiB, within [1, 8].

    ``get_spark()`` ships ``spark.driver.memory=48g`` with
    ``-XX:+AlwaysPreTouch``; on a 15 GiB host that heap cannot be
    resident and the kernel OOM-kills the JVM."""
    return int(max(1, min(8, round(phys_gib() / 8))))


def session(work: str, cores: int):
    """Start the engine session: ``get_spark()`` defaults, except the
    driver heap and the scratch locations (Spark local dir, JVM and
    Python temp dirs), which point inside ``work``."""
    import georip_spark
    from georip_spark.session import _DEFAULTS

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    java_opts = (
        f"{_DEFAULTS['spark.driver.extraJavaOptions']} "
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    spark = georip_spark.get_spark(
        "georip-perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{driver_heap_gb()}g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_config(spark) -> dict:
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "excluded_rules": conf.get("spark.sql.optimizer.excludedRules", ""),
        "auto_broadcast_threshold": conf.get("spark.sql.autoBroadcastJoinThreshold"),
    }


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime, stime, cutime, cstime are 11..14
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jit_ticks(pid: int) -> dict[int, int]:
    """utime+stime of each live JIT compiler thread of one process."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "CompilerThre" in raw[raw.index("(") + 1:raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2:].split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


class ProcTree:
    """The process tree rooted at ``root_pid``.

    CPU counts utime+stime of every live process plus the cutime+cstime
    its already-reaped children left behind, so a Python worker that
    exits between two reads is still counted. Peak memory is the sum
    of each live process's VmHWM (an upper bound on the simultaneous
    peak)."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def cpu(self) -> tuple[int, dict[int, int]]:
        """A CPU snapshot: ticks of the whole tree, and ticks of each
        JIT compiler thread of the root JVM."""
        return sum(self._members().values()), _jit_ticks(self.root)

    @staticmethod
    def work_s(before, after) -> float:
        """CPU seconds between two snapshots, less the JIT compiler
        threads' share. Compilation is warm-up work that keeps arriving
        in bursts (0.8-3 CPU-s per action at 500 docs) long after wall
        time has levelled off. Taken per thread id: a compiler thread
        that starts in between is subtracted whole; one that exits in
        between leaves its last ticks in the count."""
        jit = sum(t - before[1].get(tid, 0) for tid, t in after[1].items())
        return (after[0] - before[0] - jit) / _TICK

    def _members(self) -> dict[int, int]:
        ppid, ticks = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(int(name))
            if st is not None:
                ppid[int(name)], ticks[int(name)] = st
        members, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in ticks and pid not in members:
                members[pid] = ticks[pid]
                frontier.extend(c for c, p in ppid.items() if p == pid)
        return members

    def peak_rss_mb(self) -> float:
        return sum(_hwm_kib(p) for p in self._members()) / 1024.0


class StageLog:
    """Spark's per-stage task metrics, read from the live status store
    through ``AppStatusStore.stageList(List, boolean, boolean, double[],
    List)`` and ``taskSummary`` (task-time quantiles of one stage).

    ``take()`` returns the stages that finished since the previous
    ``take()``; ``jobs()`` the ids of every job launched so far."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = self.sc.defaultParallelism
        self.seen = set()
        self.take()

    def _stages(self):
        jvm = self.sc._jvm
        quant = self.sc._gateway.new_array(jvm.double, 0)
        seq = self.store.stageList(
            jvm.java.util.ArrayList(), False, False, quant, jvm.java.util.ArrayList()
        )
        return [seq.apply(i) for i in range(seq.size())]

    def _skew(self, stage_id: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 1.0

    def take(self) -> list[dict]:
        out = []
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self.seen or str(s.status()) not in ("COMPLETE", "FAILED"):
                continue
            self.seen.add(key)
            sub, done = s.submissionTime(), s.completionTime()
            wall = (
                done.get().getTime() - sub.get().getTime()
                if sub.isDefined() and done.isDefined() else 0
            )
            out.append({
                "stage": key[0], "attempt": key[1], "wall_ms": wall,
                "run_ms": s.executorRunTime(), "gc_ms": s.jvmGcTime(),
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "spill": s.diskBytesSpilled(),
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "tasks_failed": s.numFailedTasks(),
            })
        return out

    def jobs(self) -> set:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def summarize(self, stages: list[dict], wall_s: float) -> dict:
        mb = 1.0 / 2**20
        run_ms = sum(s["run_ms"] for s in stages)
        longest = max(stages, key=lambda s: s["wall_ms"], default=None)
        return {
            "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) * mb,
            "shuffle_read_mb": sum(s["shuffle_read"] for s in stages) * mb,
            "spill_mb": sum(s["spill"] for s in stages) * mb,
            "gc_frac": sum(s["gc_ms"] for s in stages) / run_ms if run_ms else 0.0,
            "tasks": sum(s["tasks"] for s in stages),
            "tasks_failed": sum(s["tasks_failed"] for s in stages),
            "task_skew": (
                self._skew(longest["stage"], longest["attempt"]) if longest else 1.0
            ),
            "cores_busy": run_ms / 1000.0 / max(wall_s, 1e-9) / self.cores,
        }


def now() -> float:
    return time.perf_counter()
