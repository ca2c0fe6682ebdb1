"""georip_spark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload raster_bcast --seed 42 --seconds 10 --trace 0

Closed loop, one client: a single driver process on ``local[<cores>]``
issues each action after the previous one has returned its result.
The run

1. starts the engine session, then generates and stores the workload's
   inputs SETUP_REPS times (``setup_s`` = session start + the median
   generate-and-store time);
2. runs WARM_ACTIONS untimed actions (warm-up);
3. with ``--trace 1``, calls each layer in the order the entry point
   does and records a span per call (spans.py);
4. runs the action back to back for ``--seconds`` (half that when
   tracing, to measure the tracing overhead);
5. checks the output of every action (check.py).

Every metric is printed by name with its unit; the last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The exit code is 1 when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 42
SETUP_REPS = 3
# Actions discarded before timing. The first takes ~3x a steady one
# (JIT, whole-stage codegen), the second ~1.2x; the third is within
# ~10% of where wall time levels off. A longer warm-up does not fit
# the run budget of a two-commit comparison.
WARM_ACTIONS = 2
TIMED_MIN = 2  # timed actions, even when one action outlasts --seconds

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "spans_per_s": "1/s",
    "core_s": "s",
    "peak_rss_mb": "MB",
}


class Loop:
    """Closed-loop driver of one workload's action."""

    def __init__(self, w, tree):
        self.w, self.tree = w, tree
        self.outputs: list[dict] = []  # every summary, checked after timing
        self.errors: list[str] = []    # tracebacks of actions that raised
        self.wall: list[float] = []
        self.cpu: list[float] = []

    def once(self) -> float:
        from host import now

        c0, t0 = self.tree.cpu(), now()
        try:
            summary = self.w.action()
        except Exception:  # an action that raises counts as failed
            self.errors.append(traceback.format_exc())
            return now() - t0
        dt = now() - t0
        self.outputs.append(summary)
        self.wall.append(dt)
        self.cpu.append(self.tree.work_s(c0, self.tree.cpu()))
        return dt

    def warm_up(self) -> list[float]:
        times = [self.once() for _ in range(WARM_ACTIONS)]
        self.wall, self.cpu = [], []
        return times

    def measure(self, seconds: float) -> None:
        from host import now

        end = now() + seconds
        while (len(self.wall) < TIMED_MIN or now() < end) and len(self.errors) < 3:
            self.once()


def run(args, work: str) -> tuple[dict, list[str]]:
    import check
    import host
    import spans
    import workloads
    from host import now

    lines = []
    t0 = now()
    spark = host.session(work, len(os.sched_getaffinity(0)))
    start_s = now() - t0
    proc = spark.sparkContext._gateway.proc
    try:
        tree = host.ProcTree(proc.pid)
        lines.append("session " + " ".join(
            f"{k}={v}" for k, v in host.session_config(spark).items()
        ))

        gen = []
        for rep in range(SETUP_REPS):
            root = os.path.join(work, f"inputs{rep}")
            if rep:
                shutil.rmtree(os.path.join(work, f"inputs{rep - 1}"))
            w = workloads.WORKLOADS[args.workload](spark, root)
            t = now()
            w.generate(args.seed)
            gen.append(now() - t)
        generate_s = statistics.median(gen)
        input_mb = workloads.du_mb(root)
        lines.append(
            f"setup docs={workloads.N_DOCS} start={start_s:.3f}s "
            f"generate={[round(g, 3) for g in gen]}s inputs={input_mb:.3f}MB"
        )

        w.prepare()
        loop = Loop(w, tree)
        warm = loop.warm_up()
        lines.append(f"warm-up {len(warm)} actions {[round(t, 3) for t in warm]}s")

        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark)
            w.trace(tracer)
        loop.measure(args.seconds / 2 if args.trace else args.seconds)

        t_check = now()
        want = w.expected(cross=tracer is not None)
        outputs = loop.outputs + [
            s["counts"] for s in (tracer.spans if tracer else []) if "digest" in s["counts"]
        ]
        if want["digest"] is None and outputs:
            want["digest"] = outputs[0]["digest"]
        checks = tracer.checks if tracer else []
        attempted = len(outputs) + len(loop.errors) + len(checks)
        failed = (len(loop.errors) + sum(not check.passes(o, want) for o in outputs)
                  + sum(not ok for _, ok in checks))
        lines.extend(f"CHECK FAILED: {name}" for name, ok in checks if not ok)
        if outputs and check.passes(
            dict(outputs[0], sample=check.altered(outputs[0]["sample"])), want
        ):
            failed += 1
            lines.append("CHECK BROKEN: an altered span sequence passed the check")
        lines.append(
            f"timed {len(loop.wall)} actions {[round(t, 3) for t in loop.wall]}s "
            f"docs={outputs[0]['docs'] if outputs else 0} "
            f"spans={outputs[0]['spans'] if outputs else 0} "
            f"failed_frac={failed / max(attempted, 1):.4f} ({failed}/{attempted}) "
            f"check={now() - t_check:.3f}s run={now() - t0:.3f}s"
        )
        lines.extend("action raised:\n" + e for e in loop.errors[:1])
        if not loop.wall:
            return {"correct": False, "attempted": attempted, "failed": failed,
                    "metrics": {}}, lines

        job_s = statistics.median(loop.wall)
        if tracer is None:
            values = {
                "setup_s": start_s + generate_s,
                "job_s": job_s,
                "spans_per_s": statistics.median(o["spans"] for o in loop.outputs) / job_s,
                "core_s": statistics.median(loop.cpu),
                "peak_rss_mb": tree.peak_rss_mb(),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        else:
            metrics = spans.per_layer(tracer, {
                "start_s": start_s, "generate_s": generate_s,
                "input_mb": input_mb, "job_s": job_s,
            })
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"trace-{args.workload}-{args.seed}.json")
            tracer.write(path)
            for s in tracer.spans:
                lines.append(
                    f"span {s['name']:<26} {s['end'] - s['start']:7.3f}s "
                    f"jobs={s['jobs']} {spans.brief(s['counts'])}"
                )
            lines.append(f"untraced job_s={job_s:.3f}s; spans in {os.path.relpath(path, ROOT)}")
        lines.extend(f"{k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items())
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }, lines
    finally:
        spark.stop()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import georip_spark  # noqa: F401  (fails before any work outside a full checkout)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
