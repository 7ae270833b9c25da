"""One benchmark run of one workload, inside a fresh process.

Started by ``run.py`` with ``TMPDIR``/``SPARK_LOCAL_DIRS`` pointing at a
per-run scratch directory. Sets up the workload, then replays whole
passes of its operation list in a closed loop with one client.

- Untraced (``--trace 0``): passes run until ``--seconds`` of operation
  time have been measured, and at least the workload's ``min_passes``.
- Traced (``--trace 1``): pass 0 runs traced, so ``trace.op_p50_ms`` is
  comparable with ``op_p50_ms`` of an untraced run of the same seed;
  then the workload's traced-only operations run.

CPU time is read from ``/proc`` at each pass's start and end, for the
worker, its JVM and the JVM's Python workers, with the JVM's total JIT
compilation time. Peak memory is read right after the
loop. The correctness gate, the
workload's background maintenance and the host canaries run after it,
outside every timed figure. Prints one ``{"detail": ...}`` line and
writes the contract result to ``--result``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

from harness import (
    Tally,
    Tracer,
    jobs_by_op,
    parse_event_log,
    peak_rss_mb,
    percentile,
    cpu_between,
    cpu_snapshot,
    self_times,
    tail_percentile,
)
from workloads import WORKLOADS, Op

PLAN_SPANS = ("plans.sql", "operators.build")
EXEC_SPAN = "exec.collect"


@dataclass
class Rec:
    op: Op
    op_id: int
    pass_no: int
    wall_ms: float
    start: float
    end: float


def statements_hash(ops: list[Op]) -> str:
    blob = json.dumps([(o.kind, o.name, o.text) for o in ops]).encode()
    return hashlib.sha256(blob).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()
    t_start = time.perf_counter()
    trace = bool(args.trace)
    cores = len(os.sched_getaffinity(0))

    steps: dict[str, float] = {}

    @contextmanager
    def step(name: str):
        t0 = time.perf_counter()
        yield
        steps[name] = (time.perf_counter() - t0) * 1000.0

    wl = WORKLOADS[args.workload](args.seed)
    log_dir = os.path.join(args.scratch, "eventlog")
    with step("session"):
        from bigdataproj_spark.session import get_spark

        # A 2 GiB heap: at 1 GiB, garbage collection spread the CPU time
        # per op of dml_cdc 0.14-0.22 (IQR / median) across seeds, and
        # the JVM default (a quarter of RAM) spread peak RSS 0.28.
        extra = {
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(args.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={args.scratch} "
                f"-Djava.io.tmpdir={os.environ.get('TMPDIR', args.scratch)}"
            ),
        }
        if trace:
            os.makedirs(log_dir, exist_ok=True)
            extra |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        spark = get_spark(f"perfbench-{wl.name}", master=f"local[{cores}]", **extra)
        spark.sparkContext.setLogLevel("ERROR")
    wl.setup(spark, os.path.join(args.scratch, "data"), step)
    setup_s = time.perf_counter() - t_start

    tally = Tally()
    tracer = Tracer(enabled=False)
    sc = spark.sparkContext
    next_id = [0]

    pass_cpu: list[tuple[float, float]] = []  # (CPU, JIT compile) seconds per pass
    jit_mx = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def run_pass(pass_no: int, ops: list[Op], traced: bool) -> list[Rec]:
        out: list[Rec] = []
        if hasattr(wl, "begin_pass"):
            wl.begin_pass()
        tracer.enabled = traced
        cpu0, jit0 = cpu_snapshot(), jit_mx.getTotalCompilationTime()
        for op in ops:
            op_id = next_id[0]
            next_id[0] += 1
            tracer.op = op_id
            if traced:
                g0 = time.perf_counter()
                sc.setJobGroup(f"op{op_id}", f"{wl.name}:{op.name}")
                tracer.overhead_s += time.perf_counter() - g0
            tally.attempted += 1
            t0, p0 = time.time(), time.perf_counter()
            try:
                with tracer.span("op"):
                    wl.run(op, tracer)
            except Exception as e:  # noqa: BLE001 - counted as failed
                tally.raise_(op.name, e)
                continue
            wall = (time.perf_counter() - p0) * 1000.0
            out.append(Rec(op, op_id, pass_no, wall, t0, time.time()))
        pass_cpu.append((
            cpu_between(cpu0, cpu_snapshot()),
            (jit_mx.getTotalCompilationTime() - jit0) / 1000.0,
        ))
        tracer.enabled = False
        if traced:
            sc.setJobGroup("harness", "between ops")
        return out

    # Closed loop, one client.
    recs: list[Rec] = []
    if trace:
        recs += run_pass(0, wl.pass_ops(0), traced=True)
        if wl.extra_ops:
            recs += run_pass(1, list(wl.extra_ops), traced=True)
        passes = 2 if wl.extra_ops else 1
    else:
        passes = 0
        while passes < wl.max_passes:
            recs += run_pass(passes, wl.pass_ops(passes), traced=False)
            passes += 1
            measured_s = sum(r.wall_ms for r in recs) / 1000.0
            if passes >= wl.min_passes and measured_s >= args.seconds:
                break
    wl.loop_done()
    rss = peak_rss_mb()
    t_loop = time.perf_counter()

    # Correctness gate and background work, outside the timed loop.
    chosen = wl.after(tally, trace)
    t_after = time.perf_counter()

    import bench

    canary_s = bench.run_canary(spark)
    canary_par_s = bench.run_canary_parallel(spark)
    t_canary = time.perf_counter()
    spark.stop()
    detail: dict = {}
    detail["phase_s"] = {
        "setup": setup_s,
        "loop": t_loop - t_start - setup_s,
        "after": t_after - t_loop,
        "canary": t_canary - t_after,
        "stop": time.perf_counter() - t_canary,
    }

    timed = [r for r in recs if r.pass_no == 0] if trace else recs
    walls = [r.wall_ms for r in timed]
    tail_p, tail_v, tail_beyond = tail_percentile(walls)
    detail |= {
        "workload": wl.name,
        "seed": args.seed,
        "statements_sha256": statements_hash(wl.ops),
        "passes": passes,
        "ops": len(recs),
        "measured_s": sum(walls) / 1000.0,
        # not gated: peak RSS moves with when G1 grows the heap, and
        # spread 0.18-0.22 (IQR / median) over five seeds
        "peak_rss_mb": rss,
        # with one client in a closed loop: 1 / mean op latency
        "ops_per_s": len(walls) / (sum(walls) / 1000.0),
        "jit_ms_per_op": sum(j for _c, j in pass_cpu) * 1000.0 / len(recs),
        "op_p50_ms": percentile(walls, 50),
        "read_p50_ms": percentile([r.wall_ms for r in timed if r.op.is_read], 50),
        "op_tail_ms": tail_v,
        "op_tail_percentile": tail_p,
        "op_tail_samples_beyond": tail_beyond,
        "attempted": tally.attempted,
        "failed_frac": tally.failed_frac,
        "canary_s": canary_s,
        "canary_par_s": canary_par_s,
        "cores": cores,
        "setup_steps_ms": steps,
        "errors": tally.errors[:20],
    }
    by_name: dict[str, list[float]] = {}
    for r in recs:
        by_name.setdefault(f"{r.op.kind}.{r.op.name}", []).append(r.wall_ms)
    detail["op_p50_ms_by_statement"] = {
        n: percentile(v, 50) for n, v in sorted(by_name.items())
    }
    counts: dict[str, int] = {}
    for r in timed:
        if r.op.name in chosen:
            counts[chosen[r.op.name]] = counts.get(chosen[r.op.name], 0) + 1
    detail["plans.chosen"] = counts
    detail["plans.chosen_by_statement"] = chosen

    if not trace:
        # Op wall times (ops_per_s and the medians, in the detail line)
        # spread 0.2-0.45 (IQR / median over ten seeds) on a shared
        # host, as other guests take CPU from it; the CPU time the
        # engine's processes spend per op spreads far less.
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_ms": (sum(c for c, _j in pass_cpu) * 1000.0 / len(recs), "ms"),
        }
        extra_metrics = wl.workload_metrics(recs, {})
    else:
        metrics, span_ms = layer_metrics(recs, tracer, chosen, steps, cores, log_dir)
        metrics |= {
            "jvm.jit_ms_per_op": (detail["jit_ms_per_op"], "ms"),
            "host.canary_s": (canary_s, "s"),
            "host.canary_par_s": (canary_par_s, "s"),
        }
        extra_metrics = wl.workload_metrics(recs, span_ms)
        if args.spans:
            tracer.dump(args.spans)
    detail["workload_metrics"] = {
        n: {"value": v, "unit": u} for n, (v, u) in extra_metrics.items()
    }

    print(json.dumps({"detail": detail}, default=float), flush=True)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def layer_metrics(recs, tracer, chosen, steps, cores, log_dir):
    """Per-layer figures of the traced passes, and each span name's
    durations (ms) for the workload's own figures."""
    spans = tracer.spans
    selfs = self_times(spans)
    walls = {r.op_id: r.wall_ms for r in recs}
    span_ms: dict[str, list[float]] = {}
    plan_of: dict[int, float] = {}
    covered: dict[int, float] = {}
    for s, st in zip(spans, selfs):
        if s.op not in walls or s.name == "op":
            continue
        dur = (s.end - s.start) * 1000.0
        span_ms.setdefault(s.name, []).append(dur)
        if s.name in PLAN_SPANS:
            plan_of[s.op] = dur
        covered[s.op] = covered.get(s.op, 0.0) + st * 1000.0
    plan_ms = [d for n in PLAN_SPANS for d in span_ms.get(n, [])]

    log = sorted(glob.glob(os.path.join(log_dir, "*")))
    jobs = parse_event_log(log[0]) if log else []
    per_op = jobs_by_op(jobs, {r.op_id: (r.start, r.end) for r in recs})
    n = len(recs)

    def mean(f) -> float:
        return sum(f(r, per_op[r.op_id]) for r in recs) / n

    routed = [r for r in recs if r.op.kind in ("routed", "refused")]
    hits = [r for r in routed if chosen.get(r.op.name) not in (None, "raw", "refused")]
    pass0 = [r.wall_ms for r in recs if r.pass_no == 0]
    metrics = {
        "plans.build_ms": (percentile(plan_ms, 50), "ms"),
        "exec.collect_ms": (percentile(span_ms[EXEC_SPAN], 50), "ms"),
        "plans.route_hit_frac": (len(hits) / len(routed), "frac"),
        "spark.jobs_per_op": (mean(lambda r, js: len(js)), "count"),
        "spark.stages_per_op": (mean(lambda r, js: sum(j.stages for j in js)), "count"),
        "spark.tasks_per_op": (mean(lambda r, js: sum(j.tasks for j in js)), "count"),
        "spark.executor_run_ms_per_op": (mean(lambda r, js: sum(j.run_ms for j in js)), "ms"),
        "spark.sched_overhead_ms_per_op": (
            mean(lambda r, js: r.wall_ms - plan_of.get(r.op_id, 0.0)
                 - sum(j.run_ms for j in js) / cores),
            "ms",
        ),
        "spark.gc_ms_per_op": (mean(lambda r, js: sum(j.gc_ms for j in js)), "ms"),
        "spark.shuffle_read_bytes_per_op": (
            mean(lambda r, js: sum(j.shuffle_read for j in js)), "bytes"),
        "spark.shuffle_write_bytes_per_op": (
            mean(lambda r, js: sum(j.shuffle_write for j in js)), "bytes"),
        "spark.spill_bytes_per_op": (mean(lambda r, js: sum(j.spill for j in js)), "bytes"),
        "setup.session_ms": (steps["session"], "ms"),
        "setup.datagen_ms": (steps["datagen"], "ms"),
        "setup.deploy_ms": (
            sum(v for k, v in steps.items() if k.startswith("deploy.")), "ms"),
        "trace.op_p50_ms": (percentile(pass0, 50), "ms"),
        # share of op time spent in the benchmark's own recording
        # (span bookkeeping and setJobGroup), measured in-process
        "trace_overhead_frac": (tracer.overhead_s * 1000.0 / sum(walls.values()), "frac"),
        "trace.self_coverage_frac": (
            statistics.median(covered.get(r.op_id, 0.0) / r.wall_ms for r in recs),
            "frac",
        ),
    }
    return metrics, span_ms


if __name__ == "__main__":
    sys.exit(main())
