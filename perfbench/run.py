"""Benchmark entry point.

    python3 perfbench/run.py --workload routed_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Each run starts the
workload in a fresh worker process (``worker.py``) whose ``TMPDIR`` and
``SPARK_LOCAL_DIRS`` point at a per-run scratch directory under
``.perfbench_run/``; the engine's layouts, sandboxes and sinks land
there, and the directory is deleted when the run ends. The worker's
detail line is relayed, then the result as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (and writes the run's spans under ``.perfbench_out/``).
Exits non-zero without a result when the engine is not in the checkout
or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("routed_sql", "dml_cdc")
TIMEOUT_S = 150.0


def _session_alive(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _reap(sid: int) -> None:
    """Stop every process left in the worker's session and wait until
    all are gone. The JVM outlives its Python parent briefly, and the
    PySpark daemon moves to a process group of its own, so the session,
    not the process group, is what holds them all."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + wait_s
        while pids := _session_alive(sid):
            if time.monotonic() > deadline:
                break
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        else:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a TERM (e.g. a caller's timeout) unwinds through the finally
    # blocks below, which stop the worker's processes and delete scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    for need in ("bigdataproj_spark", "bench.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}", file=sys.stderr)
            return 2

    scratch = os.path.join(root, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "spark")
    os.makedirs(tmp)
    os.makedirs(local)
    result_path = os.path.join(scratch, "result.json")
    log_path = os.path.join(scratch, "worker.log")
    cmd = [
        sys.executable, os.path.join(here, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--result", result_path,
    ]
    if args.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        cmd += ["--spans", os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    env |= {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join([root, here]),
        "PYTHONUNBUFFERED": "1",
    }
    rc, out = 1, ""
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=scratch, env=env, stdout=subprocess.PIPE,
                stderr=log, text=True, start_new_session=True,
            )
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
                rc = proc.returncode
            except subprocess.TimeoutExpired:
                print(f"perfbench: run exceeded {TIMEOUT_S:.0f} s", file=sys.stderr)
            finally:
                _reap(proc.pid)
                proc.wait()
        result = None
        if rc == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
        if result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            return rc or 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    sys.stdout.write(out)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
