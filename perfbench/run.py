"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Gives the run its own temporary root under the checkout (inputs, Spark
local dirs, memo disk tier, warehouse, Derby home, event log, stream
checkpoints, JVM temp), generates the inputs from the seed there, runs
the workload in a fresh worker process (``worker.py``), samples
the resident memory of the worker and its JVM, stops every process the
run started, removes the root, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 1`` reports
the per-layer metrics instead of the end-to-end ones.
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

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
DEADLINE_S = 170.0
UNITS = {"setup_s": "s", "op_mean_s": "s", "rss_peak_mb": "MB"}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def driver_rss(worker: int) -> float:
    """RSS of the Python driver plus its JVM (Python UDF workers, which
    the JVM forks, are not the driver)."""
    kids = _children()
    total, todo = _rss_mb(worker), list(kids.get(worker, []))
    while todo:
        pid = todo.pop()
        if _comm(pid) == "java":
            total += _rss_mb(pid)
        else:
            todo += kids.get(pid, [])
    return total


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                if os.getpgid(int(pid)) == pgid:
                    return True
            except OSError:
                pass
    return False


def stop_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_process = time.time()
    for need in ("spatial_data_engineering_spark", "tests/parity.py"):
        if not os.path.exists(os.path.join(CHECKOUT, need)):
            print(f"perfbench: {need} not found next to perfbench/",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [CHECKOUT]
    from perfbench import harness, worker

    if args.workload not in worker.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(worker.WORKLOADS)}", file=sys.stderr)
        return 2

    root = os.path.join(CHECKOUT, ".perfbench_runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("local", "memo", "tmp"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    env = dict(os.environ,
               PYTHONPATH=CHECKOUT,
               PYSPARK_PYTHON=sys.executable,
               PYTHONHASHSEED="0",
               SPARK_LOCAL_DIRS=os.path.join(root, "local"),
               SPARK_GRAFT_PAIR_CACHE=os.path.join(root, "memo"),
               SPARK_GRAFT_DRIVER_MEM=os.environ.get(
                   "SPARK_GRAFT_DRIVER_MEM", harness.driver_heap()),
               SPARK_GRAFT_CPUS=str(os.cpu_count()),
               TMPDIR=os.path.join(root, "tmp"))
    result_path = os.path.join(root, "result.json")
    # a terminated benchmark still stops its worker group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "root": root}
    proc, peak, result = None, 0.0, None
    try:
        # inputs first, so the worker's set-up is the program's alone
        worker.WORKLOADS[args.workload][0](worker.context(spec))
        spec["t_launch"] = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             json.dumps(spec), result_path],
            cwd=root, env=env, stdout=sys.stderr, start_new_session=True)
        while proc.poll() is None:
            if time.time() - t_process > DEADLINE_S:
                print("perfbench: run exceeded its deadline",
                      file=sys.stderr)
                break
            peak = max(peak, driver_rss(proc.pid))
            time.sleep(0.2)
    finally:
        if proc is not None:
            stop_group(proc.pid)
            proc.wait()
        if os.path.exists(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
        shutil.rmtree(root, ignore_errors=True)
    if result is None or proc.returncode != 0:
        print(f"perfbench: worker exited {proc.returncode} without a result",
              file=sys.stderr)
        return 1
    for line in result["failures"]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(f"perfbench: detail {json.dumps(result['detail'])} host "
          f"{json.dumps(result['host'])}", file=sys.stderr)
    metrics = result["metrics"]
    if not args.trace:
        metrics["rss_peak_mb"] = peak
    units = UNITS if not args.trace else {}
    out = {"correct": result["correct"], "attempted": result["attempted"],
           "failed": result["failed"],
           "metrics": {k: {"value": v, "unit": units.get(k) or _unit(k)}
                       for k, v in metrics.items()}}
    print(json.dumps(out))
    return 0


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
