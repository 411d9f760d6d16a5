"""Engine benchmark: one workload, one fresh Spark process, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload fraud_graph --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, starts a fresh worker process
(``worker.py``) that builds the session through the program's ``get_spark``,
runs a cold pass and warm passes for ``--seconds``, checks the outputs and
reports. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``, each
named and with the unit given in ``BENCHMARK.json``.

Each run works in its own directory under ``.perfbench_runs/`` (inputs, Spark
warehouse, Spark local dirs) and removes it on exit, failure included; the
worker runs in its own process group, which is ended and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Spark runs on a fixed local[CORES] (fewer if the host has fewer cores).
CORES = 2
WORKER_TIMEOUT_S = 170
RUNS_DIR = ".perfbench_runs"
PROGRAM = "bigdatafraude_ml_graphx_spark"


def group_running(pgid: int) -> bool:
    """Whether a process of the group is still running. A zombie has ended:
    once its parent is gone, only init can reap it."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def end_group(pgid: int) -> None:
    """Kill what is left of the worker's process group (the JVM and its
    Python workers) and wait until none of it runs."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while group_running(pgid):
        if time.time() > deadline:
            raise RuntimeError(f"processes of group {pgid} did not exit")
        time.sleep(0.05)


def end_to_end(report: dict, spawned: float) -> dict[str, float]:
    warm = report["passes"][1:]
    return {
        "setup_s": report["ready"] - spawned,
        "cold_pass_s": report["passes"][0]["wall"],
        "warm_pass_s": statistics.median(p["wall"] for p in warm),
        "task_cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "shuffle_write_mb": statistics.median(p["shuffle_mb"] for p in warm),
    }


def declared_metrics(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics ``BENCHMARK.json`` declares for this
    kind of run."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WRITERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still ends its worker and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isdir(PROGRAM):
        print(f"run from the repository root: no {PROGRAM}/ here", file=sys.stderr)
        return 2
    declared = declared_metrics(args.trace)
    if args.trace:
        import spans

        unknown = sorted(declared.keys() - set(spans.PER_LAYER))
        if unknown:
            print(f"BENCHMARK.json declares per-layer metrics no span gives: {unknown}",
                  file=sys.stderr)
            return 2
    cores = min(CORES, os.cpu_count() or 1)
    print(f"host: nproc={os.cpu_count()} local[{cores}] load={os.getloadavg()[0]:.2f}",
          file=sys.stderr)

    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = os.path.abspath(os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}"))
    pgid = None
    try:
        inputs = os.path.join(run_dir, "inputs")
        os.makedirs(inputs)
        t0 = time.time()
        sizes = gen.WRITERS[args.workload](inputs, args.seed)
        print(f"inputs: {json.dumps(sizes)} in {time.time() - t0:.2f} s", file=sys.stderr)
        report_path = os.path.join(run_dir, "report.json")
        env = dict(
            os.environ,
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
            SPARK_DRIVER_MEMORY="2g",
            PYTHONHASHSEED="0",
        )
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--inputs", inputs, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--cores", str(cores), "--warehouse", os.path.join(run_dir, "warehouse"),
               "--report", report_path]
        spawned = time.time()
        proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
        pgid = proc.pid
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("worker timed out", file=sys.stderr)
            return 1
        if code != 0 or not os.path.exists(report_path):
            print(f"worker failed with code {code}", file=sys.stderr)
            return 1
        with open(report_path) as f:
            report = json.load(f)
    finally:
        try:
            if pgid is not None:
                end_group(pgid)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    for err in report["errors"]:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    if args.trace:
        values = report["per_layer"]
        for name, s in sorted(report["self_s"].items()):
            print(f"self {name}: {s:.4f} s", file=sys.stderr)
    else:
        values = end_to_end(report, spawned)
    metrics = {k: {"value": values[k], "unit": unit} for k, unit in declared.items()}
    for p in report["passes"]:
        print(f"pass: {p['wall']:.3f} s, {p['jobs']:.0f} jobs, {p['tasks']:.0f} tasks, "
              f"{p['cpu_s']:.3f} cpu s, {p['shuffle_mb']:.3f} shuffle MB", file=sys.stderr)
    print(json.dumps({
        "correct": not report["errors"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
