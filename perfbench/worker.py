"""One benchmark process: build the session, run a cold pass and warm passes
of one workload, check the outputs, write a JSON report.

Started by ``run.py`` as a fresh process; not meant to be run by hand. The
report carries the wall clock at which the session with its inputs was ready,
so the parent can time set-up from before it started this process.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.getcwd())  # the checkout root holds the program


def layer_sums(spans: list) -> dict[str, float]:
    """One pass's per-layer values: each span name's wall time and counters,
    summed over its calls."""
    import spans as tr

    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.name.startswith(("session.", "catalog.")):
            continue  # set-up layers: reported from set-up alone
        if s.name.startswith("queries."):  # queries.build, queries.action
            out[f"{s.name}_s"] += s.wall
            prefix = "queries"
        else:
            out[f"{s.name}.s"] += s.wall
            prefix = s.name
        for k in ("mb",) if prefix.startswith("sources.") else tr.COUNTERS:
            out[f"{prefix}.{k}"] += s.counters.get(k, 0.0)
    return out


def per_layer(passes: list[list], setup_spans: list, extras: dict,
              scans: list[dict], warm_walls: list[float]) -> dict[str, float]:
    """Per-layer metrics: medians over the warm passes of the per-layer sums
    over each pass. Set-up layers come from set-up; a layer the workload does
    not reach reads 0."""
    import spans as tr

    per_pass = [layer_sums(p) for p in passes]
    metrics = {n: statistics.median(p.get(n, 0.0) for p in per_pass) for n in tr.PER_LAYER}
    for name in ("session.get_spark", "catalog.load_table"):
        metrics[f"{name}.s"] = sum(s.wall for s in setup_spans if s.name == name)
    for k in ("s", "files", "mb"):
        metrics[f"sources.scan.{k}"] = statistics.median(x[k] for x in scans)
    metrics["trace.warm_pass_s"] = statistics.median(warm_walls)
    metrics.update(extras)
    return metrics


def self_times(passes: list[list]) -> dict[str, float]:
    """Median over warm passes of each span name's summed self time."""
    per_pass = []
    for spans in passes:
        acc: dict[str, float] = defaultdict(float)
        for s in spans:
            acc[s.name] += s.self_time()
        per_pass.append(acc)
    names = set().union(*per_pass) if per_pass else set()
    return {n: statistics.median(p.get(n, 0.0) for p in per_pass) for n in names}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--report", required=True)
    args = ap.parse_args()

    import spans as tr

    tracer = tr.Tracer(args.warehouse)
    if args.trace:
        tracer.install()

    import __spark_entry__  # noqa: F401  (package import is part of set-up)
    from bigdatafraude_ml_graphx_spark import session

    spark = session.get_spark(
        master=f"local[{args.cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": args.warehouse,
            "spark.ui.showConsoleProgress": "false",
            # Keep every job, stage and SQL execution of the run readable.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        import sparkstats
        import workloads

        region = tracer.region if args.trace else (lambda name: contextlib.nullcontext())
        wl = workloads.WORKLOADS[args.workload](spark, args.inputs, args.seed, region)
        wl.setup()
        ready = time.time()
        setup_spans = tracer.take()

        sc = spark.sparkContext
        tracer.sc = sc
        stats = sparkstats.SparkStats(spark)
        report = {"ready": ready, "passes": [], "attempted": 0, "failed": 0, "errors": []}
        span_passes = []
        results: dict = {}

        def one_pass(i: int) -> None:
            nonlocal results
            group = f"pass-{i}"
            sc.setJobGroup(group, group)
            tracer.outer_group = group
            results = {}
            ops = wl.pass_ops()
            t0 = time.perf_counter()
            marks = [t0]
            for name, op in ops:
                report["attempted"] += 1
                try:
                    results[name] = op()
                except Exception:
                    report["failed"] += 1
                    traceback.print_exc()
                marks.append(time.perf_counter())
            wall = marks[-1] - t0
            print(f"pass {i} ops: " + " ".join(
                f"{name}={b - a:.3f}" for (name, _), a, b in zip(ops, marks, marks[1:])),
                file=sys.stderr)
            sc.setJobGroup("between-passes", "between-passes")
            stats.drain()
            spans = tracer.take()
            tr.resolve(spans, stats)
            counters = stats.group_totals(group)
            for s in spans:
                if s.parent is None:
                    for k in tr.COUNTERS:
                        counters[k] += s.counters[k]
            if args.trace:
                counters["scan"] = stats.scan_totals()
            report["passes"].append({"wall": wall, **counters})
            span_passes.append(spans)

        one_pass(0)
        # Warm passes until they have measured --seconds between them.
        while sum(p["wall"] for p in report["passes"][1:]) < args.seconds:
            one_pass(len(report["passes"]))

        t_check = time.time()
        if report["failed"]:
            report["errors"] = [f"outputs not checked: {report['failed']} operations failed"]
        else:
            report["errors"] = wl.check(results)
        print(f"check: {time.time() - t_check:.2f} s", file=sys.stderr)
        if args.trace:
            warm = report["passes"][1:]
            extras = wl.layer_extras(results)
            report["per_layer"] = per_layer(
                span_passes[1:], setup_spans, extras, [p["scan"] for p in warm],
                [p["wall"] for p in warm])
            report["self_s"] = self_times(span_passes[1:])
        with open(args.report, "w") as f:
            json.dump(report, f)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
