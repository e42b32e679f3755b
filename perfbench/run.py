#!/usr/bin/env python3
"""Layered, seeded benchmark of the logstash_spark engine.

    python3 perfbench/run.py --workload {stream,catalog} --seed N \\
        --seconds S --trace {0,1}

Run it from the repository root (the directory holding ``logstash_spark``).
It generates its inputs from ``--seed`` under ``.perfbench/`` in that
directory, runs the workload on ``local[4]``, checks every output against
an independent DuckDB reference outside the timed window, and prints one
JSON line last: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1`` (see ``metrics.py``).  Raw samples and, when traced, the
span log go to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str) -> None:
    """Make the engine importable here and in Spark's Python workers, and
    keep every file the run writes inside ``ROOT``."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # the engine's bench JVM mode: heap pre-sized and pre-touched (so peak
    # memory does not depend on when the heap grew) and a wider code cache
    os.environ["SPARK_GRAFT_BENCH_JVM"] = "1"
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ.pop("SPARK_MASTER", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no hsperfdata under /tmp: every file the JVM writes stays in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_processes(spark) -> None:
    """Stop the session, then the driver JVM and the spawn helper process,
    and wait until each has ended."""
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    resource_tracker._resource_tracker._stop()


def _compact(value: float) -> float | int:
    v = round(float(value), 6)
    return int(v) if v.is_integer() else v


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["stream", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "logstash_spark", "__init__.py")):
        print(f"perfbench: no logstash_spark package under {ROOT}; "
              "run from a checkout of the engine", file=sys.stderr)
        return 2
    try:
        e2e_units, layer_units = metrics.units(os.path.join(ROOT, "BENCHMARK.json"))
    except (OSError, ValueError, KeyError) as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=state)
    _environment(work)
    from workloads import WORKLOADS, Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        WORKLOADS[args.workload](run)
    finally:
        peak = run.rss.stop()
        with run.spans.span("bench.teardown"):
            _stop_processes(run.spark)
            shutil.rmtree(work, ignore_errors=True)

    run.e2e["setup_s"] = run.setup_s()
    run.e2e["peak_rss_mb"] = peak
    run.e2e["success_rate"] = 1 - run.failed / max(run.attempted, 1)
    if args.trace:
        for name in ("session.start", "sources.fixture", "bench.warmup"):
            run.layer[f"{name}_s"] = run.spans.total(name)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{tag}.samples.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "end_to_end": run.e2e, "per_layer": run.layer, "errors": run.errors,
                   "phases_s": {n: run.spans.total(n) for n in
                                {s["name"] for s in run.spans.items}},
                   "samples": run.samples}, f)
    if args.trace:
        run.spans.dump(os.path.join(results, f"{tag}.spans.json"))
        # rounded to the microsecond (far below any run-to-run spread) to
        # keep the line short; full figures are in the samples file
        values = {k: {"value": _compact(run.layer.get(k, 0.0)), "unit": u}
                  for k, u in layer_units.items()}
    else:
        values = {k: {"value": float(run.e2e[k]), "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": values}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
