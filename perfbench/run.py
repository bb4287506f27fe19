"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload search_serving --seed 1 --seconds 5 --trace 0

Runs on ``local[N]`` with N the CPUs this process may use. Inputs are
generated from the seed into ``.perfbench_work/`` at the repository root,
which is cleared first; Spark's local dirs and TMPDIR point inside it, so
nothing staged by an earlier run or another tree can skip set-up.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before it
holds the workload-specific report (wall pass time, search percentiles,
index build and update times, store size ratio, registry total, fail
ratio) and the input sizes. A traced run also writes every span to ``.perfbench_work/spans.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def pin_host(wl) -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = wl.HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fails here, before any output, when the engine is not in the tree
    from perfbench import proc
    from perfbench import trace as tracing
    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")
    pin_host(wl)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    client = wl.Client(tracer)
    ctx = wl.Context(args.seed, args.seconds, WORK, tracer)
    if args.trace:
        # pass 1 finishes the JIT warm-up, pass 2 is traced and gives the
        # per-layer numbers, pass 3 is the untraced time it is compared to
        ctx.traced_passes = (False, True, False)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            out = wl.WORKLOADS[args.workload](ctx, client)
            rss = proc.peak_rss_mb()
    finally:
        wl.shutdown(ctx)

    for kind, lat in client.latency.items():
        print(f"latency {kind}: " + " ".join(f"{x:.3f}" for x in lat), file=sys.stderr)
    report = {k: {"value": v, "unit": u} for k, (v, u) in out.report.items()}
    report["pass_s"] = {"value": statistics.median(out.pass_s), "unit": "s"}
    report["fail_ratio"] = {"value": client.failed / max(1, client.attempted), "unit": "ratio"}
    if args.trace:
        layer = tracing.layer_metrics(tracer.spans, wl.REGISTRY_QUERIES)
        layer["trace.overhead_ratio"] = out.pass_s[1] / out.pass_s[2]
        units = {m["name"]: m["unit"] for m in _declared("per_layer")}
        metrics = {k: {"value": float(layer[k]), "unit": units[k]} for k in units}
        with open(os.path.join(WORK, "spans.json"), "w") as f:
            json.dump([dataclasses.asdict(dataclasses.replace(s, df=None)) for s in tracer.spans], f)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(ctx.setup_s), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "pass_cpu_s": {"value": statistics.median(out.pass_cpu_s), "unit": "s"},
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": ctx.inputs, "report": report}))
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": metrics,
    }))
    return 0


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


if __name__ == "__main__":
    sys.exit(main())
