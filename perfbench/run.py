"""Run one benchmark workload against ``dask_pipes_spark`` and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 4 --trace 0

Workloads are defined in ``perfbench/workloads.py``; metric names and units
in ``BENCHMARK.json``. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the workload's detail figures (per-class medians,
tails with their sample counts, the dispatch-floor anchors).

Everything the run writes stays under ``.perfbench_work/`` in the
repository root: generated inputs, the engine's scratch root, Spark's local
dirs and, for traced runs, the span file.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(run_dir: str) -> None:
    """Point every scratch location of the engine, Spark and the JVM into
    ``run_dir`` before the JVM starts."""
    paths = {
        "SPARK_GRAFT_SCRATCH_ROOT": "scratch",
        "SPARK_LOCAL_DIRS": "spark-local",
        "TMPDIR": "tmp",
    }
    for var, sub in paths.items():
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        os.environ[var] = os.path.join(run_dir, sub)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    ]))


def main() -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

    from workloads import WORKLOADS, Harness

    h = Harness(WORKLOADS[args.workload], args.seed, args.seconds, run_dir)
    spans_path = os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl")
    try:
        res = h.run(bool(args.trace), T0, spans_path=spans_path if args.trace else None)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        wanted, values = spec["per_layer"], res["layers"]
    else:
        wanted, values = spec["end_to_end"], res["e2e"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "detail": res["e2e"]["detail"], "failures": res["failures"],
        "spark_floor_ms_before": res["floor_before"],
        "spark_floor_ms_after": res["floor_after"],
        "suspect_window": res["suspect_window"],
        "spans": spans_path if args.trace else None,
    }))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
