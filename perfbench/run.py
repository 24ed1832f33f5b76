"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` under
``.perfbench/`` (removed afterwards); the engine sees only those files.
Prints every metric by name with its unit, then, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer
metrics).  A traced run also writes its full record, including the traffic
manifest and the metrics it could not measure, to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["stream_backfill", "registry_batch"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import bigdata_covid19_real_time_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench import registry, streams

    # Python workers (Arrow kernels) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    runs_dir = os.path.join(REPO, ".perfbench")
    work = os.path.join(runs_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # every scratch file of Python, the JVM and Spark stays in the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        workload = registry if args.workload == "registry_batch" else streams
        result = workload.run(args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        measured = result.pop("layers")
        declared = spec["per_layer"]
        unmeasured = [m["name"] for m in declared if m["name"] not in measured]
        values = {m["name"]: measured.get(m["name"], 0.0) for m in declared}
        result["unmeasured"] = unmeasured
        result["end_to_end_untraced"] = result["metrics"]
        with open(os.path.join(runs_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({**result, "layers": values}, f, indent=1)
    else:
        declared = spec["end_to_end"]
        values = result["metrics"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print("samples: " + ", ".join(f"{k}={v}" for k, v in result["samples"].items()))
    for name, m in metrics.items():
        note = "  (unmeasured)" if args.trace and name in result["unmeasured"] else ""
        print(f"{name:42s} {m['value']:>16.6g} {m['unit']}{note}")
    for failure in result["failures"]:
        print(f"check failed: {failure}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
