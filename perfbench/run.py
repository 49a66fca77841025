"""Benchmark entry point.

    python3 perfbench/run.py --workload {registry,lifecycle} --seed N
                             --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed`` into
``perfbench/.work`` (removed at exit). Report lines go to standard output,
one per line with a ``report`` tag; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Metric names, units and the workload each one is meant for are listed in
``BENCHMARK.json`` and ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import harness

WORKLOADS = ("registry", "lifecycle")


def spec() -> dict:
    """``BENCHMARK.json`` at the checkout root: metric names and units."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_workload(workload: str, seed: int, seconds: float, traced: bool, work: str,
                 **kwargs) -> dict:
    harness.prepare_env(work)
    if workload == "lifecycle":
        import lifecycle

        return lifecycle.run(workload, seed, seconds, traced, work, **kwargs)
    import registry

    return registry.run(workload, seed, seconds, traced, work, **kwargs)


def summary(result: dict, traced: bool) -> dict:
    """The final line: every metric of the selected set, with its unit; a
    per-layer metric the workload does not reach reads 0."""
    if traced:
        values = dict(result.get("layers", {}))
        values["host.steal_pct"] = result["host"]["steal_pct"]
        values["host.load1"] = result["host"]["load1"]
        values["setup.cold_start_s"] = result["detail"]["cold_start_s"]
    else:
        values = result["e2e"]
    units = {m["name"]: m["unit"] for m in spec()["per_layer" if traced else "end_to_end"]}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }


def report(workload: str, result: dict) -> None:
    """Human-readable lines before the result: box, sample counts, failures."""
    lines = {
        "box": harness.versions(),
        "host": result["host"],
        "failed_frac": {"failed": result["failed"], "attempted": result["attempted"],
                        "value": result["failed"] / max(1, result["attempted"])},
        "failures": result["failures"],
        "errors": result.get("errors", {}),
        "detail": result.get("detail", {}),
    }
    if result["host"].get("contaminated"):
        lines["warning"] = "contaminated run: >= 1% CPU steal"
    for key, value in lines.items():
        print(f"report {workload} {key} {json.dumps(value, default=str)}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    work = os.path.join(harness.BENCH_DIR, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args.workload, result)
    print(json.dumps(summary(result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
