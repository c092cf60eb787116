"""Benchmark entry point.

    python3 perfbench/run.py --workload cypher_interactive --seed 1 \\
        --seconds 30 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, measures for ``--seconds``, checks every output against an
independent oracle, and prints as its last stdout line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its
per-layer metrics). The line before it carries run details: Spark
settings, input sizes, the host canary, sample counts and any errors.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
import harness  # noqa: E402
import interactive  # noqa: E402
from cypher import TEMPLATES  # noqa: E402

WORKLOADS = {"cypher_interactive": interactive, "corpus_curation": corpus}
# Per-layer metrics of operations a workload does not run; it reports
# them as 0.
NOT_RUN = {
    "cypher_interactive": ("corpus.", "algos.dedup_groups."),
    "corpus_curation": tuple(f"{layer}.{t.name}." for layer in
                             ("compile", "exec") for t in TEMPLATES)
    + ("algos.shortest_path.", "server."),
}


def select(spec: dict, workload: str, e2e: dict, layer: dict,
           trace: bool) -> dict:
    """The declared metrics with their declared units; a declared metric
    the run did not measure is an error."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name, unit = m["name"], m["unit"]
        if trace:
            value = layer.get(name)
            if value is None and name.startswith(NOT_RUN[workload]):
                value = 0.0
        else:
            value, got_unit = e2e.get(name, (None, unit))
            if got_unit != unit:
                raise ValueError(f"{name}: unit {got_unit}, declared {unit}")
        if value is None:
            raise ValueError(f"metric {name} was not measured")
        out[name] = {"value": float(value), "unit": unit}
    return out


def execute(workload: str, seed: int, seconds: float, trace: bool,
            corrupt: bool = False) -> dict:
    """One run; prints the info line and returns the result object."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    # The program under test is the checkout in the working directory.
    sys.path.insert(0, os.getcwd())
    importlib.import_module("brahmand_spark")
    importlib.import_module("__spark_entry__")

    run = harness.make_run(workload, seed, seconds, trace)
    run.corrupt = corrupt
    try:
        e2e, layer = WORKLOADS[workload].run_workload(run)
    finally:
        harness.close_run(run)
    layer["host.canary_s"] = run.info["host.canary_s"]
    metrics = select(spec, workload, e2e, layer, trace)
    run.info["error_rate"] = run.failed / max(1, run.attempted)
    run.info["errors"] = run.errors
    print(json.dumps({"info": run.info}, default=str))
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = execute(args.workload, args.seed, args.seconds,
                     bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
