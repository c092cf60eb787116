"""Self-test of the benchmark on tiny inputs (TPC-H scale 0.001, 500
documents, 500 vectors). Run from the repository root:

    python3 perfbench/selftest.py

For each workload it makes two short runs, each in its own process:
a traced run, which must report every per-layer metric with its
declared unit, be correct, and write spans for every layer; and an
untraced run whose expected results are corrupted, which must report
every end-to-end metric with its unit and count failures. Exits 0
when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = 3
LAYERS = {
    "cypher_interactive": {"setup", "parser", "compile", "catalyst", "exec",
                           "server", "algos"},
    "corpus_curation": {"setup", "parser", "compile", "catalyst", "exec",
                        "algos", "corpus"},
}


def child(workload: str, trace: bool, corrupt: bool) -> None:
    """Run one workload on tiny inputs and print its result line."""
    sys.path.insert(0, HERE)
    import harness
    import run

    harness.SIZES = dict.fromkeys(harness.SIZES, (0.001, 500, 500))
    print(json.dumps(run.execute(workload, 7, SECONDS, trace, corrupt)))


def _run(workload: str, trace: bool, corrupt: bool) -> dict:
    code = (f"import sys; sys.path.insert(0, {HERE!r}); import selftest; "
            f"selftest.child({workload!r}, {trace}, {corrupt})")
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         stdout=subprocess.PIPE, text=True, timeout=600)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _same_metrics(result: dict, declared: list[dict]) -> list[str]:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return [f"metrics differ from the declared ones: "
            f"{sorted(set(want.items()) ^ set(got.items()))}"] \
        if want != got else []


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for workload, layers in LAYERS.items():
        traced = _run(workload, True, False)
        problems += [f"{workload} traced: {p}"
                     for p in _same_metrics(traced, spec["per_layer"])]
        if not traced["correct"]:
            problems.append(f"{workload} traced: outputs not correct")
        spans_file = os.path.join(".bench_out",
                                  f"{workload}-seed7.spans.jsonl")
        with open(spans_file) as f:
            seen = {json.loads(line)["name"].split(".")[0] for line in f}
        if not layers <= seen:
            problems.append(f"{workload}: no spans for {layers - seen}")

        corrupted = _run(workload, False, True)
        problems += [f"{workload} untraced: {p}"
                     for p in _same_metrics(corrupted, spec["end_to_end"])]
        if corrupted["failed"] == 0 or corrupted["correct"]:
            problems.append(f"{workload}: corrupted expectations passed")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
