"""Spread report: run one workload N times, one seed per run, and print
for every metric its median, quartiles and (Q3 - Q1) / median, next to
the bound BENCHMARK.json gives it.

    python3 kgbench/spread.py --workload serve_mix --runs 10 [--first-seed 1]

Run from the repository root. Runs are sequential; each is a fresh
process, exactly as the benchmark is invoked. The raw result lines are
appended to ``--out`` (a JSON-lines file) when given.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                     "report": json.loads(lines[-2]), "result": result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}", file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    print(f"{'metric':32} {'unit':>6} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, vs in values.items():
        q1, med, q3 = quartiles(vs)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        flag = "" if bound is None or spread <= bound / 3 else "  > bound/3"
        print(f"{name:32} {units[name]:>6} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread:8.4f} {bound if bound is not None else '-':>6}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
