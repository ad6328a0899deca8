"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload mdf_requests --seeds 1-10

For each end-to-end metric it prints the median of the runs and the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound from BENCHMARK.json. Every run must exit 0 with
``correct: true``; the script exits 1 otherwise, or when a spread (other
than ``setup_s``'s) exceeds its bound. Runs go one after another; each
run's standard output is kept in ``.perfbench_out/run-<workload>-<seed>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-5"))
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    ok = True
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        with open(os.path.join(ROOT, ".perfbench_out",
                               f"run-{args.workload}-{seed}.txt"), "w") as f:
            f.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        good = proc.returncode == 0 and result.get("correct") is True
        ok &= good
        print(f"seed {seed}: exit {proc.returncode} correct"
              f" {result.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in result.get("metrics", {}).items()),
              flush=True)
        if not good:
            print(proc.stdout[-2000:], proc.stderr[-2000:], file=sys.stderr)
        for k, v in result.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])

    for k, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(k)
        flag = ""
        if bound is not None and k != "setup_s" and spread > bound:
            flag, ok = "  OVER BOUND", False
        print(f"{k}: median {med:.4g} spread {spread:.4f}"
              f" bound {bound}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
