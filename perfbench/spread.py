"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload curate_docs --seeds 11 12 13 14 15

Runs ``perfbench/run.py`` once per seed, one run at a time, prints each
run's result with its set-up and pass times, then for each end-to-end
metric the median over the runs and the distance between the first and
third quartiles as a share of the median, next to the metric's bound
from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args(argv)

    runs = []
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        details, result = map(json.loads, proc.stdout.strip().splitlines()[-2:])
        print(json.dumps({"seed": seed, **result, "setup_s": details["setup_s"],
                          "pass_s": details["pass_s"]}), flush=True)
        if not result["correct"]:
            return 1
        runs.append(result["metrics"])

    for m in bench["end_to_end"]:
        values = [r[m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        print(f"{m['name']:<14} median {med:12.4f} {m['unit']:<7} "
              f"spread {(q3 - q1) / med:.4f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
