"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload extract_job --runs 10 [--seed0 1] [--out set.json]

Runs ``run.py`` once per seed, one run at a time, and prints each
metric's values, median and inter-quartile distance as a share of the
median (the figure each end-to-end bound in BENCHMARK.json is set against).
With ``--out``, every run's result line and summary line (which holds the
host's load and steal during the timed loop) are written to a JSON file.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import quartiles, spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    values: dict = {}
    runs = []
    for seed in range(args.seed0, args.seed0 + args.runs):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             timeout=600, check=True).stdout
        summary, result = (json.loads(line) for line in out.strip().splitlines()[-2:])
        runs.append({"seed": seed, "summary": summary["perfbench"], "result": result})
        if not result["correct"]:
            print(f"seed {seed}: {result['failed']}/{result['attempted']} turns failed")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
            + f" host={summary['perfbench']['host']}", flush=True)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(runs, f, indent=1)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, vals in values.items():
        q1, med, q3 = quartiles(vals)
        print(f"{name:12s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={spread(vals):.3f} bound={bounds[name]} "
              f"{'ok' if spread(vals) < bounds[name] / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
