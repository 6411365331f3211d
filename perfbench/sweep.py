"""Run one workload over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workload serve --seeds 1-10 \
        [--seconds 10] [--trace 0|1] [--out results.json]

Runs ``perfbench/run.py`` once per seed, one run at a time, from the
repository root. Prints each run's metrics, then for every metric its
median, quartiles and spread (the distance between the first and third
quartile as a share of the median). ``--out`` writes every run and the
summary as JSON. Exits 1 when any run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> "list[int]":
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarise(values: "list[float]") -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    args = ap.parse_args()

    runs, ok = [], True
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        ok = ok and p.returncode == 0 and result is not None and result["correct"]
        runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall, "result": result,
                     "report": lines[:-1] if result else lines})
        shown = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()}
        print(f"seed {seed}: exit {p.returncode}, {wall:.1f} s wall, {shown}", flush=True)
        if p.returncode and not result:
            print(p.stderr[-2000:], file=sys.stderr)

    names = [k for r in runs if r["result"] for k in r["result"]["metrics"]]
    summary = {
        name: summarise([r["result"]["metrics"][name]["value"] for r in runs
                         if r["result"] and name in r["result"]["metrics"]])
        for name in dict.fromkeys(names)
    }
    summary["wall_s"] = summarise([r["wall_s"] for r in runs])
    for name, s in summary.items():
        print(f"  {args.workload} {name}: median {s['median']:.6g}, "
              f"quartiles {s['q1']:.6g}..{s['q3']:.6g}, spread {s['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "runs": runs, "summary": summary}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
