#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the benchmark's steadiness check.

    python3 fmtbench/spread.py --workload ingest --seeds 1-10 [--seconds 10] [--out runs.jsonl]

Runs the workload once per seed (untraced) and prints, per metric, the
median of the runs and the distance between the first and third
quartile as a share of the median (statistics.quantiles(n=4)), next to
the metric's bound from BENCHMARK.json. With --out, appends each run's
result line to that file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]

    results = []
    for seed in seeds(args.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: run failed")
        line = r.stdout.strip().splitlines()[-1]
        results.append(json.loads(line))
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(line + "\n")
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in sorted(results[-1]["metrics"].items())),
            file=sys.stderr)

    print(f"{args.workload}: {len(results)} runs, "
          f"{sum(not r['correct'] for r in results)} with failed checks")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- above bound/3"
        print(f"  {m['name']:<14} median {med:10.4f} {m['unit']:<6} spread {spread:6.3f} "
              f"(bound {m['bound']}){flag}")


if __name__ == "__main__":
    main()
