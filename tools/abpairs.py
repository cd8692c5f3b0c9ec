#!/usr/bin/env python3
"""Alternating parent/change pairs of the table-format benchmark.

    python3 tools/abpairs.py --parent <rev> --workload <w> --seeds 901-910 [--seconds 25]

Exports <rev> into a temporary directory (removed at exit), then for
every seed runs `fmtbench/run.py --workload <w> --seed <s> --trace 0` once
in the parent tree and once in this checkout (the change), alternating
which side runs first: even pairs run the parent first, odd pairs the
change. Each side builds into its own tree's .bench_build on its first
run. --workload may be repeated (or comma-separated); all workloads
share one parent export.

Prints, per workload, one row per run in the CHANGES.md format
(`pair seed side: <metrics> failed/attempted`), then each end-to-end
metric's parent and change medians, how much worse the change's median
is (negative = better), the parent's IQR/median, and a verdict against
the metric's bound in BENCHMARK.json:

  ok          the change's median is worse by at most the bound
  worse       the change's median is worse by more than the bound
  unresolved  the parent's own IQR/median is wider than the bound and
              not every change run beats every parent run

followed by failed/attempted per side. Quartiles are
statistics.quantiles(n=4), as in fmtbench/spread.py. The tool reads
BENCHMARK.json and writes nothing under fmtbench/.
"""
import argparse
import atexit
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# CHANGES.md's per-run column order; metrics BENCHMARK.json adds later
# are appended after these
ROW_ORDER = ["op_p50_ms", "op_tail_ms", "ops_per_s", "follow_p50_ms",
             "read_p50_ms", "setup_s", "space_amp", "live_heap_mb"]


def seed_list(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export(rev, dest):
    """A plain copy of `rev`'s tree: no worktree registration is left in
    the repository if this process is killed before it can clean up."""
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                       stdout=tar, check=True)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as tf:
            tf.extractall(dest)


def run_one(tree, workload, seed, seconds):
    """The result line of one untraced run, or None when it failed."""
    r = subprocess.run(
        [sys.executable, os.path.join("fmtbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, text=True)
    for line in reversed(r.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except ValueError:
            continue
    print(f"  run failed in {tree} (exit {r.returncode}): no result line", file=sys.stderr)
    return None


def fmt(v):
    return f"{v:.4g}"


def report(workload, runs, e2e):
    names = [n for n in ROW_ORDER if n in e2e] + [n for n in e2e if n not in ROW_ORDER]
    print(f"{workload}: runs (pair seed side: {' '.join(names)} failed/attempted):")
    for pair, seed, side, res in runs:
        if res is None:
            print(f"  {pair} {seed} {side}: run failed")
            continue
        vals = " ".join(fmt(res["metrics"][n]["value"]) for n in names)
        print(f"  {pair} {seed} {side}: {vals} {res['failed']}/{res['attempted']}")
    ok_runs = {side: [r for _, _, s, r in runs if s == side and r is not None]
               for side in ("parent", "change")}
    if not ok_runs["parent"] or not ok_runs["change"]:
        print(f"{workload}: no comparison, a side has no successful run")
        return
    print(f"{workload}: medians parent -> change (worse by; parent IQR/median; bound):")
    for n in names:
        p = [r["metrics"][n]["value"] for r in ok_runs["parent"]]
        c = [r["metrics"][n]["value"] for r in ok_runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        lower = e2e[n]["better"] == "lower"
        worse = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
        if len(p) >= 2:
            q1, _, q3 = statistics.quantiles(p, n=4)
            spread = (q3 - q1) / pm if pm else 0.0
        else:
            spread = float("inf")
        bound = e2e[n]["bound"]
        all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
        if spread > bound and not all_better:
            verdict = "unresolved"
        else:
            verdict = "worse" if worse > bound else "ok"
        print(f"  {n}: {fmt(pm)} -> {fmt(cm)} ({worse * 100:+.1f}%; "
              f"{spread:.2f}; {bound}) {verdict}")
    for side in ("parent", "change"):
        rs = [r for _, _, s, r in runs if s == side]
        failed = sum(r["failed"] for r in rs if r is not None)
        attempted = sum(r["attempted"] for r in rs if r is not None)
        print(f"  failed/attempted {side}: {failed}/{attempted}"
              f" ({sum(r is None for r in rs)} run(s) without a result line)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent")
    ap.add_argument("--workload", required=True, action="append",
                    help="workload name; repeat or comma-separate for several")
    ap.add_argument("--seeds", required=True, help="e.g. 901-910 or 901,903-905")
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json run_seconds")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    workloads = [w for ws in args.workload for w in ws.split(",") if w]
    seeds = seed_list(args.seeds)

    tmp = tempfile.mkdtemp(prefix="abpairs-")
    atexit.register(shutil.rmtree, tmp, True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    parent = os.path.join(tmp, "parent")
    os.mkdir(parent)
    export(args.parent, parent)

    for w in workloads:
        runs = []
        for pair, seed in enumerate(seeds):
            order = ["parent", "change"] if pair % 2 == 0 else ["change", "parent"]
            for side in order:
                res = run_one(parent if side == "parent" else ROOT, w, seed, seconds)
                runs.append((pair, seed, side, res))
                print(f"[{w}] pair {pair} seed {seed} {side}: "
                      + ("failed" if res is None else "done"), file=sys.stderr, flush=True)
        report(w, runs, e2e)
        sys.stdout.flush()


if __name__ == "__main__":
    main()
