#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
spread: the distance between the first and third quartile of its values
(statistics.quantiles, n=4) as a share of their median. A spread is marked
TOO WIDE (and the exit code is 1) unless it is below a third of the
metric's bound in BENCHMARK.json, for every metric, setup_s included.
Also compares two such sets of runs (--compare).

    python3 perfbench/spread.py --workload dom_sql --seeds 1-10 --save a.json
    python3 perfbench/spread.py --compare a.json b.json

Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_benchmark(path=os.path.join(ROOT, "BENCHMARK.json")):
    with open(path) as fh:
        return json.load(fh)


def spread(values):
    """Interquartile distance over the median, as the acceptance check takes it."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(q2)


def worse_by(base, new, better):
    """How much worse `new` is than `base`, as a share of `base` (<= 0: not worse)."""
    change = (new - base) / abs(base)
    return -change if better == "higher" else change


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"seed {seed}: outputs not correct: {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def report(runs, bench):
    ok = True
    for m in bench["end_to_end"]:
        vals = [r[m["name"]] for r in runs]
        s = spread(vals)
        within = s < m["bound"] / 3
        ok &= within
        print(f"{m['name']:14s} median={statistics.median(vals):.6g} {m['unit']:8s} "
              f"spread={s:.4f} bound={m['bound']} {'ok' if within else 'TOO WIDE'}")
    return ok


def compare(a, b, bench):
    ok = True
    for m in bench["end_to_end"]:
        ma = statistics.median(r[m["name"]] for r in a)
        mb = statistics.median(r[m["name"]] for r in b)
        w = worse_by(ma, mb, m["better"])
        within = w <= m["bound"]
        ok &= within
        print(f"{m['name']:14s} first={ma:.6g} second={mb:.6g} worse_by={w:+.4f} "
              f"bound={m['bound']} {'ok' if within else 'REGRESSED'}")
    return ok


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--save")
    p.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = p.parse_args()
    bench = load_benchmark()
    if a.compare:
        runs = [json.load(open(f)) for f in a.compare]
        sys.exit(0 if compare(runs[0], runs[1], bench) else 1)
    if not a.workload:
        p.error("--workload is required unless --compare is given")
    runs = []
    for seed in parse_seeds(a.seeds):
        runs.append(run_once(a.workload, seed, bench["run_seconds"]))
        print(f"seed {seed}: " + " ".join(f"{k}={v:.6g}" for k, v in runs[-1].items()), flush=True)
        if a.save:
            with open(a.save, "w") as fh:
                json.dump(runs, fh)
    sys.exit(0 if report(runs, bench) else 1)


if __name__ == "__main__":
    main()
