#!/usr/bin/env python3
"""Steadiness of the benchmark: run one workload N times, each with
another seed, and print each end-to-end metric's median, quartiles and
spread (inter-quartile range over the median) beside its bound.

    python3 perfbench/steady.py --workload crawl-loop --runs 10
    python3 perfbench/steady.py --workload crawl-loop --runs 10 --save a.json
    python3 perfbench/steady.py --workload crawl-loop --runs 10 --against a.json

`--save` keeps the set's values; `--against` compares this set with a
saved one: the drift of each median in the metric's worse direction,
which must stay within the bound, and the share of failed operations,
which must be equal. Exits 1 when a spread, a drift or the failed
share is out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run with seed {seed} failed (exit {p.returncode})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]

    values = {m["name"]: [] for m in metrics}
    shares = set()
    for i in range(args.runs):
        seed = args.first_seed + i
        r = run_once(args.workload, seed, spec["run_seconds"], 0)
        if not r["correct"]:
            raise SystemExit(f"seed {seed}: a check failed")
        shares.add(r["failed"] / r["attempted"])
        for m in metrics:
            values[m["name"]].append(r["metrics"][m["name"]]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              file=sys.stderr)

    ok = len(shares) == 1
    print(f"{args.workload}: {args.runs} runs, failed share {sorted(shares)}")
    print(f"{'metric':<14} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}")
    for m in metrics:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        held = spread <= m["bound"]
        ok &= held
        print(f"{m['name']:<14} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>8.3f} "
              f"{m['bound']:>6}{'' if held else '  OUT'}{'  (< 1/3 bound)' if spread < m['bound'] / 3 else ''}")

    if args.save:
        with open(args.save, "w") as f:
            json.dump({"workload": args.workload, "values": values, "shares": sorted(shares)}, f)
    if args.against:
        with open(args.against) as f:
            before = json.load(f)
        ok &= before["shares"] == sorted(shares)
        print(f"against {args.against}: failed share {before['shares']} -> {sorted(shares)}")
        for m in metrics:
            a = statistics.median(before["values"][m["name"]])
            b = statistics.median(values[m["name"]])
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            held = worse <= m["bound"]
            ok &= held
            print(f"{m['name']:<14} {a:>10.4g} -> {b:<10.4g} worse by {worse:+.3f} "
                  f"(bound {m['bound']}){'' if held else '  OUT'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
