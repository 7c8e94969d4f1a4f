#!/usr/bin/env python3
"""Alternating A/B of the benchmark between two checkouts.

Usage:

    python3 tools/perf_ab.py --parent DIR --change DIR --workload seismic \\
        --seeds 1,2,3,4,5,6,7,8,9,1001 [--seconds 20] [--trace 0]

For each seed it runs `python3 perfbench/run.py` once in each checkout, one
after the other. Which side runs first alternates from pair to pair, so a
drift of the host over the session does not favour one side. It prints
each pair's end-to-end metrics as they finish, then per metric each side's
median and quartiles and the change's win count; ties count for neither
side. The metric names and their better direction come from the change's
BENCHMARK.json.

A run that prints no result line, or a result with "correct": false or
failed operations, is reported and left out of that metric's pairs.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="comma-separated seeds, one pair per seed")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = json.loads((args.change / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seeds = [int(s) for s in args.seeds.split(",") if s]
    sides = {"parent": args.parent, "change": args.change}
    pairs = []  # (seed, {side: metrics or None})
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            r = run(sides[side], args.workload, seed, args.seconds, args.trace)
            ok = r is not None and r.get("correct") and r.get("failed") == 0
            if not ok:
                print(f"seed {seed} {side}: no correct result "
                      f"({'no result line' if r is None else json.dumps({k: r.get(k) for k in ('correct', 'attempted', 'failed')})})")
            got[side] = {k: v["value"] for k, v in r["metrics"].items()} if ok else None
        pairs.append((seed, got))
        cells = []
        for name in better:
            p, c = ((got[s] or {}).get(name) for s in ("parent", "change"))
            cells.append(f"{name} {p if p is None else round(p, 4)} -> "
                         f"{c if c is None else round(c, 4)}")
        print(f"pair {i + 1} seed {seed} ({order[0]} first): " + "; ".join(cells),
              flush=True)

    print(f"\n{args.workload}: {len(pairs)} pairs, --seconds {args.seconds:g}")
    for name, direction in better.items():
        par, chg, wins, n = [], [], 0, 0
        for _, got in pairs:
            if got["parent"] is None or got["change"] is None:
                continue
            p, c = got["parent"].get(name), got["change"].get(name)
            if p is None or c is None:
                continue
            par.append(p)
            chg.append(c)
            n += 1
            if (c < p) if direction == "lower" else (c > p):
                wins += 1
        if not n:
            print(f"  {name}: no complete pairs")
            continue
        pq, cq = quartiles(par), quartiles(chg)
        print(f"  {name} ({direction} is better): "
              f"parent median {statistics.median(par):.4g} "
              f"[{pq[0]:.4g}, {pq[1]:.4g}]  "
              f"change median {statistics.median(chg):.4g} "
              f"[{cq[0]:.4g}, {cq[1]:.4g}]  "
              f"change wins {wins}/{n}")


if __name__ == "__main__":
    main()
