#!/usr/bin/env python3
"""Paired A/B of perfbench over two checkouts, in alternating order.

    python3 tools/ab_perfbench.py --a ../parent --b . --workload ingest \
        --seeds 301-310 [--seconds 25] [--trace 0] [--out ab.json]

`--a` and `--b` are the roots of two checkouts of the repository (the
baseline and the change), e.g. made with `git worktree add` or
`git archive`. For every seed the tool runs `perfbench/run.py` once in
each checkout, back to back; odd-numbered pairs run A first and
even-numbered pairs run B first, so neither arm always runs in the
other's wake. It prints every run, then per metric each arm's median and
quartiles, the median gap (B - A), A's interquartile distance, and how
many pairs B won (better in the metric's direction in BENCHMARK.json of
checkout A). A run that fails is printed and left out of the pairs.
`--out` also writes every run's result and detail lines as JSON. The
tool only reads the checkouts' perfbench; it edits nothing in them.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path


def seed_list(text):
    """`301-310` or `1,5,9` (or a mix) -> [301, ..., 310]."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs):
    """(q1, median, q3) with linear interpolation between order statistics."""
    xs = sorted(xs)

    def q(p):
        i = p * (len(xs) - 1)
        lo = int(i)
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)
    return q(0.25), q(0.5), q(0.75)


def directions(root, trace):
    spec = json.loads((Path(root) / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_once(root, args, seed):
    """One perfbench run in `root`: (result, detail), or (None, error text)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return None, {"error": (p.stderr.strip().splitlines() or ["no output"])[-1],
                      "returncode": p.returncode, "run_s": round(wall, 1)}
    detail = json.loads(lines[-2]).get("detail", {})
    detail["run_s"] = round(wall, 1)
    return json.loads(lines[-1]), detail


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--a", required=True, help="baseline checkout root")
    p.add_argument("--b", required=True, help="changed checkout root")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=seed_list)
    p.add_argument("--seconds", type=float, default=25)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)
    arms = {"A": args.a, "B": args.b}
    better = directions(args.a, args.trace)
    runs = []
    for i, seed in enumerate(args.seeds):
        for arm in ("AB" if i % 2 == 0 else "BA"):
            result, detail = run_once(arms[arm], args, seed)
            runs.append({"arm": arm, "seed": seed, "result": result, "detail": detail})
            if result is None:
                print(f"seed {seed} {arm}: FAILED {detail}", flush=True)
                continue
            m = result["metrics"]
            print(f"seed {seed} {arm}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} run_s={detail['run_s']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(m.items())
                             if k in better), flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps({"a": args.a, "b": args.b,
                                              "workload": args.workload,
                                              "trace": args.trace, "runs": runs}, indent=1))

    ok = {(r["arm"], r["seed"]): r["result"]["metrics"] for r in runs if r["result"]}
    pairs = [s for s in args.seeds if ("A", s) in ok and ("B", s) in ok]
    print(f"\n{len(pairs)} complete pairs of {len(args.seeds)}")
    if not pairs:
        return 1
    print(f"{'metric':<28}{'A q1/med/q3':>30}{'B q1/med/q3':>30}"
          f"{'B-A':>11}{'A iqr':>10}{'B wins':>8}")
    for name, direction in better.items():
        if not all(name in ok[(arm, s)] for s in pairs for arm in "AB"):
            continue
        a = [ok[("A", s)][name]["value"] for s in pairs]
        b = [ok[("B", s)][name]["value"] for s in pairs]
        qa, qb = quartiles(a), quartiles(b)
        sign = -1 if direction == "lower" else 1
        wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
        print(f"{name:<28}{'/'.join(f'{v:.4g}' for v in qa):>30}"
              f"{'/'.join(f'{v:.4g}' for v in qb):>30}"
              f"{qb[1] - qa[1]:>11.4g}{qa[2] - qa[0]:>10.4g}{wins:>5}/{len(pairs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
