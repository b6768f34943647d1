#!/usr/bin/env python3
"""A/B the repository benchmark between two checkouts.

    python3 scripts/bench_ab.py PARENT CHANGE --workload ccf_matrix --pairs 10
        [--seed 101] [--seconds 15] [--trace 0]

Runs `python3 perfbench/run.py` from the root of PARENT and of CHANGE in
turn, PAIRS times. Pair i uses seed SEED+i on both sides; even pairs run
PARENT first and odd pairs CHANGE first, so drift on the host does not
favour one side. Each run's result line goes to stderr as it arrives.

At the end it prints, per metric: each side's median and quartiles, how many
pairs the change won (ties count for neither side), the ratio of the medians
(change / parent), and whether the medians differ by more than the parent's
interquartile range. A metric is better when lower unless CHANGE's
BENCHMARK.json says otherwise. Failed operations are summed per side.

A run that fails (non-zero exit, or no result line) is recorded with its
side, seed, exit code and the last lines of its stderr, and the A/B goes
on; the summary covers the finished runs (a pair with a failed side does not
count towards wins), lists the failed runs per side, and the script exits 1
if any run failed.
"""
import argparse
import json
import os
import subprocess
import sys


def quantile(xs, q):
    """Linear-interpolation quantile of a non-empty list (q in [0, 1])."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_once(checkout, workload, seed, seconds, trace):
    """The run's result dict, or (exit code, last 20 stderr lines) if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        return out.returncode, "\n".join(out.stderr.splitlines()[-20:])
    return json.loads(lines[-1])


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m.get("better", "lower")
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sides = {"parent": a.parent, "change": a.change}
    # per side, one entry per pair: the result dict, or None if the run failed
    runs = {"parent": [], "change": []}
    failures = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            seed = a.seed + i
            r = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            if isinstance(r, tuple):
                code, tail = r
                failures[side].append((seed, code, tail))
                runs[side].append(None)
                print(f"pair {i + 1} {side}: run failed (seed {seed}, exit {code}); "
                      f"last lines of its stderr:\n{tail}", file=sys.stderr, flush=True)
            else:
                runs[side].append(r)
                print(f"pair {i + 1} {side}: " + json.dumps(r), file=sys.stderr, flush=True)

    better = directions(a.change)
    done = {side: [r for r in runs[side] if r is not None] for side in sides}
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p is not None and c is not None]
    print(f"{a.workload}: {a.pairs} pairs, seeds {a.seed}-{a.seed + a.pairs - 1}, "
          f"--seconds {a.seconds} --trace {a.trace}; {len(pairs)} pairs with both runs finished")
    if done["parent"] and done["change"]:
        names = [n for n in done["parent"][0]["metrics"] if n in done["change"][0]["metrics"]]
        print(f"{'metric':<28} {'parent median [q1-q3]':>28} {'change median [q1-q3]':>28} "
              f"{'wins':>6} {'ratio':>6}  gap>IQR")
        for name in names:
            p = [r["metrics"][name]["value"] for r in done["parent"]]
            c = [r["metrics"][name]["value"] for r in done["change"]]
            lower = better.get(name, "lower") == "lower"
            paired = [(x["metrics"][name]["value"], y["metrics"][name]["value"]) for x, y in pairs]
            wins = sum(1 for x, y in paired if (y < x if lower else y > x))
            pm, cm = quantile(p, 0.5), quantile(c, 0.5)
            iqr = quantile(p, 0.75) - quantile(p, 0.25)
            ratio = cm / pm if pm else float("nan")
            gap = (pm - cm) if lower else (cm - pm)
            print(f"{name:<28} {pm:>10.3f} [{quantile(p, 0.25):.3f}-{quantile(p, 0.75):.3f}]"
                  f"{'':>1} {cm:>10.3f} [{quantile(c, 0.25):.3f}-{quantile(c, 0.75):.3f}]"
                  f" {wins:>3}/{len(pairs):<2} {ratio:>6.3f}  {'yes' if gap > iqr else 'no'}")
    for side in ("parent", "change"):
        failed = sum(int(r["failed"]) for r in done[side])
        attempted = sum(int(r["attempted"]) for r in done[side])
        print(f"{side}: failed {failed} of {attempted} operations; "
              f"{len(failures[side])} of {a.pairs} runs failed")
        for seed, code, tail in failures[side]:
            last = tail.splitlines()[-1] if tail else ""
            print(f"  {side} run failed: seed {seed}, exit {code}: {last}")
    return 1 if failures["parent"] or failures["change"] else 0


if __name__ == "__main__":
    sys.exit(main())
