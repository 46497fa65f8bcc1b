#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark between two checkouts.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload W --seeds A..B

For each seed it runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0` once in each tree, alternating which tree goes
first, each tree with its own CARGO_TARGET_DIR (its `.bench_build`), and
appends every result line to a log. It then prints, for each end-to-end
metric of BENCHMARK.json, both medians, the parent's quartile spread and
how many pairs the change won, and states whether

  * the claim rule holds: at least ten pairs ran, the change won at
    least nine tenths of them, and its median beats the parent's by
    more than the parent's interquartile range;
  * the no-regression rule holds: the change's median is not worse than
    the parent's by more than the metric's bound (a fraction of the
    parent's median), and no larger share of operations fails.

Each run lasts BENCHMARK.json's run_seconds; the log is
CHANGE_DIR/.bench_out/ab.<workload>.log; the `gain` column is the
change's median improvement as a share of the parent's. One tree on both sides is the
self-check: it claims nothing.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def run(tree, workload, seed, seconds):
    """One benchmark run in `tree`; its last stdout line as a dict."""
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(tree, ".bench_build"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stdout + p.stderr)
        sys.exit(f"ab: run in {tree} (seed {seed}) printed no result line, rc={p.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A..B, inclusive")
    a = ap.parse_args()
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    bench = json.load(open(os.path.join(change, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    lo, hi = (int(x) for x in a.seeds.split(".."))
    log = os.path.join(change, ".bench_out", f"ab.{a.workload}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    results = {"parent": [], "change": []}
    for k, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(parent if side == "parent" else change, a.workload, seed, seconds)
            results[side].append(r)
            with open(log, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "side": side,
                                    "first": order[0], "result": r}) + "\n")
            vals = " ".join(f"{m}={v['value']:.3f}" for m, v in r["metrics"].items())
            print(f"seed {seed} {side:<6} correct={r['correct']} {vals}", flush=True)

    n = hi - lo + 1
    print(f"\n{a.workload}: {n} pairs, seconds {seconds}, log {log}")
    print(f"{'metric':<14}{'parent':>10}{'change':>10}{'gain':>9}{'par IQR':>10}"
          f"{'wins':>7}  claim  no-regression")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        gain = (pm - cm) if lower else (cm - pm)
        claim = n >= 10 and wins >= 0.9 * n and gain > q3 - q1
        worse = -gain / pm if pm else 0.0
        ok = worse <= m["bound"]
        print(f"{name:<14}{pm:>10.3f}{cm:>10.3f}{-worse:>+9.1%}{q3 - q1:>10.3f}"
              f"{wins:>4}/{n:<2}  {'yes' if claim else 'no':<5}  "
              f"{'ok' if ok else 'FAIL'} (bound {m['bound']:.0%})")

    def fail_frac(rs):
        return sum(r["failed"] for r in rs) / max(1, sum(r["attempted"] for r in rs))
    pf, cf = fail_frac(results["parent"]), fail_frac(results["change"])
    print(f"{'op_fail_frac':<14}{pf:>10.4f}{cf:>10.4f}{'':>9}{'':>10}{'':>7}  "
          f"{'':<5}  {'ok' if cf <= pf else 'FAIL'}")


if __name__ == "__main__":
    main()
