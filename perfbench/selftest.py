#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 and a tiny taxi corpus.

    python3 perfbench/selftest.py

Asserts that every end-to-end and per-layer metric is printed by name
with its unit, that a clean run reports no failures, and that an
injected throwing op and an injected wrong result each raise
`op_fail_frac`. Takes a few minutes (one benchmark run per case).
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

from workloads import E2E_METRICS, LAYER_METRICS, REPORTED_METRICS  # noqa: E402

SCALE = 0.1  # relational_mix at sf0.01 * 0.1 = sf0.001


def bench(workload, trace, inject=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)]
    if inject:
        cmd += ["--inject", inject]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                       cwd=os.path.dirname(HERE))
    assert r.returncode == 0, f"{cmd} exited {r.returncode}:\n{r.stderr[-3000:]}"
    lines = r.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def printed(lines, name, unit):
    pat = re.compile(rf"^\s+{re.escape(name)}\s+-?[0-9.]+(e[-+]?\d+)? {re.escape(unit)}\b")
    return any(pat.match(l) for l in lines)


def benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    spec = benchmark_json()
    checks = [
        ("BENCHMARK.json lists the gated end-to-end metrics",
         [(m["name"], m["unit"]) for m in spec["end_to_end"]] == E2E_METRICS),
        ("BENCHMARK.json lists the per-layer metrics",
         [(m["name"], m["unit"]) for m in spec["per_layer"]] == LAYER_METRICS),
    ]
    e2e = E2E_METRICS + REPORTED_METRICS

    lines, res = bench("relational_mix", 0)
    checks.append(("clean run is correct", res["correct"] and res["failed"] == 0))
    for name, unit in e2e:
        checks.append((f"prints {name} [{unit}]", printed(lines, name, unit)))
    checks.append(("JSON carries exactly the gated end-to-end metrics",
                   [n for n, _ in E2E_METRICS] == list(res["metrics"])))

    lines, res = bench("relational_mix", 0, inject="inject_throw")
    checks.append(("a throwing op raises op_fail_frac",
                   res["failed"] > 0 and not res["correct"]
                   and any(l.split()[:1] == ["op_fail_frac"] and float(l.split()[1]) > 0
                           for l in lines)))

    lines, res = bench("relational_mix", 0, inject="inject_wrong")
    checks.append(("a wrong result raises op_fail_frac",
                   res["failed"] > 0 and not res["correct"]
                   and any("FAILED inject_wrong" in l for l in lines)))

    for workload in ("taxi_ingest", "relational_mix"):
        lines, res = bench(workload, 1)
        for name, unit in LAYER_METRICS:
            checks.append((f"{workload} traced run prints {name} [{unit}]",
                           printed(lines, name, unit) and name in res["metrics"]))

    bad = [n for n, ok in checks if not ok]
    for n, ok in checks:
        print(("ok   " if ok else "FAIL ") + n)
    print(f"{len(checks) - len(bad)}/{len(checks)} self-test checks passed")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
