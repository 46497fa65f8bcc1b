#!/usr/bin/env python3
"""graft's benchmark: one command, four workloads, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library from `src/main`
(see build.py), generates the workload's inputs from the seed, and runs
the library in a fresh JVM at local[<cpus>] with the Tier-1 heap (2-8 g,
half of RAM), in an empty working directory so stores and in-JVM memos
start cold:

  * `setup_s` runs from JVM launch to a ready session and one warm-up op
    on tiny inputs (input generation excluded);
  * a check pass runs every op once and writes its rows for the oracle
    compare; untimed warm passes follow, then timed passes over the op
    list, one op at a time in a closed loop. The pass counts are fixed
    per workload (timed ones scale with `--seconds`), so every run does
    the same work.

With `--trace 0` the last stdout line carries the gated end-to-end
metrics; with `--trace 1` the per-layer ones, measured by a traced run
that also states its own overhead. Lines before it print every metric
by name and unit, `op_fail_frac` included. Everything is written under `.bench_work/`
and `.bench_out/` in the checkout.
"""
import argparse
import json
import math
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from workloads import E2E_METRICS, LAYER_METRICS, REPORTED_METRICS, WORKLOADS  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_gb():
    """The Tier-1 heap formula: half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(classpath, cwd, props, env_dirs, timeout):
    """Run one benchmark JVM in `cwd` with the properties in `props`."""
    os.makedirs(os.path.join(cwd, "tmp"), exist_ok=True)
    path = os.path.join(cwd, "bench.properties")
    cmd = ["java", f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=1g",
           "-XX:-UsePerfData", "-Duser.timezone=UTC",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(cwd, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.GraftBench", path]
    env = dict(os.environ, **env_dirs)
    # set-up is timed from here, just before the process starts
    props = dict(props, launch_ns=str(time.time_ns()))
    with open(path, "w") as f:
        f.write("".join(f"{k}={v}\n" for k, v in props.items()))
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: JVM in {cwd} exceeded {timeout:.0f} s")
    finally:
        # never leave the JVM behind: not on a timeout, not on SIGTERM
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        sys.exit(f"perfbench: JVM in {cwd} exited {rc}")
    with open(props["out"]) as f:
        return json.load(f)


_T0 = time.time()


def log(msg):
    print(f"perfbench [{time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def quantile(xs, q):
    """Nearest-rank quantile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def commit(root):
    """HEAD of the checkout when it is a git work tree, else None."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr.splitlines() or [""])[0]


def main():
    # SIGTERM unwinds like an exit, so a running JVM is stopped first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="",
                    help="self-test only: extra failing ops (inject_throw,inject_wrong)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="self-test only: input size multiplier")
    a = ap.parse_args()
    root = os.getcwd()
    w = WORKLOADS[a.workload]

    classes = build.build(root)
    classpath = classes + os.pathsep + os.path.join(build.spark_jars(root), "*")
    log("build ready")
    deadline = time.time() + 170

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    prepared = os.path.join(work, "prepared")
    main_dir, warm_dir = os.path.join(prepared, "main"), os.path.join(prepared, "warm")
    taxi_dir = os.path.join(prepared, "taxi")
    t0 = time.time()
    gen.tables(main_dir, w["sf"] * a.scale, a.seed, max(20, int(w["docs"] * a.scale)),
               max(20, int(w["vecs"] * a.scale)))
    gen.tables(warm_dir, 0.001, a.seed, 50, 50)
    corpus_bytes = 0
    if w["taxi_mb"]:
        corpus_bytes = gen.taxi(os.path.join(taxi_dir, "main"),
                                int(w["taxi_mb"] * 1e6 * a.scale), a.seed)
        gen.taxi(os.path.join(taxi_dir, "warm"), 100_000, a.seed)
    gen_s = time.time() - t0
    log(f"inputs generated in {gen_s:.1f} s")
    input_mb = corpus_bytes / 1e6 if corpus_bytes else sum(
        os.path.getsize(os.path.join(main_dir, f)) for f in os.listdir(main_dir)) / 1e6

    ops = list(w["ops"])
    if w.get("permute"):
        random.Random(a.seed).shuffle(ops)
    env_dirs = {"GRAFT_TAXI_DIR": taxi_dir,
                "GRAFT_ORC_DIR": os.path.join(prepared, "orc"),
                "GRAFT_JSONL_DIR": os.path.join(prepared, "jsonl")}
    check_dir = os.path.join(work, "check")
    base = {
        "cpus": str(cpus()), "ops": ",".join(ops), "warmup_op": w["ops"][0],
        "data_dir": main_dir, "warm_dir": warm_dir,
        "taxi_glob": os.path.join(taxi_dir, "main", "*.csv"),
        "warm_taxi_glob": os.path.join(taxi_dir, "warm", "*.csv"),
        "check_dir": check_dir, "warm_passes": str(w["warm_passes"]),
        "passes": str(max(1, round(w["passes"] * a.seconds / 10))),
        "trace": str(a.trace),
        "cold_stores": "1" if w.get("cold_stores") else "0", "inject": a.inject,
        "twins": ",".join(check.TWINS[o] for o in ops if o in check.TWINS)}

    def left():
        return max(5.0, min(JVM_TIMEOUT_S, deadline - time.time()))

    # the oracle SQL is the library's own; the corpus-reading oracles name
    # this workload's prepared directories, so dump once per build and workload
    oracle_path = os.path.join(os.path.dirname(classes), f"oracle_sql.{a.workload}.json")
    if not os.path.exists(oracle_path):
        jvm(classpath, os.path.join(work, "oracle"),
            dict(mode="oracle", oracle_sf_name="main", out=oracle_path + ".tmp"),
            env_dirs, left())
        os.replace(oracle_path + ".tmp", oracle_path)
    with open(oracle_path) as f:
        oracle_sql = json.load(f)

    res = jvm(classpath, os.path.join(work, "main"),
              dict(base, mode="main", out=os.path.join(work, "main.json")),
              env_dirs, left())
    log(f"main: setup {res['setup_s']:.2f} s, {len(res['passes'])} passes")

    # ── output checks (outside all timing) ──────────────────────────────
    checker = check.Checker(root, main_dir, oracle_sql)
    verdict = {}  # (op, digest) -> None if right else why not
    failures = {}
    for c in res["checks"]:
        op = c["op"]
        if not c["ok"]:
            failures[op] = f"check pass threw: {c['error']}"
            continue
        if not checker.has_check(op):
            failures[op] = "no oracle, bound or twin to check against"
            continue
        twin = check.TWINS.get(op)
        why = checker.check(op, os.path.join(check_dir, op, "check"),
                            os.path.join(check_dir, twin, "check") if twin else None)
        verdict[(op, c["digest"])] = why
        if why:
            failures[op] = why
    execs = res["execs"]
    failed = 0
    for e in execs:
        key = (e["op"], e["digest"])
        if e["ok"] and key not in verdict and e["op"] not in failures:
            twin = check.TWINS.get(e["op"])
            verdict[key] = checker.check(
                e["op"], os.path.join(check_dir, e["op"], e["digest"]),
                os.path.join(check_dir, twin, "check") if twin else None)
        why = e["error"] or failures.get(e["op"]) or verdict.get(key)
        e["failure"] = why or None
        failed += bool(why)
    attempted = len(execs)
    log("outputs checked")

    passes = [p for p in res["passes"] if p["kind"] == "timed"]
    timed = [e for e in execs if res["passes"][e["pass"]]["kind"] == "timed"]
    lat = [e["s"] for e in timed]
    cpu = [e["cpu_s"] for e in timed]
    values = {
        "setup_s": res["setup_s"],
        "setup_cpu_s": res["setup_cpu_s"],
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "op_cpu_p50_s": statistics.median(cpu),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": quantile(lat, 0.9),
        "ingest_mb_s": input_mb / statistics.median(lat),
        "peak_rss_mb": res["peak_rss_mb"],
        "op_fail_frac": failed / max(1, attempted),
    }
    units = dict(E2E_METRICS + REPORTED_METRICS)
    e2e = {k: (values[k], units[k]) for k in units}
    layers = res.get("layers", {})
    layer_metrics = {}
    for name, unit in LAYER_METRICS:
        v = layers.get(name)
        if name == "sources.input_mb" and v is None:
            v = input_mb
        layer_metrics[name] = (float(v) if v is not None else 0.0, unit)

    # ── report ─────────────────────────────────────────────────────────
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {len(ops)} ops, "
          f"{len(passes)} timed passes, {len(lat)} timed ops, "
          f"{cpus()} cpus, heap {heap_gb()}g, input {input_mb:.2f} MB")
    for name, (v, unit) in e2e.items():
        extra = (f"  (n={len(lat)})" if name.startswith("op_p") or name.startswith("op_cpu")
                 else f"  ({failed}/{attempted})" if name == "op_fail_frac" else "")
        print(f"  {name:<24} {v:>12.4f} {unit}{extra}")
    for op, why in sorted(failures.items()):
        print(f"  FAILED {op}: {why}")
    if a.trace:
        for name, (v, unit) in layer_metrics.items():
            print(f"  {name:<24} {v:>12.4f} {unit}")

    os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "provenance": {
            "cpus": cpus(), "heap_gb": heap_gb(), "jdk": java_version(),
            "commit": commit(root), "source_sha1": build.source_stamp(root),
            "host": platform.node(), "corpus_bytes": corpus_bytes,
            "input_mb": input_mb, "generate_s": gen_s, "ops": ops},
        "main_jvm": {k: res.get(k) for k in ("setup_s", "session_s", "setup_cpu_s",
                                             "peak_rss_mb")},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "failures": failures,
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in layer_metrics.items()},
        "passes": res["passes"], "checks": res["checks"], "execs": execs,
    }
    out = os.path.join(root, ".bench_out",
                       f"{a.workload}.seed{a.seed}.trace{a.trace}.json")
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    spans = os.path.join(work, "main.json.spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, out[:-len(".json")] + ".spans.json")

    metrics = layer_metrics if a.trace else {k: e2e[k] for k, _ in E2E_METRICS}
    print(json.dumps({
        "correct": failed == 0 and not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
