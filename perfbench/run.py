#!/usr/bin/env python3
"""graft benchmark: one command, oracle-checked.

    python3 perfbench/run.py --workload <floor_mix|etl_write>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine from source
(perfbench/build.sh), generates the workload's tables (perfbench/gen.py),
runs one closed-loop client against graft's public entry points in a plain
`java` process (perfbench/scala/BenchMain.scala), with the operation order
drawn from the seed, checks every operation's result against its DuckDB
oracle, and prints the
metrics as the last line of standard output. Everything it writes stays
under .bench_build/ in the checkout. perfbench/README.md defines the
workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
SETUP_SAMPLES = 2        # setup_s is the median over this many fresh processes
SETTLE_PASSES = 1        # warm passes dropped before pass_s and latencies
MIN_WARM_PASSES = 3      # warm passes every run makes; passes 2..3 are counted

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def die(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("cannot find Spark's jars: set SPARK_HOME")
    return os.path.join(home, "jars")


# ---------------------------------------------------------------- contention

def _java_pids(exclude):
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in exclude:
            try:
                with open(f"/proc/{d}/comm") as f:
                    if f.read().strip() == "java":
                        pids.append(int(d))
            except OSError:
                pass
    return pids


def _jiffies(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return int(rest[11]) + int(rest[12])
    except (OSError, IndexError, ValueError):
        return -1


def contention():
    """1-minute load average and the number of busy sibling JVMs (java
    processes burning > 40% of a core over a 400 ms sample), the same test
    graft's own Bench applies before it trusts a timing."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    pids = _java_pids({os.getpid()})
    before = {p: _jiffies(p) for p in pids}
    time.sleep(0.4)
    hz = os.sysconf("SC_CLK_TCK")
    busy = sum(1 for p in pids
               if before[p] >= 0 and _jiffies(p) >= 0
               and (_jiffies(p) - before[p]) / (0.4 * hz) > 0.4)
    return {"load1": load1, "busy_jvms": busy}


# ---------------------------------------------------------------- build, data

def build(jars):
    out = os.path.join(WORK, "classes")
    t = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out, jars],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    if time.time() - t > 2:
        log(f"built engine and driver in {time.time() - t:.1f} s")
    return out


def ensure_data(sf):
    """Generated tables for `sf`, cached in the checkout. They are the same
    for every run; the run seed orders the operations."""
    content = f"sf{sf:g}"
    path = os.path.join(WORK, "data", content)
    if not os.path.isdir(path):
        t = time.time()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        gen.generate(path, sf)
        log(f"generated {content} in {time.time() - t:.1f} s")
    return content, path


# ---------------------------------------------------------------- engine

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java(classes, jars, heap, workdir, args, timeout):
    """Run BenchMain in a fresh JVM; returns (its JSON result, exit code)."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(workdir, "out.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.BenchMain", "--out", out]
    launch_ms = int(time.time() * 1000)
    cmd += ["--launch-ms", str(launch_ms)]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(workdir, "engine.log"), "ab") as logf:
        try:
            r = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=workdir,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            die(f"engine timed out after {timeout} s ({args.get('mode')})")
    if not os.path.exists(out):
        with open(os.path.join(workdir, "engine.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"engine exited with code {r.returncode} ({args.get('mode')})")
    with open(out) as f:
        return json.load(f), r.returncode


def guard(classes, jars, spec):
    """Every frozen name must exist in SparkEntry.queries and oracleSql;
    checked once per build."""
    stamp_file = os.path.join(classes, ".stamp")
    with open(stamp_file) as f:
        stamp = f.read().strip()
    lists = "".join(f"{w} {n}\n" for w, d in sorted(spec["workloads"].items())
                    for n in d["operations"])
    key = hashlib.sha256((stamp + lists).encode()).hexdigest()
    ok_file = os.path.join(WORK, "guard.ok")
    if os.path.exists(ok_file) and open(ok_file).read() == key:
        return
    d = os.path.join(WORK, "guard")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "lists.txt"), "w") as f:
        f.write(lists)
    res, code = java(classes, jars, "512m", d, {"mode": "guard",
                                                 "lists": os.path.join(d, "lists.txt")}, 120)
    if code != 0:
        die(f"frozen operation lists do not match SparkEntry: missing queries "
            f"{res.get('missing_query')}, missing oracles {res.get('missing_oracle')}")
    with open(ok_file, "w") as f:
        f.write(key)


# ---------------------------------------------------------------- oracle gate

CHECK = os.path.join(ROOT, "tools", "check.py")


def check(data, gate_dir, names, gate_errors):
    """Compare every gate result with its oracle through tools/check.py,
    graft's own DuckDB differential check; returns {name: reason} for every
    operation that does not match."""
    r = subprocess.run([sys.executable, CHECK, data, gate_dir, ",".join(names)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=150)
    ok, bad = set(), {}
    for line in r.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        name, _, why = rest.strip().partition(" ")
        if verdict == "OK":
            ok.add(name)
        elif verdict in ("FAIL", "SKIP"):
            bad[name.rstrip(":")] = f"{verdict.lower()}: {why}"
    for n in names:
        if n in gate_errors:
            bad[n] = "engine error: " + gate_errors[n]
        elif n not in ok and n not in bad:
            tail = " ".join(r.stdout.split())[-300:]
            bad[n] = f"not checked (tools/check.py exit {r.returncode}): {tail}"
    return bad


# ---------------------------------------------------------------- metrics

def quantile(xs, p, grid=4000):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of all
    order statistics. A pass mixes a few operations with distinct latencies,
    and a single order statistic jumps between them from run to run; this
    estimate moves smoothly."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    ln_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    w = [0.0] * n  # Beta(a, b) mass on ((i-1)/n, i/n], by the midpoint rule
    for k in range(grid):
        x = (k + 0.5) / grid
        w[min(int(x * n), n - 1)] += math.exp(
            (a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - ln_beta)
    return sum(wi * si for wi, si in zip(w, s)) / sum(w)


def end_to_end(res, setups):
    passes = res["passes"]
    warm = [p for p in passes if p["pass"] > 0]
    # a fixed window of pass indices, so that every run counts the same
    # point of the fresh process's warm-up drift
    counted = [p for p in warm if SETTLE_PASSES < p["pass"] <= MIN_WARM_PASSES]
    counted_ids = {p["pass"] for p in counted}
    lat = [o["build_s"] + o["exec_s"] for o in res["ops"] if o["pass"] in counted_ids]
    m = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in counted),
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        "stored_mb": res["stored_bytes"] / 1e6,
    }
    info = {"warm_passes": len(warm), "counted": [p["pass"] for p in counted],
            "latency_samples": len(lat), "setup_samples": setups,
            "pass_walls": [round(p["wall_s"], 3) for p in passes]}
    return m, info


def per_layer(res):
    """Per-layer values per traced warm pass. A counter the workload never
    touched (no streams, say) is absent from the trace and reads 0."""
    t = res["trace"]
    pp = t["per_pass"]
    g = lambda k: pp.get(k, 0.0)  # noqa: E731
    m = dict(pp)
    m["session.create_s"] = res["session.create_s"]
    m["session.warmup_s"] = res["session.warmup_s"]
    for k in ("analysis_s", "optimizer_s", "planning_s"):
        m[f"plans.{k}"] = g(f"plans.{k}") + g(f"build_plans.{k}")
    runs = g("plans.graft_rule_runs")
    m["plans.graft_rules_s"] = g("plans.graft_rules_s")
    m["plans.graft_rules_effective_ratio"] = g("plans.graft_rule_effective_runs") / runs if runs else 0.0
    covered = g("job_covered_s")
    m["scheduler.slot_util"] = g("executor.run_s") / (covered * t["cores"]) if covered else 0.0
    m["sinks.files"] = float(res["stored_files"])
    m["codegen.cold_compiles"] = t.get("codegen.cold_compiles", 0.0)
    m["codegen.cold_compile_s"] = t.get("codegen.cold_compile_s", 0.0)
    traced = statistics.median(t["warm_traced_wall_s"])
    # settled untraced passes only, like the traced ones (2, 4, ...)
    untraced_walls = [p["wall_s"] for p in res["passes"]
                      if p["pass"] > SETTLE_PASSES and not p["traced"]]
    untraced = statistics.median(untraced_walls)
    exec_plan = sum(g(f"plans.{k}") for k in ("analysis_s", "optimizer_s", "planning_s"))
    attributed = (g("queries.build_s") + exec_plan + g("execute_job_s") + g("caches.release_s"))
    m["unattributed_s"] = traced - g("drain_s") - attributed
    m["trace_overhead_s"] = traced - untraced
    m["traced_pass_s"] = traced
    m["untraced_pass_s"] = untraced
    self_s = {"queries.build_driver": g("queries.build_driver_s"),
              "plans.execute": exec_plan,
              "jobs (scheduler+executor+shuffle)": g("job_covered_s"),
              "caches.release": g("caches.release_s"),
              "tracer.drain": g("drain_s"),
              "unattributed": m["unattributed_s"]}
    return m, self_s


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload}; have {sorted(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    cores = os.cpu_count() if not hasattr(os, "sched_getaffinity") else len(os.sched_getaffinity(0))

    stamp_start = contention()
    jars = spark_jars()
    classes = build(jars)
    guard(classes, jars, spec)
    if not os.path.isfile(CHECK):
        die(f"no {os.path.relpath(CHECK, ROOT)}: run from the root of a graft checkout")
    content, data = ensure_data(wl["sf"])
    _, warm_data = ensure_data(spec["warmup"]["sf"])

    workdir = os.path.join(WORK, "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "gate"))
    names_file = os.path.join(workdir, "names.txt")
    with open(names_file, "w") as f:
        f.write("\n".join(wl["operations"]) + "\n")
    common = {"cores": cores, "local-dir": os.path.join(workdir, "local"), "warm-data": warm_data,
              "warmup": spec["warmup"]["query"]}
    spans = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    try:
        res, _ = java(classes, jars, wl["heap"], workdir,
                      {**common, "mode": "run", "data": data, "names": names_file,
                       "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                       # traced runs alternate untraced and traced warm passes
                       "min-warm": MIN_WARM_PASSES + 2 * a.trace, "gate": os.path.join(workdir, "gate"),
                       "spans": spans, "workload": a.workload}, 170)
        setups = [res["setup_s"]]
        if a.trace == 0:
            for i in range(SETUP_SAMPLES - 1):
                d = os.path.join(workdir, f"setup{i}")
                s, _ = java(classes, jars, wl["heap"], d, {**common, "mode": "setup",
                                                          "local-dir": os.path.join(d, "local")}, 60)
                setups.append(s["setup_s"])
        bad = check(data, os.path.join(workdir, "gate"), wl["operations"], res["gate_errors"])
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    stamp_end = contention()

    op_errors = {}
    for o in res["ops"]:
        if o["error"]:
            op_errors.setdefault(o["name"], o["error"])
    attempted = len(res["ops"]) + len(wl["operations"])
    failed = sum(1 for o in res["ops"] if o["error"]) + len(bad)
    contended = stamp_start["busy_jvms"] > 0 or stamp_end["busy_jvms"] > 0
    log(f"workload {a.workload} seed {a.seed}: {len(wl['operations'])} operations, "
        f"input {content}, {cores} cores")
    log(f"host: load1 {stamp_start['load1']:.2f} -> {stamp_end['load1']:.2f}, busy sibling JVMs "
        f"{stamp_start['busy_jvms']} -> {stamp_end['busy_jvms']}"
        + ("  CONTENDED: timings are not comparable evidence" if contended else ""))
    log(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} attempted)")
    for n, e in sorted(op_errors.items()):
        log(f"FAILED (threw) {n}: {e}")
    for n, e in sorted(bad.items()):
        log(f"FAILED (oracle) {n}: {e}")

    if a.trace == 0:
        m, info = end_to_end(res, setups)
        log(f"pass wall times {info['pass_walls']} (cold first; warm passes {info['counted']} counted)")
        log(f"latency samples {info['latency_samples']}")
        log(f"setup samples {[round(s, 3) for s in setups]}")
    else:
        m, self_s = per_layer(res)
        log("self time per traced warm pass: "
            + ", ".join(f"{k} {v:.3f} s" for k, v in self_s.items()))
        log(f"tracing overhead {m['trace_overhead_s']:.3f} s per pass "
            f"(traced {m['traced_pass_s']:.3f} s vs untraced {m['untraced_pass_s']:.3f} s); "
            f"spans in {os.path.relpath(spans, ROOT)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [d["name"] for d in declared if d["name"] not in m and not a.trace]
    if missing:
        die(f"metrics declared in BENCHMARK.json but not measured: {missing}")
    m = {d["name"]: (m.get(d["name"], 0.0), d["unit"]) for d in declared}
    for k, (v, u) in m.items():
        log(f"{k} = {v:.6g} {u}")
    log(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
