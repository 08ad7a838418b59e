#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
                           [--data <dir>]

It builds graft and the harness from source (sbt, once per source
state), generates the workload's input from --seed, takes set-up
samples in fresh JVMs, runs the workload in one more fresh JVM (a
closed loop, one operation at a time, on local[nproc]), compares every
operation's output with its DuckDB oracle through tools/check.py
--skip-verify, and prints one JSON line last:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from the same workload run with spans and Spark
listeners on. A full run record lands in perfbench/.work/records/
(<workload>-seed<n>-trace<t>.json, or <workload>-data-trace<t>.json with --data).
--data skips generation and reads the ten tables from <dir> instead.
--seconds is recorded but sets nothing: each workload runs a first
pass, a fixed number of warm-up passes and a fixed number of measured
passes (warmup_passes and measured_passes in workloads.json), so two
runs, and two commits, stop at the same point of the JIT's warm-up.
Exit status is non-zero when any operation failed or mismatched.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUDGET_S = 170
PROBES = 1
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Span names whose self time is a per-layer metric, and the metric.
SPAN_METRICS = {
    "queries.construct": "queries.construct_s",
    "queries.plan": "queries.plan_s",
    "queries.action": "queries.action_s",
    "jobs.construct": "jobs.construct_s",
    "jobs.persist": "jobs.persist_s",
    "jobs.count": "jobs.count_s",
    "io.write": "io.write_s",
}
SPARK_COUNTS = ["jobs", "stages", "tasks", "sql_executions", "actions", "task_s", "task_cpu_s",
                "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "task_attempts", "task_attempts_failed", "stage_retries"]


_children = set()


def run_proc(cmd, timeout, **kw):
    """subprocess.run in its own process group: on timeout, or when this
    script is terminated, the whole group (the JVM sbt starts, say) is
    killed and reaped, not only the child."""
    with subprocess.Popen(cmd, start_new_session=True, text=True, **kw) as p:
        _children.add(p.pid)
        try:
            out, err = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise
        finally:
            _children.discard(p.pid)
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def _terminated(signum, _frame):
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    sys.exit(128 + signum)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def spec():
    return load_json(os.path.join(ROOT, "BENCHMARK.json"))


def workloads():
    return load_json(os.path.join(HERE, "workloads.json"))


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(out, "sbt.log"), "w") as log:
        r = run_proc(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, timeout=800)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-3000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, main, *args):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-cp", cp, main]
    return cmd + list(args)


def jvm_env():
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    return dict(os.environ, SPARK_LOCAL_DIRS=local)


# ---- the box ---------------------------------------------------------------

def box_ref_s():
    """Median time of a fixed CPU loop: box drift, shown next to the numbers."""
    def loop():
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 31 + i) % 1_000_003
        return time.perf_counter() - t
    return statistics.median(loop() for _ in range(3))


def box():
    mem = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": os.cpu_count(), "mem_total_bytes": mem, "git_commit": commit,
            "box_ref_s": box_ref_s()}


def cpu_times():
    """The box's cumulative CPU jiffies: (steal, total)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# ---- metrics ---------------------------------------------------------------

median = statistics.median


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def self_times(spans):
    """Per span id: duration minus the time its children cover."""
    dur = {s["id"]: s["end_s"] - s["start_s"] for s in spans}
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    return {i: d - child.get(i, 0.0) for i, d in dur.items()}


def measured(rec):
    """The measured passes: after the first pass and the warm-up passes."""
    return rec["passes"][1 + rec["warmup_passes"]:]


def end_to_end(rec, setup):
    warm = measured(rec)
    by_op = {}
    for p in warm:
        for o in p["ops"]:
            by_op.setdefault(o["name"], []).append(o["wall_s"])
    # an operation's latency is its median over the measured passes
    lat = [median(v) for v in by_op.values()]
    return {
        "setup_s": median(setup),
        "first_pass_s": rec["passes"][0]["wall_s"],
        "pass_s": median([p["wall_s"] for p in warm]),
        "latency_p50_s": median(lat),
        "latency_p90_s": p90(lat),
    }


def pass_layers(p, spans, selfs, cores):
    """Per-layer totals of one pass."""
    ops = {o["op"] for o in p["ops"]}
    m = {v: 0.0 for v in SPAN_METRICS.values()}
    m["core.session_cycle_s"] = 0.0
    for s in spans:
        if s["op"] in ops:
            if s["name"] in SPAN_METRICS:
                m[SPAN_METRICS[s["name"]]] += selfs[s["id"]]
            elif s["name"] in ("core.session_start", "core.session_stop"):
                m["core.session_cycle_s"] += selfs[s["id"]]
    for k in SPARK_COUNTS:
        m[f"spark.{k}"] = sum(o.get("spark", {}).get(k, 0) for o in p["ops"])
    m["spark.driver_only_s"] = sum(max(0.0, o["wall_s"] - o.get("spark_busy_s", 0.0))
                                   for o in p["ops"])
    m["spark.core_use"] = m["spark.task_s"] / (p["wall_s"] * cores)
    for span, key in (("queries.construct", "queries.construct_jobs"),
                      ("jobs.construct", "jobs.construct_jobs")):
        m[key] = sum(b["jobs"] for o in p["ops"] for b in o.get("spark_by_span", [])
                     if b["span"] == span)
    for k in ("rows_written", "bytes_written", "files_written"):
        m[f"io.{k}"] = sum(o.get(k, 0) for o in p["ops"])
    return m


def per_layer(rec):
    spans = rec["spans"]
    selfs = self_times(spans)
    cores = rec["env"]["cores"]
    passes = rec["passes"]
    warm = [pass_layers(p, spans, selfs, cores) for p in measured(rec)]
    m = {k: median([w[k] for w in warm]) for k in warm[0]}
    m["core.session_start_s"] = rec["session_start_s"]
    m["core.table_load_s"] = sum(t["s"] for t in rec["table_loads"])
    m["core.table_load_jobs"] = sum(t["jobs"] for t in rec["table_loads"])
    m["core.memo_build_s"] = passes[0]["memo_build_s"]
    m["core.memo_builds"] = passes[0]["memo_builds"]
    m["core.held_blocks_mb"] = median([max(o["held_mb"] for o in p["ops"])
                                       for p in measured(rec)])
    m["trace.pass_s"] = median([p["wall_s"] for p in measured(rec)])
    return m, warm


# ---- the run ---------------------------------------------------------------

def record_path(workload, inputs, trace):
    return os.path.join(WORK, "records", f"{workload}-{inputs}-trace{trace}.json")


def run_check(data, check):
    names = check["names"]
    r = run_proc([sys.executable, os.path.join(ROOT, "tools", "check.py"), data,
                  check["dir"], "--skip-verify"] + names,
                 cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=120)
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    bad = sorted(set(names) - passed)
    if bad:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-2000:])
    return bad


def run_all(a):
    """Every workload of BENCHMARK.json in turn, one run each."""
    results, ok = {}, True
    for w in [w["name"] for w in spec()["workloads"]]:
        args = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        r = subprocess.run(args + (["--data", a.data] if a.data else []),
                           capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stderr[-3000:])
            ok = False
        if lines:
            results[w] = json.loads(lines[-1])
            for k, v in results[w]["metrics"].items():
                print(f"{w} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": ok and all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="a workload name, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="read the tables from this dir instead of generating them")
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _terminated)
    started = time.time()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing")
    if a.workload == "all":
        run_all(a)
    wl = workloads().get(a.workload)
    if wl is None:
        fail(f"unknown workload {a.workload}")
    cp = build()
    built = time.time()  # the budget below covers the run, not the build

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.data:
        data = os.path.abspath(a.data)
        tiers = gen.describe(data)
    else:
        data = os.path.join(run_dir, "data")
        tiers = gen.generate(data, wl["copies"], a.seed, wl["row_groups"])
    ops = list(wl["ops"])
    # the seed also sets the order of operations within each pass
    gen.np.random.default_rng(a.seed).shuffle(ops)
    stamp = box()
    env = jvm_env()

    setup = []
    for _ in range(PROBES):
        t = time.time()
        r = run_proc(java_cmd(cp, "graftbench.Probe"), env=env, stdout=subprocess.PIPE,
                     stderr=subprocess.PIPE, timeout=60)
        ready = [l for l in r.stdout.split() if l.isdigit()]
        if r.returncode != 0 or not ready:
            sys.stderr.write(r.stderr[-3000:])
            fail("set-up probe failed")
        setup.append(int(ready[-1]) / 1000.0 - t)

    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    t = time.time()
    cpu0 = cpu_times()
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        r = run_proc(
            java_cmd(cp, "graftbench.Main", wl["mode"], data, out,
                     str(1 + wl["warmup_passes"] + wl["measured_passes"]),
                     str(a.trace), ",".join(wl["tables"]), ",".join(ops)),
            env=env, stdout=lf, stderr=subprocess.STDOUT,
            timeout=max(30, BUDGET_S - 30 - (time.time() - built)))
    rec_path = os.path.join(out, "record.json")
    if r.returncode != 0 or not os.path.exists(rec_path):
        sys.stderr.write(open(log).read()[-4000:])
        fail("benchmark JVM failed")
    rec = load_json(rec_path)
    rec["warmup_passes"] = wl["warmup_passes"]
    setup.append(rec["ready_ms"] / 1000.0 - t)
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests while the workload ran
    stamp["steal_share"] = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])

    mismatched = run_check(data, rec["check"])
    passes = rec["passes"]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"] or o["check"] in mismatched)
    correct = failed == 0 and not rec["check"]["no_oracle"]

    e2e = end_to_end(rec, setup)
    e2e["success_rate"] = 1.0 - failed / attempted
    layers, warm = per_layer(rec) if a.trace else (None, None)
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec()["per_layer" if a.trace else "end_to_end"]}

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "box": stamp, "jvm": rec["env"], "inputs": tiers, "ops": ops,
              "setup_samples_s": setup, "mismatched": mismatched, "end_to_end": e2e,
              "per_layer": layers, "per_layer_by_pass": warm,
              "warmup_passes": wl["warmup_passes"],
              "passes": [{"wall_s": p["wall_s"], "ops": p["ops"]} for p in passes],
              "table_loads": rec["table_loads"], "spans": rec["spans"],
              "build_s": built - started, "run_s": time.time() - built}
    with open(record_path(a.workload, "data" if a.data else f"seed{a.seed}", a.trace), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
