#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on a small tier.

Usage (from the root of a checkout):
  python3 perfbench/smoke.py [data_dir] [workload ...]

data_dir holds the ten tables (the sf0.001 test-data tier is the
intended input); without it, one seeded copy of perfbench/tier is used.
For each workload it runs the benchmark twice (--trace 0, --trace 1,
--seconds 1, same seed) and checks that:
  1. every end-to-end and per-layer metric of BENCHMARK.json prints,
     with its unit, and no other metric does;
  2. per operation, the self times of the operation's steps
     (construct + plan + action, or the mart's session, job, write,
     count and stop) sum to the operation's wall time within a small
     residual;
  3. the count metrics spark.jobs, spark.tasks and io.rows_written
     repeat exactly across two measured passes.
Exits non-zero when any check fails.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

RESIDUAL_S = 0.05
RESIDUAL_SHARE = 0.05
REPEATING = ["spark.jobs", "spark.tasks", "io.rows_written"]


def bench(workload, trace, data):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--data", data],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def main():
    args = sys.argv[1:]
    names = [w["name"] for w in run.spec()["workloads"]]
    if args and args[0] not in names:
        data, args = os.path.abspath(args[0]), args[1:]
    else:
        os.makedirs(run.WORK, exist_ok=True)
        data = tempfile.mkdtemp(prefix="smoke-", dir=run.WORK)
        gen.generate(data, 1, 1)
    problems = []
    spec = run.spec()
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in args or names:
        for trace in (0, 1):
            out = bench(w, trace, data)
            if out is None:
                problems.append(f"{w} trace {trace}: the run failed")
                continue
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace {trace}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
        path = run.record_path(w, "data", 1)
        if not os.path.exists(path):
            continue
        rec = run.load_json(path)
        selfs = run.self_times(rec["spans"])
        walls = {o["op"]: o["wall_s"] for p in rec["passes"] for o in p["ops"]}
        for s in rec["spans"]:
            if s["name"] == "op":
                steps = walls[s["op"]] - selfs[s["id"]]
                if abs(walls[s["op"]] - steps) > max(RESIDUAL_S, RESIDUAL_SHARE * walls[s["op"]]):
                    problems.append(f"{w} op {s['op']}: steps {steps:.4f} s vs wall "
                                    f"{walls[s['op']]:.4f} s")
        warm = rec["per_layer_by_pass"]
        for k in REPEATING:
            if warm[0][k] != warm[1][k]:
                problems.append(f"{w}: {k} differs across measured passes: {warm[0][k]} vs {warm[1][k]}")
        print(f"[smoke] {w}: checked {len(walls)} operations", file=sys.stderr)
    for p in problems:
        print(f"[smoke] FAIL {p}")
    print(f"[smoke] {'ok' if not problems else f'{len(problems)} problems'}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
