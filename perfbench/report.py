#!/usr/bin/env python3
"""Render the per-layer table of traced runs as markdown.

Usage: python3 perfbench/report.py <seed>

Reads perfbench/.work/records/<workload>-seed<seed>-trace1.json for
each workload of BENCHMARK.json (and the matching trace0 record, when
present, for the tracing overhead: traced pass_s minus untraced
pass_s) and prints one table: per-layer metrics down, workloads across.
"""
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def fmt(v):
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.3f}"
    return f"{int(v)}"


def main():
    seed = sys.argv[1]
    spec = run.spec()
    names = [w["name"] for w in spec["workloads"]]
    recs = {}
    for w in names:
        traced, plain = (run.record_path(w, f"seed{seed}", t) for t in (1, 0))
        if os.path.exists(traced):
            recs[w] = (run.load_json(traced),
                       run.load_json(plain) if os.path.exists(plain) else None)
    cols = [w for w in names if w in recs]
    print("| metric | unit | " + " | ".join(cols) + " |")
    print("|---|---|" + "---|" * len(cols))
    for m in spec["per_layer"]:
        vals = [fmt(recs[w][0]["per_layer"][m["name"]]) for w in cols]
        print(f"| `{m['name']}` | {m['unit']} | " + " | ".join(vals) + " |")
    over = []
    for w in cols:
        traced, plain = recs[w]
        if plain:
            t, p = traced["per_layer"]["trace.pass_s"], plain["end_to_end"]["pass_s"]
            over.append(f"{w}: {t:.3f} - {p:.3f} = {t - p:+.3f} s ({(t - p) / p:+.1%}; CPU "
                        f"steal {traced['box']['steal_share']:.1%} traced, "
                        f"{plain['box']['steal_share']:.1%} untraced)")
    if over:
        print("\nTracing overhead (traced pass_s - untraced pass_s, seed "
              f"{seed}): " + "; ".join(over))
    stamp = recs[cols[0]][0]
    print(f"\nBox: nproc {stamp['box']['nproc']}, MemTotal {stamp['box']['mem_total_bytes']} B, "
          f"box_ref_s {stamp['box']['box_ref_s']:.4f}; {stamp['jvm']['jdk']}, "
          f"Spark {stamp['jvm']['spark']}, Scala {stamp['jvm']['scala']}, "
          f"conf sha256 {stamp['jvm']['conf_sha256'][:16]}…, commit {stamp['box']['git_commit']}")


if __name__ == "__main__":
    main()
