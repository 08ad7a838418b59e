#!/usr/bin/env python3
"""Reproduce catalog_sf001's frozen query list.

Usage: python3 perfbench/draw.py [n]

Lists SparkEntry.queries' names from the query modules' sources, draws
`n` of them (default 1; sorted names, random.Random(DRAW_SEED).sample),
and adds the members the workload must hold: two graph-tier queries
that share the co-purchase edge memo, the two text-tier queries that
share the BPE merge-table memo, two queries that TopKWindowRewrite
sends to TopKPerKey, and one native-kernel query. Prints the sorted
list; with the default n it equals the ops of catalog_sf001 in
workloads.json, which freezes it.
"""
import glob
import os
import random
import re
import sys

DRAW_SEED = 1
MEMO_MEMBERS = ["graph_triangles", "graph_link_prediction",
                "text_bpe_tokens", "text_tokenizer_fertility"]
TOPK_MEMBERS = ["w1_rownum_topk", "a5_dedup_by_key"]
NATIVE_MEMBERS = ["text_fingerprint"]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def inventory():
    names = set()
    for path in glob.glob(os.path.join(ROOT, "src/main/scala/graft/queries/*.scala")):
        # query and oracle map entries are the keys at 4-space indent
        names.update(re.findall(r'^    "([a-z0-9_]+)"\s*->', open(path).read(), re.M))
    return sorted(names)


def draw(n):
    return sorted(set(random.Random(DRAW_SEED).sample(inventory(), n)) | set(MEMO_MEMBERS + TOPK_MEMBERS + NATIVE_MEMBERS))


if __name__ == "__main__":
    names = draw(int(sys.argv[1]) if len(sys.argv) > 1 else 1)
    print(f"{len(inventory())} queries; draw: {','.join(names)}")
