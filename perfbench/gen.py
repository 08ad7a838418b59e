#!/usr/bin/env python3
"""Seeded input generator for the benchmark's workloads.

Usage: python3 perfbench/gen.py <out_dir> <copies> <seed> [row_groups]

The base is `perfbench/tier/`, a byte copy of the sf0.01 test-data tier
(ten tables, each one parquet row group; see TESTDATA.md). The run seed
is applied the way tools/synth_scale.py scales a tier (that file is
reused by scheme, not imported or edited):

- documents, embeddings and events are replicated `copies` times with
  per-copy id shifts of max(id) + 1 (documents also get a per-copy
  suffix token; events shift user_id too, so per-user density stays
  constant);
- orders and lineitem are replicated with the same order-key shift, and
  o_custkey is rotated per copy by `k * rot mod |customer|`, where `rot`
  comes from the run seed (tools/synth_scale.py fixes it at 6151);
- dimensions (customer, supplier, part, nation, region) are not
  replicated;
- every table's rows are then permuted by the run seed and written in
  `row_groups` parquet row groups (events and lineitem) or one row group
  (everything else, as in the test data).

Column types, timestamp units included, are the base tier's.
Prints one JSON line: each table's rows and parquet row groups.
"""
import glob
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tier")


def base_tier():
    return {os.path.basename(p)[:-8]: pq.read_table(p)
            for p in sorted(glob.glob(os.path.join(BASE, "*.parquet")))}


def shift(tb, column, by):
    return tb.set_column(tb.schema.get_field_index(column), column,
                         pc.add(tb[column], pa.scalar(by, tb.schema.field(column).type)))


def replicate(tables, copies, rng):
    """tools/synth_scale.py's id-shift scheme, with a seeded rotation."""
    if copies == 1:
        return tables
    out = dict(tables)
    n_cust = tables["customer"].num_rows
    rot = int(rng.integers(1, n_cust))

    def stack(tb, one):
        return pa.concat_tables([one(tb, k) for k in range(copies)])

    def off(tb, column):
        return pc.max(tb[column]).as_py() + 1

    def docs(tb, k):
        if k == 0:
            return tb
        suffix = f" c{k}"
        tb = shift(tb, "doc_id", k * off(tables["documents"], "doc_id"))
        tb = tb.set_column(tb.schema.get_field_index("text"), "text",
                           pc.binary_join_element_wise(tb["text"], suffix, ""))
        return shift(tb, "n_chars", len(suffix.encode()))
    out["documents"] = stack(tables["documents"], docs)
    emb_off = off(tables["embeddings"], "vec_id")
    out["embeddings"] = stack(tables["embeddings"],
                              lambda tb, k: shift(tb, "vec_id", k * emb_off))
    ev = tables["events"]
    ev_off, user_off = off(ev, "event_id"), off(ev, "user_id")
    out["events"] = stack(ev, lambda tb, k: shift(shift(tb, "event_id", k * ev_off),
                                                  "user_id", k * user_off))
    ord_off = off(tables["orders"], "o_orderkey")

    def orders(tb, k):
        cust = (tb["o_custkey"].to_numpy() + k * rot) % n_cust
        tb = shift(tb, "o_orderkey", k * ord_off)
        return tb.set_column(tb.schema.get_field_index("o_custkey"), "o_custkey",
                             pa.array(cust, tb.schema.field("o_custkey").type))
    out["orders"] = stack(tables["orders"], orders)
    out["lineitem"] = stack(tables["lineitem"],
                            lambda tb, k: shift(tb, "l_orderkey", k * ord_off))
    return out


def generate(out_dir, copies, seed, row_groups=1):
    rng = np.random.default_rng(seed)
    tables = replicate(base_tier(), copies, rng)
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(tables):
        tb = tables[name]
        tb = tb.take(pa.array(rng.permutation(tb.num_rows)))
        groups = row_groups if name in ("events", "lineitem") else 1
        size = max(1, -(-tb.num_rows // groups))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tb, path + ".part", row_group_size=size)
        os.replace(path + ".part", path)
    return describe(out_dir)


def describe(data_dir):
    """Rows and parquet row groups of each table in `data_dir`."""
    out = {}
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        meta = pq.ParquetFile(path).metadata
        out[os.path.basename(path)[:-8]] = {"rows": meta.num_rows,
                                            "row_groups": meta.num_row_groups}
    return out


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out, k, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    rg = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    print(json.dumps(generate(out, k, seed, rg)))
