#!/usr/bin/env python3
"""Deterministic dirty-corpus builder for the cross-engine parity gate.

Usage: python3 tools/dirty_corpus.py [src_sf_dir] [dst_root]
       (defaults: /root/testdata/sf0.001  /tmp/dirty_gates)

Builds SIX corpora under <dst_root>/{events,embeddings,star,docs,all,fuzz}
— one per tier, each a full copy of the clean sf dir with that tier's
table(s) replaced by clean-rows + appended pathological rows, plus
`all` with EVERY dirty table at once (cross-tier interactions) and
`fuzz` with seeded-random pathology at volume. The parity claim
(docs/NOTES.md "cross-engine parity ON dirty data") is then one
command per corpus:

    python3 tools/check.py <dst_root>/events /tmp/verify_dirty_events

Expected: `N pass, 0 fail` on every corpus, where N is the number of
entries in `SparkEntry.oracleSql` (249 today). Pathological surface per
tier:
  events:     null ts / null type / NaN / ±Inf / negative value /
              null + non-JSON + type-mismatched props
  embeddings: null / empty / off-dimension / zero-norm / NaN / Inf /
              null-component vectors, null label
  star:       null & duplicate & negative keys, orphan FKs, NaN/Inf
              measures, out-of-domain discount, null dates/statuses
  docs:       null/empty/whitespace text, single char, zero diversity,
              multi-byte unicode, 10k single token, control chars,
              space runs, null lang/source
"""
import duckdb, os, shutil, sys

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dirty_gates"

ALL = ["region", "nation", "customer", "supplier", "part", "orders",
       "lineitem", "events", "documents", "embeddings"]


def copy_clean(dst, skip):
    os.makedirs(dst, exist_ok=True)
    for t in ALL:
        if t in skip:
            continue
        shutil.copy(os.path.join(SRC, f"{t}.parquet"),
                    os.path.join(dst, f"{t}.parquet"))


con = duckdb.connect()

# ---- events tier -----------------------------------------------------
d = os.path.join(DST, "events")
copy_clean(d, {"events"})
con.execute(f"""COPY (
  SELECT * FROM read_parquet('{SRC}/events.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (900001, NULL::TIMESTAMP, 3, 'click', 10.0, '{{"k": 7}}'),
    (900002, TIMESTAMP '2024-01-05 12:00:00', 4, NULL, 20.0, '{{"k": 8}}'),
    (900003, TIMESTAMP '2024-01-05 12:00:00', 5, 'view', 'NaN'::DOUBLE, '{{"k": 9}}'),
    (900004, TIMESTAMP '2024-01-05 12:00:00', 6, 'purchase', 'Infinity'::DOUBLE, '{{"k": 10}}'),
    (900005, TIMESTAMP '2024-01-05 12:00:00', 7, 'click', '-Infinity'::DOUBLE, '{{"k": 11}}'),
    (900006, TIMESTAMP '2024-01-05 12:00:00', 8, 'view', -42.5, '{{"k": 12}}'),
    (900009, TIMESTAMP '2024-01-05 12:00:00', 10, 'click', 32.0, NULL),
    (900010, TIMESTAMP '2024-01-05 12:00:00', 11, 'view', 33.0, 'not json at all'),
    (900011, TIMESTAMP '2024-01-05 12:00:00', 12, 'click', 34.0, '{{"k": "xyz"}}'),
    (900012, TIMESTAMP '2024-01-05 12:00:00', 13, 'purchase', NULL::DOUBLE, '{{"k": 15}}')
  ) t(event_id, ts, user_id, event_type, value, props)
) TO '{d}/events.parquet' (FORMAT PARQUET)""")

# ---- embeddings tier -------------------------------------------------
d = os.path.join(DST, "embeddings")
copy_clean(d, {"embeddings"})
con.execute(f"""COPY (
  SELECT * FROM read_parquet('{SRC}/embeddings.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (900001, NULL::FLOAT[], 1),
    (900002, []::FLOAT[], 2),
    (900003, list_transform(range(16), x -> x::FLOAT), 3),
    (900004, list_transform(range(128), x -> x::FLOAT), 4),
    (900005, list_transform(range(64), x -> 0.0::FLOAT), 5),
    (900006, list_transform(range(64), x -> CASE WHEN x = 7 THEN 'NaN'::FLOAT ELSE 0.1::FLOAT END), 6),
    (900007, list_transform(range(64), x -> CASE WHEN x = 3 THEN 'Infinity'::FLOAT ELSE 0.1::FLOAT END), 7),
    (900009, list_transform(range(64), x -> CASE WHEN x = 11 THEN NULL::FLOAT ELSE 0.2::FLOAT END), 9),
    (900010, list_transform(range(64), x -> (0.05 * x)::FLOAT), NULL)
  ) t(vec_id, embedding, label)
) TO '{d}/embeddings.parquet' (FORMAT PARQUET)""")

# ---- star-schema tier ------------------------------------------------
d = os.path.join(DST, "star")
copy_clean(d, {"customer", "orders", "lineitem"})
con.execute(f"""COPY (
  SELECT * FROM read_parquet('{SRC}/customer.parquet')
  UNION ALL SELECT * FROM (VALUES
    (900001, NULL, 1, 100.0, 'BUILDING'),
    (900002, 'Customer#dirty2', 2, 'NaN'::DOUBLE, 'AUTOMOBILE'),
    (900003, 'Customer#dirty3', 3, 'Infinity'::DOUBLE, 'MACHINERY'),
    (900004, 'Customer#dirty4', 99, NULL::DOUBLE, NULL),
    (-5, 'Customer#dirty5', 4, 0.0, 'HOUSEHOLD')
  ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
) TO '{d}/customer.parquet' (FORMAT PARQUET)""")
con.execute(f"""COPY (
  SELECT * FROM read_parquet('{SRC}/orders.parquet')
  UNION ALL SELECT * FROM (VALUES
    (910001, NULL::BIGINT, 'O', 100.0, TIMESTAMP '1996-06-01', '1-URGENT'),
    (910002, 900001, NULL, 200.0, TIMESTAMP '1996-06-01', '2-HIGH'),
    (910003, 900002, 'F', 'NaN'::DOUBLE, TIMESTAMP '1996-06-01', '3-MEDIUM'),
    (910004, 900003, 'O', 300.0, NULL::TIMESTAMP, '4-NOT SPECIFIED'),
    (910005, 77777777, 'X', -50.0, TIMESTAMP '1996-06-01', NULL),
    (1, 900001, 'O', 400.0, TIMESTAMP '1996-06-01', '5-LOW')
  ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
) TO '{d}/orders.parquet' (FORMAT PARQUET)""")
con.execute(f"""COPY (
  SELECT * FROM read_parquet('{SRC}/lineitem.parquet')
  UNION ALL SELECT * FROM (VALUES
    (920001, 1, 1, 1, 'NaN'::DOUBLE, 100.0, 0.05, 0.02, 'N', 'O', TIMESTAMP '1996-06-01'),
    (920002, 2, 2, 1, 10.0, 'Infinity'::DOUBLE, 0.05, 0.02, 'N', 'O', TIMESTAMP '1996-06-01'),
    (920003, 3, 3, 1, -4.0, 100.0, 1.5, 0.02, 'R', 'F', TIMESTAMP '1996-06-01'),
    (920004, 4, 4, 1, 10.0, 100.0, 0.05, 0.02, NULL, NULL, NULL::TIMESTAMP),
    (910005, 99999999, 5, 2, 10.0, 100.0, 0.05, 0.02, 'A', 'F', TIMESTAMP '1996-06-01')
  ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
      l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)
) TO '{d}/lineitem.parquet' (FORMAT PARQUET)""")

# ---- documents tier --------------------------------------------------
d = os.path.join(DST, "docs")
copy_clean(d, {"documents"})
con.execute(f"""COPY (
  SELECT * FROM read_parquet('{SRC}/documents.parquet')
  UNION ALL BY NAME
  SELECT * FROM (VALUES
    (9001, NULL, 'en', 'crawl', 0),
    (9002, '', 'en', 'crawl', 0),
    (9003, '   ', 'en', 'crawl', 3),
    (9004, 'a', 'en', 'crawl', 1),
    (9005, 'the the the the the', 'en', 'crawl', 19),
    (9006, 'naïve café über straße 東京 таблица', 'xx', 'crawl', 34),
    (9007, repeat('x', 10000), 'en', 'crawl', 10000),
    (9008, 'tab' || chr(9) || 'and' || chr(10) || 'newline' || chr(13) || 'chars', 'en', 'crawl', 21),
    (9009, 'a  b   c', 'en', 'crawl', 8),
    (9010, 'select from where join the a', NULL, NULL, 28),
    (9011, 'the quick brown fox jumps over the lazy dog again', 'en', 'crawl', 49),
    (9012, '🚀 rocket 🧪 science a𝄞b 😀😀', 'xx', 'crawl', 16)
  ) t(doc_id, text, lang, source, n_chars)
) TO '{d}/documents.parquet' (FORMAT PARQUET)""")

# ---- fuzz tier: seeded-random pathology at VOLUME ---------------------
# The hand-picked rows choose one pathology each; a crawl delivers
# combinations. A seeded generator (reproducible) appends hundreds of
# rows whose fields go pathological INDEPENDENTLY — the cross-engine
# twin of DirtyFuzzSpec's in-repo no-crash barrier.
import random
import pandas as pd

# default seed 0xD127F is the committed record; pass a third arg to
# probe a fresh pathology mix (any seed must stay green on the full inventory)
FUZZ_SEED = int(sys.argv[3], 0) if len(sys.argv) > 3 else 0xD127F
R = random.Random(FUZZ_SEED)

def fuzz_text():
    k = R.randint(0, 9)
    if k == 0: return None
    if k == 1: return ""
    if k == 2: return " " * R.randint(1, 5)
    if k == 3: return "x" * R.randint(100, 3000)
    if k == 4:
        pool = ["東京", "straße", "ταχύς", "naïve", "таблица", "🚀🧪", "a𝄞b"]
        return " ".join(R.choice(pool) for _ in range(R.randint(1, 8)))
    if k == 5: return "tab\tand\nnewline\rchars" + " " * R.randint(0, 2)
    if k == 6:
        return " ".join(R.choice(["a", "", "bb", "", "c"])
                        for _ in range(R.randint(1, 6)))
    pool = ["spark", "query", "table", "scan", "the", "fast", "row"]
    return " ".join(R.choice(pool) for _ in range(R.randint(1, 30)))

def fuzz_value():
    k = R.randint(0, 7)
    if k == 0: return None
    if k == 1: return float("nan")
    if k == 2: return float("inf")
    if k == 3: return float("-inf")
    # magnitude cap 1e4: above ~4.5e11 a double's ulp exceeds the
    # 1e-4 grid and the engines' round(x, 4) legitimately differ in
    # the last ulp (documented numeric envelope, ROBUSTNESS.md)
    if k == 4: return -1e4 + R.random()
    return R.random() * 200 - 50

def fuzz_props():
    k = R.randint(0, 5)
    if k == 0: return None
    if k == 1: return "not json"
    if k == 2: return '{"k": "str"}'
    if k == 3: return f'{{"k": {R.random() * 100}}}'
    if k == 4: return "{"
    return f'{{"k": {R.randint(0, 100)}}}'

def fuzz_vec():
    k = R.randint(0, 7)
    if k == 0: return None
    if k == 1: return []
    if k == 2: return [float(i) for i in range(R.choice([8, 16, 128]))]
    if k == 3: return [0.0] * 64
    if k == 4:
        v = [0.1] * 64; v[R.randint(0, 63)] = float("nan"); return v
    if k == 5:
        v = [0.1] * 64; v[R.randint(0, 63)] = float("inf"); return v
    if k == 6:
        v = [0.2] * 64; v[R.randint(0, 63)] = None; return v
    return [R.random() for _ in range(64)]

d = os.path.join(DST, "fuzz")
copy_clean(d, {"documents", "events", "embeddings", "customer",
               "orders", "lineitem"})

docs = pd.DataFrame([{
    "doc_id": 20000 + i, "text": (t := fuzz_text()),
    "lang": None if R.randint(0, 5) == 0 else R.choice(["en", "de", "xx"]),
    "source": None if R.randint(0, 5) == 0 else f"src{R.randint(0, 4)}",
    "n_chars": len(t) if t is not None else 0,
} for i in range(300)])
events = pd.DataFrame([{
    "event_id": 920000 + i,
    "ts": None if R.randint(0, 4) == 0 else
        pd.Timestamp(1704067200 + R.randint(0, 5000000), unit="s"),
    "user_id": R.randint(1, 40),
    "event_type": None if R.randint(0, 6) == 0 else
        R.choice(["view", "click", "purchase", "error"]),
    "value": fuzz_value(), "props": fuzz_props(),
} for i in range(600)])
emb = pd.DataFrame([{
    "vec_id": 930000 + i, "embedding": fuzz_vec(),
    "label": None if R.randint(0, 6) == 0 else R.randint(0, 9),
} for i in range(200)])
cust = pd.DataFrame([{
    "c_custkey": 940000 + i,
    "c_name": None if R.randint(0, 5) == 0 else f"Customer#fuzz{i}",
    "c_nationkey": R.choice([R.randint(0, 24), 99, -1]),
    "c_acctbal": fuzz_value(),
    "c_mktsegment": None if R.randint(0, 5) == 0 else
        R.choice(["BUILDING", "AUTOMOBILE", "MACHINERY"]),
} for i in range(150)])
orders = pd.DataFrame([{
    "o_orderkey": 950000 + i,
    "o_custkey": R.choice([940000 + R.randint(0, 149), None,
                           77777777, R.randint(1, 150)]),
    "o_orderstatus": R.choice(["O", "F", "P", None, "X"]),
    "o_totalprice": fuzz_value(),
    "o_orderdate": None if R.randint(0, 5) == 0 else
        pd.Timestamp(820454400 + R.randint(0, 100000000), unit="s"),
    "o_orderpriority": R.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", None]),
} for i in range(300)])
line = pd.DataFrame([{
    "l_orderkey": R.choice([950000 + R.randint(0, 299), 99999999,
                            R.randint(1, 1500)]),
    "l_partkey": R.randint(1, 200), "l_suppkey": R.randint(1, 10),
    "l_linenumber": R.randint(1, 4),
    "l_quantity": fuzz_value(), "l_extendedprice": fuzz_value(),
    "l_discount": R.choice([0.05, 0.0, 1.5, -0.2, None]),
    "l_tax": R.choice([0.02, 0.0, None]),
    "l_returnflag": R.choice(["N", "R", "A", None]),
    "l_linestatus": R.choice(["O", "F", None]),
    "l_shipdate": None if R.randint(0, 5) == 0 else
        pd.Timestamp(820454400 + R.randint(0, 100000000), unit="s"),
} for i in range(600)])

for tbl, df in [("documents", docs), ("events", events),
                ("embeddings", emb), ("customer", cust),
                ("orders", orders), ("lineitem", line)]:
    con.register("fuzz_rows", df)
    # TRY_CAST key columns back to BIGINT: pandas None-promotion
    # makes them float64, and a cross-typed correlation key silently
    # EMPTIES Spark's decorrelated LATERAL (ROBUSTNESS.md seam)
    cast = {"events": "SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props FROM fuzz_rows",
            "embeddings": "SELECT vec_id, embedding::FLOAT[] AS embedding, TRY_CAST(label AS BIGINT) AS label FROM fuzz_rows",
            "orders": "SELECT o_orderkey, TRY_CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, o_totalprice, o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority FROM fuzz_rows",
            "lineitem": "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate::TIMESTAMP AS l_shipdate FROM fuzz_rows",
            }.get(tbl, "SELECT * FROM fuzz_rows")
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SRC}/{tbl}.parquet')
      UNION ALL BY NAME {cast}
    ) TO '{d}/{tbl}.parquet' (FORMAT PARQUET)""")
    con.unregister("fuzz_rows")

# ---- combined tier: every dirty table at once ------------------------
# Catches cross-tier interactions the per-tier sweeps can't see (e.g.
# a dirty doc joined against a dirty event in the xmodal queries).
d = os.path.join(DST, "all")
os.makedirs(d, exist_ok=True)
for t in ALL:
    src_tier = {"events": "events", "embeddings": "embeddings",
                "customer": "star", "orders": "star", "lineitem": "star",
                "documents": "docs"}.get(t)
    frm = os.path.join(DST, src_tier, f"{t}.parquet") if src_tier \
        else os.path.join(SRC, f"{t}.parquet")
    shutil.copy(frm, os.path.join(d, f"{t}.parquet"))

for tier in ["events", "embeddings", "star", "docs", "all", "fuzz"]:
    n = {}
    for t in ALL:
        p = os.path.join(DST, tier, f"{t}.parquet")
        n[t] = con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
    print(tier, {k: v for k, v in n.items() if v})
