#!/usr/bin/env python3
"""Cross-engine boundary fuzz for the quantized-log privacy kernel.

The entropy l-diversity audit (Privacy.entropyLDiversityAudit) and its
DuckDB oracle both fold per-term BIGINTs of the form

    q(nc, ncv) = floor(1e6 * ln(nc / ncv))

The only seam with no exactness guarantee (ADVICE r13): JVM Math.log
(Spark codegen) vs libm ln (DuckDB) can differ by an ulp, and where
1e6*ln(r) lands close enough to an integer the floor flips between
engines. This harness measures that risk instead of guessing:

  1. generates an exhaustive small grid (nc <= EXH, all ncv <= nc)
     plus SEEDED random large pairs (nc up to 1e12) — class sizes far
     beyond anything a 100 TB corpus produces per QI class;
  2. computes q in DuckDB (the oracle path), in Spark expressions via
     graft.tools.LogBoundaryFuzz (the engine path, codegen'd), and a
     40-digit Decimal.ln ground truth (the true value; by Lindemann
     ln of a rational != 1 is irrational, so the true 1e6*ln(r) is
     NEVER an integer and the true floor is well-defined);
  3. reports per-engine-vs-truth and cross-engine flips, and the
     minimum observed distance of the true value from an integer
     (the margin an ulp would have to cross).

Also cross-checks the threshold constant floor(1e6*ln(l)) for
l in [2, 1024] across all three computations (the Scala driver
constant is printed by LogBoundaryFuzz as THRESH lines).

Usage: python3 tools/log_boundary_fuzz.py [EXH=1500] [NRAND=1000000]
Exit 0 iff zero cross-engine flips and zero engine-vs-truth flips.
"""
import duckdb, os, subprocess, sys
from decimal import Decimal, getcontext

EXH = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
NRAND = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
TMP = "/tmp/graft_logfuzz"
os.makedirs(TMP, exist_ok=True)
pairs_pq = f"{TMP}/pairs.parquet"
spark_pq = f"{TMP}/spark_out"

con = duckdb.connect()
# Exhaustive small grid + seeded congruential large pairs (no random():
# reproducible). nc in [2, 1e12], ncv in [1, nc-1]; ncv == nc (q = 0
# exactly) excluded from the random tier, kept in the exhaustive one.
con.execute(f"""
  COPY (
    WITH small AS (
      SELECT nc.g AS nc, ncv.g AS ncv
      FROM range(1, {EXH + 1}) nc(g), range(1, {EXH + 1}) ncv(g)
      WHERE ncv.g <= nc.g
    ), rnd AS (
      SELECT 2 + (hash(i * 2654435761 + 1) % 999999999999)::BIGINT AS nc0,
             hash(i * 40503 + 7) AS h2
      FROM range({NRAND}) t(i)
    ), big AS (
      SELECT nc0 AS nc, 1 + (h2 % (nc0 - 1))::BIGINT AS ncv FROM rnd
    )
    SELECT nc, ncv FROM small UNION ALL SELECT nc, ncv FROM big
  ) TO '{pairs_pq}' (FORMAT PARQUET)
""")
n_pairs = con.execute(f"SELECT count(*) FROM '{pairs_pq}'").fetchone()[0]
print(f"[fuzz] {n_pairs} pairs (exhaustive nc<={EXH} + {NRAND} random)")

# Engine path: Spark expression kernel, codegen'd.
env = dict(os.environ)
r = subprocess.run(
    ["sbt", "-batch",
     f'Test/runMain graft.tools.LogBoundaryFuzz {pairs_pq} {spark_pq}'],
    cwd="/root/repo", env=env, capture_output=True, text=True)
if r.returncode != 0:
    print(r.stdout[-3000:], r.stderr[-3000:])
    sys.exit(2)
thresh_scala = {}
for line in r.stdout.splitlines():
    if line.startswith("THRESH,"):
        _, l, v = line.split(",")
        thresh_scala[int(l)] = int(v)
assert len(thresh_scala) == 1023, f"expected 1023 THRESH lines, got {len(thresh_scala)}"

# Oracle path + truth, joined against the Spark output.
getcontext().prec = 40
# q_duck mirrors the audit twin's guarded kernel verbatim: floor with
# the round-15 snap-to-integer band (|y - round(y)| <= 1e-7 -> round).
rows = con.execute(f"""
  SELECT nc, ncv, q_spark,
         CASE WHEN abs(y - round(y, 0)) <= 1e-7
              THEN CAST(round(y, 0) AS BIGINT)
              ELSE CAST(floor(y) AS BIGINT) END AS q_duck
  FROM (
    SELECT s.nc, s.ncv, s.q_spark,
           1000000.0 * ln(s.nc::DOUBLE / s.ncv) AS y
    FROM '{spark_pq}/*.parquet' s
  )
""").fetchall()
assert len(rows) == n_pairs, f"row loss: {len(rows)} vs {n_pairs}"

M = Decimal(1_000_000)
flips_cross, flips_spark, flips_duck = [], [], []
min_margin = Decimal(1)
min_margin_at = None
BAND = Decimal("1e-7")
for nc, ncv, qs, qd in rows:
    t = M * (Decimal(nc).ln() - Decimal(ncv).ln())
    qt = int(t)  # floor for t >= 0 (nc >= ncv always here)
    frac = t - qt
    # guarded truth: inside the snap band the intended value is the
    # integer itself (no pair in this corpus activates it — minimum
    # observed margin 2.3e-7 — but the reference semantic is guarded)
    if nc != ncv and min(frac, 1 - frac) <= BAND:
        qt = qt + 1 if frac > Decimal("0.5") else qt
    margin = min(frac, 1 - frac) if nc != ncv else Decimal(1)
    if nc != ncv and margin < min_margin:
        min_margin, min_margin_at = margin, (nc, ncv)
    if qs != qd:
        flips_cross.append((nc, ncv, qs, qd, qt))
    if qs != qt:
        flips_spark.append((nc, ncv, qs, qt))
    if qd != qt:
        flips_duck.append((nc, ncv, qd, qt))

# Threshold constant: three-way check over l in [2, 1024].
thr_bad = []
for l in range(2, 1025):
    td = con.execute(
        f"SELECT CAST(floor(1000000.0 * ln({l})) AS BIGINT)").fetchone()[0]
    tt = int(M * Decimal(l).ln())
    ts = thresh_scala[l]
    if not (ts == td == tt):
        thr_bad.append((l, ts, td, tt))

print(f"[fuzz] cross-engine flips: {len(flips_cross)}")
print(f"[fuzz] spark-vs-truth flips: {len(flips_spark)}")
print(f"[fuzz] duck-vs-truth flips: {len(flips_duck)}")
print(f"[fuzz] threshold mismatches (l in [2,1024]): {len(thr_bad)}")
print(f"[fuzz] min distance of true 1e6*ln(nc/ncv) from an integer: "
      f"{min_margin:.3E} at (nc,ncv)={min_margin_at}")
for tag, lst in (("CROSS", flips_cross), ("SPARK", flips_spark),
                 ("DUCK", flips_duck), ("THRESH", thr_bad)):
    for row in lst[:10]:
        print(f"[fuzz] {tag} {row}")
ok = not flips_cross and not flips_spark and not flips_duck and not thr_bad
print(f"[fuzz] verdict: {'CLEAN' if ok else 'FLIPS FOUND'}")
sys.exit(0 if ok else 1)
