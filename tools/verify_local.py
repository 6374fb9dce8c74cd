#!/usr/bin/env python3
"""Local differential check (builder tooling only, mirrors the driver's
t2 gate): run graft.Verify via sbt, then compare each result parquet
against its DuckDB oracle.

Usage: python3 tools/verify_local.py [sfDir] [--skip-run]
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
OUT = "/tmp/graft_verify"
# sbt runs in the checkout that holds this script, so a copy verifies itself
REPO = Path(__file__).resolve().parents[1]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ONLY = next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--only=")), None)

if "--skip-run" not in sys.argv:
    # wipe stale outputs: a query that THROWS leaves its previous run's
    # parquet in place, which would silently compare-pass
    import shutil
    shutil.rmtree(OUT, ignore_errors=True)
    only_arg = f" {ONLY}" if ONLY else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{only_arg}'],
        cwd=REPO, capture_output=True, text=True, timeout=1800)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line: print(line)

con = duckdb.connect()
for t in TABLES:
    p = f"{SF}/{t}.parquet"
    if Path(p).exists():
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)

fails = []

# Tolerance-headroom audit (the r9 deletion_vector_read lesson): the compare
# grid is round-to-4dp, but cross-engine double summation-order error grows
# ~N*eps*|V| — at |V|~1e8+ it reaches 1e-3..1e-4 and the hash becomes a coin
# flip per run. Flag any float output column with FRACTIONAL values within
# 10x of that edge; such queries must aggregate exact integers (cents / ppm)
# instead. Integer-valued float columns are exempt below 2^53/10: a sum of
# integer-valued doubles is EXACT in every order while all partials stay
# < 2^53, so there is no order sensitivity to flake on.
EDGE = 1e8
# Exempt columns PROVEN deterministic by construction: the aggregate runs on
# exact integers (cents / scaled ints / decimal moments) and the float is
# produced by ONE final long->double conversion + IEEE division (+ round),
# which is correctly rounded and engine-identical — no summation-order
# freedom exists. Every entry must cite that construction at its def site.
# The invariant is ENFORCED in Scala by DeterministicMoneySpec, which walks
# each allowlisted query's analyzed plan and fails on any Sum over a
# fractional column, and cross-checks this list's names against its own.
DETERMINISTIC_OK = {
    "q1_sales_per_month": {"total_sales"},      # sum(cents)::long / 100.0
    "q4_sales_by_nation": {"total_sales"},      # sum(cents)::long / 100.0
    "tpch_pricing_summary": {"sum_base_price", "sum_disc_price", "sum_charge"},
    "tpch_small_quantity": {"avg_yearly"},      # sum(cents)::long / 700.0
    "mom_growth_movers": {"mom_ppm"},           # (Δcents)/cents * 1e6, one div
    "ols_trend": {"intercept_cents", "slope_cents_per_month"},  # decimal moments, one div
}
def headroom_audit(name: str, got: pd.DataFrame):
    for c in got.columns:
        if c in DETERMINISTIC_OK.get(name, ()):
            continue
        if got[c].dtype.kind == "f":
            v = got[c].dropna()
            if v.empty: continue
            m = v.abs().max()
            fractional = bool((v != v.round()).any())
            if fractional and m >= EDGE / 10:
                fails.append((name,
                    f"fractional float column '{c}' max |v|={m:.4g} is within "
                    f"10x of the {EDGE:.0g} summation-order tolerance edge — "
                    f"aggregate exact integers (cents/ppm) on both sides"))
            elif not fractional and m >= 2**53 / 10:
                fails.append((name,
                    f"integer-valued float column '{c}' max |v|={m:.4g} nears "
                    f"2^53 where doubles stop being exact — use BIGINT"))

result_dirs = sorted(p.name for p in Path(OUT).iterdir() if p.is_dir())
for name in result_dirs:
    files = list(Path(f"{OUT}/{name}").glob("*.parquet"))
    if not files:
        fails.append((name, "no spark output")); continue
    got = pd.read_parquet(f"{OUT}/{name}")
    headroom_audit(name, got)
    if name not in oracle:
        print(f"  ~ {name}: rows-only ({len(got)} rows)")
        if len(got) == 0: fails.append((name, "0 rows"))
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle error: {e}")); continue
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        fails.append((name, f"cols: spark={list(g.columns)} oracle={list(e.columns)}")); continue
    if len(g) != len(e):
        fails.append((name, f"rows: spark={len(g)} oracle={len(e)}")); continue
    gs = g.astype(str); es = e.astype(str)
    if not gs.equals(es):
        diff = (gs != es).any(axis=1)
        i = diff.idxmax()
        fails.append((name, f"value diff at row {i}:\n  spark:  {g.iloc[i].to_dict()}\n  oracle: {e.iloc[i].to_dict()}"))
        continue
    # dtype drift report (non-fatal for the hash but worth knowing)
    dt = [(c, str(got[c].dtype), str(exp[c].dtype)) for c in g.columns
          if str(g[c].dtype) != str(e[c].dtype)]
    note = f"  [dtype drift: {dt}]" if dt else ""
    print(f"  ✓ {name}: {len(g)} rows match{note}")

declared = set(json.loads(Path(f"{OUT}/queries.json").read_text())) if Path(f"{OUT}/queries.json").exists() else set(oracle)
missing = declared - set(result_dirs)
for m in missing:
    kind = "oracle" if m in oracle else "rows-only"
    fails.append((m, f"{kind} query declared but no spark output (threw?)"))

if fails:
    print(f"\nFAILED ({len(fails)}):")
    for n, msg in fails: print(f"  ✗ {n}: {msg}")
    sys.exit(1)
print(f"\nALL PASS ({len(result_dirs)} queries)")
