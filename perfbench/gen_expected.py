#!/usr/bin/env python3
"""Regenerates `perfbench/expected.json`: for every timed query of every
workload (`harness.WORKLOADS`), the row count and digest the library
produces over `perfbench/data`.

    python3 perfbench/gen_expected.py [WORKLOAD ...]

Each workload runs in two fresh JVMs (seeds 1 and 2), two passes each in
different orders. A row count or digest is stored only when all four
observations agree; a query whose results vary keeps `null` there and is
then checked for what is stable. The first JVM also writes each result
as parquet, which is compared with DuckDB running the query's
`SparkEntry.oracleSql` over the same tables, normalized as
`tools/verify_local.py` does (columns sorted, floats rounded to 4 places,
values compared as strings) but as a multiset of rows. A disagreement is
stored as `"oracle": "mismatch: ..."`, which fails the query in every run.
"""
import fcntl
import json
import shutil
import sys
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    s = df.astype(str)
    return s.sort_values(list(s.columns)).reset_index(drop=True) if len(s.columns) else s


def oracle_check(con, sql, dump: Path) -> str:
    if not dump.is_dir():
        return "mismatch: no result written"
    got = pd.read_parquet(dump)
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001 - reported, not raised
        return f"mismatch: oracle error {e}"
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        return f"mismatch: columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"mismatch: rows {len(g)} vs {len(e)}"
    if not g.equals(e):
        i = (g != e).any(axis=1).idxmax()
        return f"mismatch: row {i}: {g.iloc[i].to_dict()} vs {e.iloc[i].to_dict()}"
    return "match"


def observe(cp, workload, names, seed, dump):
    run_dir = run.RUNS / f"expect-{workload}-{seed}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cfg = dict(harness.WORKLOADS[workload], appends=0)
    try:
        plan, _ = run.prepare(workload, seed, names, 0, 0, run_dir, cfg)
        plan.update(min_steady_passes=1, steady_orders=plan["steady_orders"][:1])
        if dump:
            plan["dump_dir"] = str(dump)
        rc, rec = run.run_jvm(cp, plan, run_dir, run.OUT / f"expect-{workload}-{seed}.log")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or "fatal" in rec:
        sys.exit(f"{workload} seed {seed}: JVM exited with {rc}: {rec.get('fatal')}")
    obs = {}
    for p in [rec["cold"]] + rec["steady"]:
        for q in p["queries"]:
            obs.setdefault(q["name"], []).append(q)
    return obs


def main():
    cp = build.build()
    run.OUT.mkdir(exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{run.DATA / t}.parquet'")
    for workload in sys.argv[1:] or sorted(harness.WORKLOADS):
        names = harness.WORKLOADS[workload]["queries"]
        dump = run.OUT / f"expect-{workload}-dump"
        shutil.rmtree(dump, ignore_errors=True)
        obs = {n: [] for n in names}
        for seed in (1, 2):
            for n, qs in observe(cp, workload, names, seed, dump if seed == 1 else None).items():
                obs[n] += qs
        oracle = json.loads((dump / "oracle_sql.json").read_text())
        out = {}
        for n in names:
            qs = obs[n]
            errors = [q["error"] for q in qs if "error" in q]
            rows = {q.get("rows") for q in qs}
            digests = {q.get("digest") for q in qs}
            e = {"rows": rows.pop() if len(rows) == 1 and not errors else None,
                 "digest": digests.pop() if len(digests) == 1 and not errors else None}
            if errors:
                e["error"] = errors[0]
            if n in oracle and not errors:
                e["oracle"] = oracle_check(con, oracle[n], dump / n)
            out[n] = e
            print(f"{workload} {n}: {e}", file=sys.stderr)
        shutil.rmtree(dump, ignore_errors=True)
        with open(run.OUT / "expected.lock", "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            expected = json.loads(run.EXPECTED.read_text()) if run.EXPECTED.is_file() else {}
            expected[workload] = out
            run.EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
