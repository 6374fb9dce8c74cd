#!/usr/bin/env python3
"""Lakehouse benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the benchmark's JVM runner if needed
(`perfbench/build.py`), then runs one workload in one JVM at
local[<cpus>] over the tables in `perfbench/data`:

  set-up     session start, then the stored tables the workload reads
             built into an empty store;
  commit     seeded appends through `AtomicTable.appendIdempotent`, with
             latest and time-travel reads at fixed points;
  cold pass  every timed query once, right after `SessionCaches.clear`;
  steady     passes in seeded orders until S seconds have gone by, and at
             least `min_steady_passes` of them.

Each query is timed from the call of its function until its last row has
reached the benchmark's digest sink, and its row count and digest are
compared with `perfbench/expected.json`. Every input and store of a run
lives in a fresh directory under `.bench_runs/` that is deleted at exit;
the library's fixed `/tmp` staging paths are keyed by that directory's
data path, and the JVM runner deletes them as it exits, also when it is
terminated.

Stdout carries `name value unit` lines and, last, one JSON object with
`correct`, `attempted`, `failed` and the metrics: the end-to-end ones
with `--trace 0`, the per-layer ones with `--trace 1`. The full record
(per-query map, seed, data dir, cpus, JVM, every spark.* conf) goes to
`.bench_out/<workload>-seed<N>-trace<T>.json`; a traced run also writes
its spans (`.spans.jsonl`) and per-kind self times (`.layers.json`) and
prints its overhead against the untraced record of the same seed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import harness  # noqa: E402

ROOT = HERE.parent
DATA = HERE / "data"
EXPECTED = HERE / "expected.json"
OUT = ROOT / ".bench_out"
RUNS = ROOT / ".bench_runs"
JVM_TIMEOUT_S = 160
STOP_GRACE_S = 10

# The module openings Spark needs on JDK 17 outside spark-submit (as in build.sbt).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

SPEC = ROOT / "BENCHMARK.json"


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def stop(p):
    """Terminates the JVM, which lets its shutdown hooks remove what it
    staged outside the run directory, and kills it if it does not exit."""
    p.terminate()
    try:
        p.wait(timeout=STOP_GRACE_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()


def run_jvm(cp, plan, run_dir, log, timeout=JVM_TIMEOUT_S):
    """Runs the JVM runner on `plan`; returns (exit code, raw record)."""
    plan_file, record_file = run_dir / "plan.json", run_dir / "record.json"
    plan_file.write_text(json.dumps(plan))
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dderby.system.home={run_dir}"]
           + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Runner", str(plan_file), str(record_file)])
    # the JVM's output goes to the run's log file once it has exited
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    try:
        out, _ = p.communicate(timeout=timeout)
        rc = p.returncode
    except subprocess.TimeoutExpired:
        stop(p)
        out, _ = p.communicate()
        rc = -9
    except BaseException:
        stop(p)
        raise
    Path(log).write_bytes(out)
    rec = json.loads(record_file.read_text()) if record_file.is_file() else {}
    return rc, rec


def prepare(workload, seed, names, seconds, trace, run_dir, cfg):
    """Writes the seeded inputs under `run_dir`; returns (plan, batches)."""
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "batches").mkdir()
    batches = harness.commit_batches(workload, seed, cfg["appends"])
    specs = []
    for i, b in enumerate(batches):
        f = run_dir / "batches" / f"{i}.tsv"
        f.write_text("".join(line + "\n" for line in b["lines"]))
        specs.append({"file": str(f), "txn": b["txn"]})
    plan = {
        "workload": workload, "seed": seed, "run_dir": str(run_dir), "data_dir": str(DATA),
        "trace": bool(trace), "seconds": seconds,
        "min_steady_passes": cfg["min_steady_passes"],
        "cold_order": harness.permutation(names, seed, "cold"),
        "steady_orders": harness.pass_orders(names, seed, 200),
        "commit": {"batches": specs, "read_every": cfg["read_every"], "keep": cfg["keep"]},
    }
    return plan, batches


def evaluate(rec, batches, expected):
    """(attempted, failure messages) over every timed query and commit op."""
    attempted, fails = 0, []
    for p in [rec["cold"]] + rec["steady"]:
        for q in p["queries"]:
            attempted += 1
            msg = harness.check_query(q, expected.get(q["name"]))
            if msg:
                fails.append(f"{p['label']} {q['name']}: {msg}")
    commit = rec["commit"]
    attempted += len(commit["appends"]) + len(commit["reads"])
    fails += harness.check_commits(commit, batches)
    return attempted, fails


def fmt(v):
    return repr(float(v)) if isinstance(v, float) else str(v)


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(harness.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cfg = harness.WORKLOADS[args.workload]
    if not DATA.is_dir() or not EXPECTED.is_file() or not SPEC.is_file():
        fail("benchmark data, expected.json or BENCHMARK.json missing", 2)
    spec = json.loads(SPEC.read_text())
    end_to_end = [m["name"] for m in spec["end_to_end"]]
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)
    expected = json.loads(EXPECTED.read_text())[args.workload]

    OUT.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = RUNS / f"{stem}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        plan, batches = prepare(args.workload, args.seed, cfg["queries"], args.seconds,
                                args.trace, run_dir, cfg)
        # write back what earlier work left dirty, so it does not land inside this run
        os.sync()
        rc, rec = run_jvm(cp, plan, run_dir, OUT / f"{stem}.log")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        os.sync()
    if rc != 0 or "fatal" in rec:
        fail(f"JVM exited with {rc}: {rec.get('fatal', 'see ' + str(OUT / (stem + '.log')))}")

    attempted, fails = evaluate(rec, batches, expected)
    e2e, notes = harness.end_to_end(rec, batches)
    missing = [k for k in end_to_end if e2e[k][0] is None]
    if missing:
        fail(f"metrics not computable: {missing}")
    frac = harness.failed_frac(attempted, len(fails))
    full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "data_dir": str(DATA),
            "cpus": rec["cores"], "jvm": rec["jvm"], "spark_version": rec["spark_version"],
            "spark_conf": rec["conf"], "attempted": attempted, "failures": fails,
            "failed_frac": frac, "end_to_end": {k: v[0] for k, v in e2e.items()},
            "notes": notes, "session_s": rec["session_s"], "setup": rec["setup"],
            "commit": rec["commit"], "cold": rec["cold"], "steady": rec["steady"],
            "cached_bytes": rec["cached_bytes"], "silver": rec["silver"]}
    lines = [f"{k} {fmt(e2e[k][0])} {e2e[k][1]}" + (f" ({notes[k]})" if k in notes else "")
             for k in e2e]
    verdict = f"failed_frac {fmt(frac)} ratio ({len(fails)} of {attempted})"
    if args.trace:
        layer = harness.per_layer(rec, batches)
        full["per_layer"] = {k: v[0] for k, v in layer.items()}
        with open(OUT / f"{stem}.spans.jsonl", "w") as f:
            for s in rec["spans"]:
                f.write(json.dumps(dict(s, run_id=rec["run_id"])) + "\n")
        (OUT / f"{stem}.layers.json").write_text(json.dumps(
            {"run_id": rec["run_id"], "self_ms": harness.self_times(rec["spans"]),
             "per_layer": full["per_layer"], "windows": rec["windows"]}, indent=1))
        lines = [f"{k} {fmt(v)} {u}" for k, (v, u) in layer.items()]
        lines += [f"traced.{k} {fmt(e2e[k][0])} {e2e[k][1]}" for k in end_to_end]
        base = OUT / f"{args.workload}-seed{args.seed}-trace0.json"
        if base.is_file():
            untraced = json.loads(base.read_text())["end_to_end"]
            for k in ("cold_pass_s", "warm_pass_s", "query_p50_s"):
                lines.append(f"tracing_overhead.{k} {fmt(e2e[k][0] / untraced[k] - 1)} ratio")
        else:
            lines.append(f"tracing_overhead unknown (no untraced record for seed {args.seed})")
        # six significant digits keep the line short enough for a tail capture
        metrics = {m["name"]: {"value": float(f"{layer[m['name']][0]:.6g}"),
                               "unit": layer[m["name"]][1]} for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in end_to_end}
    (OUT / f"{stem}.json").write_text(json.dumps(full, indent=1))
    for f in fails[:20]:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    for line in lines + [verdict]:
        print(line)
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": len(fails),
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
