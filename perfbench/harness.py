"""Pure parts of the benchmark: workload definitions, seeded inputs, the
metric rules and the correctness checks. `run.py` drives the JVM with
them; `tests/test_harness.py` checks them."""
import math
import random
import statistics
from fractions import Fraction
from datetime import date, timedelta

# Each workload times a sample of its modules' declared queries, because a
# pass over a whole module list (73 and 67 queries, 23-28 s steady here)
# does not fit the run budget. The sample is stratified by measured
# latency: the module list's queries, ranked by steady latency, are cut
# into equal strata and one query is taken from each, spreading the picks
# over the modules. A pass has an odd number of queries, nine, so that the
# median of the pooled samples falls inside one query's samples and not in
# the gap between two: star_analytics has nine strata, corpus_curation
# eight plus stream_corpus_filter, which times micro-batches.
# perfbench/SAMPLE.md has the measured lists, the strata and the layer
# split of sample and list.
WORKLOADS = {
    "star_analytics": {
        "queries": [
            "assoc_rules", "range_join_sessions",            # strata 1-2
            "tpch_pricing_summary", "q4_sales_by_nation",    # 3-4
            "rollup_sales", "embedding_centroids",           # 5-6
            "join_anti", "filter_predicates",                # 7-8
            "paginated_topk",                                # 9
        ],
        # passes still speed up over the first few (JIT); five of them give
        # a fixed 45 samples, enough for a p75 with ten beyond it
        "appends": 44, "read_every": 4, "keep": 5, "min_steady_passes": 5,
    },
    "corpus_curation": {
        "queries": [
            "text_repetition", "ann_topk_ivfpq",             # strata 1-2
            "span_prune_firstwins", "text_fingerprint",      # 3-4
            "dedup_minhash_lsh", "proximity_search",         # 5-6
            "bpe_train", "sparse_retrieval",                 # 7-8
            "stream_corpus_filter",
        ],
        # three passes, so that a pass of six or seven seconds does not
        # leave the sample count to timing
        "appends": 44, "read_every": 4, "keep": 5, "min_steady_passes": 3,
    },
}

# Percentiles considered for a tail; the highest one with at least
# TAIL_BEYOND samples above it is reported.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Linear-interpolated percentile of `xs` (p in 0..100)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """(percentile, value, n) for the highest ladder percentile with at
    least TAIL_BEYOND samples beyond it, or None when no percentile has."""
    n = len(xs)
    ok = [p for p in LADDER if n * (100 - Fraction(str(p))) / 100 >= TAIL_BEYOND]
    if not ok:
        return None
    p = max(ok)
    return p, percentile(xs, p), n


def failed_frac(attempted, failed):
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return failed / attempted


def permutation(names, seed, salt):
    """The names in an order fixed by (seed, salt)."""
    out = sorted(names)
    random.Random(f"{seed}:{salt}").shuffle(out)
    return out


def pass_orders(names, seed, count):
    return [permutation(names, seed, f"pass{i}") for i in range(count)]


# ---- commit-loop inputs

_WORDS = ("lake house table commit version snapshot query plan stage task shuffle "
          "spark parquet column row batch stream window join merge delete update "
          "schema index token corpus document dedup filter quality sample").split()


def _sales_row(r, key):
    ship = date(1992, 1, 1) + timedelta(days=r.randrange(2500))
    return [str(key), str(r.randrange(1, 2001)), str(r.randrange(1, 101)),
            f"{r.randrange(1, 51)}.0", f"{r.uniform(900, 100000):.2f}",
            f"{r.randrange(0, 11) / 100:.2f}", ship.isoformat()]


def _doc_row(r, key):
    text = " ".join(r.choice(_WORDS) for _ in range(r.randrange(20, 80)))
    return [str(key), r.choice(("web", "books", "code", "wiki")), text]


_ROWS = {"star_analytics": _sales_row, "corpus_curation": _doc_row}


BATCH_ROWS = 200


def commit_batches(workload, seed, count):
    """Seeded append batches: a list of dicts with the txn version, whether
    the append replays an already committed txn (and must be skipped), and
    the batch as tab-separated lines. Every tenth append is a replay, at
    seeded positions, so the number of commits is fixed."""
    r = random.Random(f"{seed}:commits")
    make = _ROWS[workload]
    replays = set(r.sample(range(1, count), count // 10)) if count > 1 else set()
    batches, committed, key = [], 0, 1
    for i in range(count):
        if i in replays:
            batches.append({"txn": r.randrange(1, committed + 1), "replay": True, "lines": []})
            continue
        committed += 1
        lines = []
        for _ in range(BATCH_ROWS):
            lines.append("\t".join(make(r, key)))
            key += 1
        batches.append({"txn": committed, "replay": False, "lines": lines})
    return batches


def batch_bytes(b):
    return sum(len(line.encode()) + 1 for line in b["lines"])


def rows_after(batches):
    """Cumulative committed rows after each append (index i = i+1 appends),
    and by committed version number."""
    after, by_version, total = [], {0: 0}, 0
    for b in batches:
        if not b["replay"]:
            total += len(b["lines"])
            by_version[b["txn"]] = total
        after.append(total)
    return after, by_version


# ---- checks and metrics

def check_query(sample, expected):
    """None when the sample matches the stored expectation, else why not."""
    if "error" in sample:
        return sample["error"]
    if expected is None:
        return "no stored expectation"
    if expected.get("oracle", "").startswith("mismatch"):
        return f"stored result disagrees with the DuckDB oracle ({expected['oracle']})"
    if expected.get("rows") is not None and sample["rows"] != expected["rows"]:
        return f"rows {sample['rows']} != expected {expected['rows']}"
    if expected.get("digest") is not None and sample["digest"] != expected["digest"]:
        return f"digest {sample['digest']} != expected {expected['digest']}"
    return None


def check_commits(commit, batches):
    """Failure messages of the commit loop against its seeded inputs."""
    after, by_version = rows_after(batches)
    fails = []
    for a, b in zip(commit["appends"], batches):
        if "error" in a:
            fails.append(f"append txn {a['txn']}: {a['error']}")
        elif a["committed"] == b["replay"]:
            fails.append(f"append txn {a['txn']}: committed={a['committed']} for replay={b['replay']}")
    for rd in commit["reads"]:
        if "error" in rd:
            fails.append(f"read after {rd['after']}: {rd['error']}")
            continue
        bad = []
        if rd["rows"] != after[rd["after"] - 1]:
            bad.append(f"{rd['rows']} rows, expected {after[rd['after'] - 1]}")
        v = int(rd["oldest"].lstrip("_v")) if "oldest" in rd else None
        if v is not None and rd["oldest_rows"] != by_version.get(v):
            bad.append(f"time travel to {rd['oldest']}: {rd['oldest_rows']} rows, "
                       f"expected {by_version.get(v)}")
        if bad:
            fails.append(f"read after {rd['after']}: " + "; ".join(bad))
    return fails


def query_seconds(q):
    return q["construct_s"] + q["execute_s"]


def per_query_medians(passes):
    """Each query's median latency over the given passes (failed runs left out)."""
    by = {}
    for p in passes:
        for q in p["queries"]:
            if "error" not in q:
                by.setdefault(q["name"], []).append(query_seconds(q))
    return {k: median(v) for k, v in by.items()}


def end_to_end(rec, batches):
    """The end-to-end metrics of one untraced run: name -> (value, unit),
    plus notes printed beside some of them.

    query_p50_s is the median of every steady-pass query sample. A run has
    too few samples for a percentile with ten beyond it on every workload
    (that needs 20 for p50 and 40 for p75), so query_tail_s is the slowest
    query's median over the steady passes; the percentile rule over the
    pooled samples is printed beside it."""
    steady = rec["steady"]
    per_query = per_query_medians(steady)
    samples = [query_seconds(q) for p in steady for q in p["queries"] if "error" not in q]
    t = tail(samples)
    slowest = max(per_query, key=per_query.get) if per_query else None
    committed = [a for a in rec["commit"]["appends"] if a.get("committed")]
    append_ms = [a["append_ms"] for a in committed]
    ct = tail(append_ms)
    reads = [r["ms"] for r in rec["commit"]["reads"] if "error" not in r]
    appended = sum(batch_bytes(b) for b in batches if not b["replay"])
    written = sum(a.get("written_bytes", 0) for a in committed)
    m = {
        "setup_s": (rec["session_s"] + rec["setup"]["total_s"], "s"),
        "cold_pass_s": (rec["cold"]["wall_s"], "s"),
        "warm_pass_s": (median([p["wall_s"] for p in steady]), "s"),
        "query_p50_s": (median(samples), "s"),
        "query_tail_s": (per_query.get(slowest), "s"),
        "commit_p50_ms": (median(append_ms), "ms"),
        "commit_tail_ms": (ct[1] if ct else None, "ms"),
        "read_latest_p50_ms": (median(reads), "ms"),
        "write_amp": (written / appended if appended else None, "ratio"),
        "cached_mb": (rec["cached_bytes"] / 2 ** 20, "MB"),
    }
    notes = {"query_p50_s": f"n={len(samples)}",
             "query_tail_s": f"slowest query {slowest}; pooled " +
                             (f"p{t[0]:g} of n={t[2]} is {t[1]:.4f} s" if t else f"n={len(samples)}"),
             "commit_tail_ms": f"p{ct[0]:g} of n={ct[2]}" if ct else "too few samples"}
    return m, notes


def self_times(spans):
    """Self time (ms) per span kind: each span's duration minus the part
    of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur = 0.0, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            if c["end"] is None:
                continue
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur and lo <= cur[1]:
                cur[1] = max(cur[1], hi)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [lo, hi]
        if cur:
            covered += cur[1] - cur[0]
        out[s["kind"]] = out.get(s["kind"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def _ancestor(by_id, s, kinds):
    while s is not None:
        if s["kind"] in kinds:
            return s
        s = by_id.get(s["parent"])
    return None


def per_layer(rec, batches):
    """The per-layer metrics of one traced run: name -> (value, unit).
    A layer the workload does not exercise reads 0."""
    mb = 2 ** 20
    steady = rec["steady"]
    windows = rec["windows"]            # cold, steady passes..., commit loop
    warm_w = windows[1:-1]

    def wmed(key):
        return median([w[key] for w in warm_w])

    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    construct_jobs = {p["label"]: 0 for p in steady}
    for s in spans:
        if s["kind"] == "job" and _ancestor(by_id, s, {"construct"}):
            ph = _ancestor(by_id, s, {"phase"})
            if ph and ph["name"] in construct_jobs:
                construct_jobs[ph["name"]] += 1
    appends = [a for a in rec["commit"]["appends"] if a.get("committed")]
    overhead = [a["append_ms"] - a["write_ms"] for a in appends]
    tenth = max(1, len(overhead) // 10)
    reads = [r for r in rec["commit"]["reads"] if "error" not in r]
    linked = sum(a["files_before"] for a in appends)
    sb = rec["stream_batches"]

    def dur(key):
        return median([b["durations"].get(key, 0) for b in sb]) if sb else 0.0

    cold, warm = rec["cold"]["wall_s"], median([p["wall_s"] for p in steady])
    m = {
        "Tables.resolve_cold_ms": (median(rec["layers"]["resolve_cold_ms"]), "ms"),
        "Tables.resolve_hit_ms": (median(rec["layers"]["resolve_hit_ms"]), "ms"),
        "Medallion.gold_build_s": (rec["layers"]["gold_build_s"], "s"),
        "Medallion.gold_read_s": (rec["layers"]["gold_read_s"], "s"),
        "SilverArtifact.build_s": (sum(s["s"] for s in rec["setup"]["steps"]
                                       if s["module"] == "SilverArtifact"), "s"),
        "SilverArtifact.builds_in_passes": (rec["silver"]["builds_in_passes"], "count"),
        "SilverArtifact.disk_mb": (rec["silver"]["disk_bytes"] / mb, "MB"),
        "SessionCaches.persisted_rdds": (rec["persisted_rdds"], "count"),
        "SessionCaches.cold_extra_s": (cold - warm, "s"),
        "construct.s": (median([sum(q["construct_s"] for q in p["queries"]) for p in steady]), "s"),
        "construct.jobs": (median(list(construct_jobs.values())), "count"),
        "catalyst.analysis_s": (median([p["analysis_s"] for p in steady]), "s"),
        "catalyst.optimization_s": (wmed("optimization_s"), "s"),
        "catalyst.planning_s": (wmed("planning_s"), "s"),
        "catalyst.plan_nodes": (wmed("plan_nodes"), "count"),
        "codegen.compile_s": (rec["cold"]["codegen_compile_s"], "s"),
        "codegen.compiles": (rec["cold"]["codegen_compiles"], "count"),
    }
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                    ("sched_delay_s", "s"), ("busy_frac", "ratio"),
                    ("single_task_stage_s", "s"), ("shuffle_write_mb", "MB"),
                    ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("input_mb", "MB"),
                    ("peak_exec_mem_mb", "MB")):
        m[f"exec.{k}"] = (wmed(k), unit)
    m.update({
        "AtomicTable.write_ms_p50": (median([a["write_ms"] for a in appends]), "ms"),
        "AtomicTable.overhead_ms_p50": (median(overhead), "ms"),
        "AtomicTable.overhead_growth": (median(overhead[-tenth:]) / median(overhead[:tenth]), "ratio"),
        "AtomicTable.files_linked": (linked, "count"),
        "AtomicTable.meta_bytes_per_commit": (median([a["meta_bytes"] for a in appends]), "bytes"),
        "AtomicTable.read_files": (reads[-1]["files"] if reads else 0, "count"),
        "stream.batches": (len(sb), "count"),
        "stream.trigger_ms": (dur("triggerExecution"), "ms"),
        "stream.add_batch_ms": (dur("addBatch"), "ms"),
        "stream.wal_commit_ms": (dur("walCommit"), "ms"),
        "stream.state_commit_ms": (median([b["state_commit_ms"] for b in sb]) if sb else 0.0, "ms"),
        "stream.state_rows": (max([b["state_rows"] for b in sb], default=0), "count"),
        "stream.state_mb": (max([b["state_bytes"] for b in sb], default=0) / mb, "MB"),
    })
    return m
