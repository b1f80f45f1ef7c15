"""Turn one run's raw record (written by ``perfbench.Main``) into the
benchmark's metrics and output checks.  Pure functions, no I/O."""

import json
import math
import os
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
DESCRIBE_ROWS = 8  # count, mean, std, min, 25%, 50%, 75%, max
# the largest share of a traced request its layer spans may leave uncovered
UNCOVERED_LIMIT = 0.05


def percentile(xs, p):
    """Linear interpolation between closest ranks of the sorted samples."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


TAIL_CANDIDATES = (99, 95, 90, 75)


def tail_percentile(n):
    """The highest of ``TAIL_CANDIDATES`` with at least 10 samples beyond it;
    the median when even the lowest has fewer."""
    for p in TAIL_CANDIDATES:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return 50


def self_times(spans):
    """Span id -> self time in ns (its duration minus its children's)."""
    own = {s["id"]: s["end_ns"] - s["start_ns"] for s in spans}
    for s in spans:
        if s["parent"] >= 0:
            own[s["parent"]] -= s["end_ns"] - s["start_ns"]
    return own


def uncovered_ns(spans):
    """Per request: (time its root span covers with no layer span, the
    root's duration), in ns."""
    own = self_times(spans)
    return {s["req"]: (own[s["id"]], s["end_ns"] - s["start_ns"])
            for s in spans if s["parent"] < 0}


def trace_problems(spans):
    """Spans that break the trace's shape: a child outside its parent,
    overlapping siblings, or a request whose layer spans leave more than
    ``UNCOVERED_LIMIT`` of its root span uncovered."""
    by_id = {s["id"]: s for s in spans}
    out = []
    children = {}
    for s in spans:
        if s["parent"] < 0:
            continue
        p = by_id[s["parent"]]
        if not p["start_ns"] <= s["start_ns"] <= s["end_ns"] <= p["end_ns"]:
            out.append(f"{s['req']}: span {s['name']} lies outside its parent {p['name']}")
        children.setdefault(p["id"], []).append(s)
    for kids in children.values():
        kids.sort(key=lambda k: k["start_ns"])
        for a, b in zip(kids, kids[1:]):
            if b["start_ns"] < a["end_ns"]:
                out.append(f"{a['req']}: spans {a['name']} and {b['name']} overlap")
    for req, (gap, total) in uncovered_ns(spans).items():
        if gap > UNCOVERED_LIMIT * total:
            out.append(f"{req}: layer spans leave {gap / total:.1%} of the request uncovered")
    return out


# ---- output checks -----------------------------------------------------------

def check_query_suite(ops, expected):
    """Failures of the per-query row count and fingerprint checks."""
    fails = []
    for op in ops:
        q = op["req"]
        if "error" in op:
            fails.append(f"{q}: {op['error']}")
            continue
        exp = expected.get(q)
        if exp is None:
            fails.append(f"{q}: no recorded result")
        elif op["rows"] != exp["rows"]:
            fails.append(f"{q}: {op['rows']} rows, recorded {exp['rows']}")
        elif exp["stable"] and op["fp"] != exp["fp"]:
            fails.append(f"{q}: fingerprint {op['fp']}, recorded {exp['fp']}")
    return fails


def check_dashboard(ops, plan, tag):
    """Failures of the click checks: hit/miss, rows, quality score,
    describe shape and nearby count must equal what the generator emitted,
    and a hit must return the rows of the miss that stored it."""
    fails = []
    expected = plan["clicks"]
    if len(ops) != len(expected):
        return [f"{tag}: {len(ops)} clicks recorded, {len(expected)} planned"]
    stored = {}
    for i, (op, c) in enumerate(zip(ops, expected)):
        name = f"{tag} c{i}"
        if "error" in op:
            fails.append(f"{name}: {op['error']}")
            continue
        pt = plan["points"][c["point"]]
        got = (op["hit"], op["rows"], op["score"], op["describe_rows"], op["nearby"])
        want = (c["hit"], pt["rows"], pt["score"], DESCRIBE_ROWS, c["nearby"])
        if got != want:
            fails.append(f"{name}: (hit, rows, score, describe, nearby) {got}, expected {want}")
        if not op["hit"]:
            stored[c["point"]] = op["fp"]
        elif stored.get(c["point"]) != op["fp"]:
            fails.append(f"{name}: hit rows differ from the miss that stored them")
    return fails


def check_traced_matches(untraced, traced, fields):
    """The traced run must reproduce the untraced run's sequence."""
    a = [tuple(op.get(f) for f in fields) for op in untraced]
    b = [tuple(op.get(f) for f in fields) for op in traced]
    return [] if a == b else [f"traced {fields} sequence differs from the untraced run"]


def check_stream(rec, plan, tag):
    fails = [f"{tag} {op['req']}: {op['error']}" for op in rec["ops"] if "error" in op]
    landed = rec["landed_ids"]
    reposts = set(plan["exact_repost_ids"]) & set(landed)
    if reposts:
        fails.append(f"{tag}: {len(reposts)} exact reposts landed")
    if len(set(landed)) != len(landed):
        fails.append(f"{tag}: a document landed twice")
    if sorted(landed) != plan["fresh_ids"]:
        fails.append(f"{tag}: {len(landed)} documents landed, expected exactly the "
                     f"{len(plan['fresh_ids'])} fresh ones")
    return fails


# ---- metrics -------------------------------------------------------------------

def end_to_end(rec):
    """Set-up time, median request latency, items (queries, clicks or
    documents) completed per second of request time, and live heap."""
    ms = [op["ms"] for op in rec["ops"] if "ms" in op]
    items = sum(op.get("docs", 1) for op in rec["ops"] if "ms" in op)
    return {
        "setup_s": statistics.median(s["session_build_s"] + s["prepare_s"] for s in rec["setup"]),
        "op_p50_ms": percentile(ms, 50),
        "throughput_per_s": items / (sum(ms) / 1000.0),
        "live_heap_mb": rec["live_heap_bytes"] / 2 ** 20,
    }


def per_layer(rec, workload, plan):
    tr = rec["trace"]
    spans = tr["spans"]
    own = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def self_sum_s(name):
        return sum(own[s["id"]] for s in by_name.get(name, [])) / 1e9

    def self_median_ms(name):
        xs = [own[s["id"]] / 1e6 for s in by_name.get(name, [])]
        return statistics.median(xs) if xs else 0.0

    def total(key):
        return sum(s[key] for s in spans)

    jobs, stages, tasks = total("jobs"), total("stages"), total("tasks")
    untraced = [op["ms"] for op in rec["ops"] if "ms" in op]
    traced = [op["ms"] for op in rec["traced_ops"] if "ms" in op]
    gaps = list(uncovered_ns(spans).values())
    m = {
        "core.session_build_s": statistics.median(s["session_build_s"] for s in rec["setup"]),
        "core.prepare_s": statistics.median(s["prepare_s"] for s in rec["setup"]),
        "core.warmup_s": rec["warmup_s"],
        "entry.construct_s": self_sum_s("construct"),
        "entry.construct_jobs": sum(s["jobs"] for s in by_name.get("construct", [])),
        "entry.cold_run_s": sum(op.get("cold_ms", 0.0) for op in rec["ops"]) / 1000.0,
        "plan.plan_s": self_sum_s("plan"),
        "plan.exchanges": total("exchanges"),
        "sched.jobs": jobs,
        "sched.stages": stages,
        "sched.tasks": tasks,
        "sched.tasks_per_stage": tasks / stages if stages else 0.0,
        "sched.scheduler_delay_s": total("scheduler_delay_ms") / 1000.0,
        "sched.task_failures": total("failed_tasks"),
        "exec.run_s": self_sum_s("run") + self_sum_s("stream.process"),
        "exec.executor_run_s": total("executor_run_ms") / 1000.0,
        "exec.executor_cpu_s": total("executor_cpu_ns") / 1e9,
        "exec.gc_s": total("gc_ms") / 1000.0,
        "exec.spill_bytes": total("spill_bytes"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "scan.input_bytes": total("input_bytes"),
        "source.fetch_ms": self_median_ms("source.fetch"),
        "source.parse_ms": self_median_ms("source.parse"),
        "source.attempts_per_fetch": 0.0,
        "clean.ms": self_median_ms("clean"),
        "quality.ms": self_median_ms("quality"),
        "describe.ms": self_median_ms("describe"),
        "cache.get_ms": self_median_ms("cache.get"),
        "cache.put_ms": self_median_ms("cache.put"),
        "cache.nearby_ms": self_median_ms("cache.nearby"),
        "cache.hit_ratio": 0.0,
        "cache.entries": 0,
        "stream.add_batch_ms": 0.0,
        "stream.query_planning_ms": 0.0,
        "stream.wal_commit_ms": 0.0,
        "stream.jobs_per_batch": 0.0,
        "stream.landed_ratio": 0.0,
        "stream.flatness": 0.0,
        "landing.files": 0,
        "landing.bytes": 0,
        "landing.bytes_per_input_byte": 0.0,
        "trace.overhead_pct": (sum(traced) - sum(untraced)) / sum(untraced) * 100.0,
        "trace.uncovered_pct": 100.0 * sum(g for g, _ in gaps) / sum(t for _, t in gaps),
    }
    if workload == "dashboard":
        hits = [op["hit"] for op in rec["ops"] if "hit" in op]
        m["cache.hit_ratio"] = sum(hits) / len(hits) if hits else 0.0
        m["cache.entries"] = rec["cache_entries"]
        if rec["traced_fetches"]:
            m["source.attempts_per_fetch"] = rec["traced_attempts"] / rec["traced_fetches"]
    if workload == "stream_ingest":
        # the traced stream's lead-in batches are untimed and not counted
        prog = [p for p in tr["progress"] if p["rows"] > 0 and p["batch"] >= plan["lead_in"]]
        for key, name in (("addBatch", "stream.add_batch_ms"),
                          ("queryPlanning", "stream.query_planning_ms"),
                          ("walCommit", "stream.wal_commit_ms")):
            xs = [p["duration_ms"].get(key, 0) for p in prog]
            m[name] = statistics.median(xs) if xs else 0.0
        per_batch = {}
        for s in spans:
            per_batch[s["req"]] = per_batch.get(s["req"], 0) + s["jobs"]
        m["stream.jobs_per_batch"] = statistics.median(per_batch.values()) if per_batch else 0.0
        docs = sum(len(b) for b in plan["batches"])
        m["stream.landed_ratio"] = len(rec["landed_ids"]) / docs
        m["stream.flatness"] = flatness(untraced)
        m["landing.files"] = rec["landing_files"]
        m["landing.bytes"] = rec["landing_bytes"]
        m["landing.bytes_per_input_byte"] = rec["landing_bytes"] / plan["input_bytes"]
    return m


def flatness(batch_ms):
    """Median of the last quarter over median of the second quarter."""
    n = len(batch_ms)
    q2 = batch_ms[n // 4: n // 2]
    q4 = batch_ms[3 * n // 4:]
    if not q2 or not q4:
        return 0.0
    return statistics.median(q4) / statistics.median(q2)


# ---- BENCHMARK.json ----------------------------------------------------------

def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def spec_problems(spec):
    """Problems with the metric and workload names and units of a spec."""
    out = []
    seen = set()
    for group in ("workloads", "end_to_end", "per_layer"):
        for item in spec.get(group, []):
            name = item.get("name", "")
            if not NAME_RE.match(name):
                out.append(f"{group}: bad name {name!r}")
            if name in seen:
                out.append(f"{group}: {name!r} used twice")
            seen.add(name)
            if group != "workloads" and not UNIT_RE.match(item.get("unit", "")):
                out.append(f"{group}: bad unit for {name!r}")
    return out
