"""Benchmark entry point.

    python3 perfbench/run.py --workload query_suite|dashboard|stream_ingest \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, cached by
a source hash), generates the workload's inputs from the seed, runs them in
one JVM on ``local[nproc]`` with one closed-loop client, checks the outputs
and prints one JSON result line last.  ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones.  See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("query_suite", "dashboard", "stream_ingest")
BUILD_DIR = os.path.join(HERE, ".build")
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
WORK_DIR = os.path.join(HERE, ".work")
RUN_DEADLINE_S = 170
SETUPS = 3
SF = 0.01
SMOKE_SF = 0.001

# Work per run is a function of --seconds only (never of measured speed),
# so a faster engine does the same work in less time.  The rates are sized
# so one run measures about --seconds on a 4-core host.
QUERIES_PER_S = 1.2
CLICKS_PER_S = 1.0
BATCH_DOCS = 100
BATCHES_PER_S = 0.4

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail_setup(msg, code=3):
    log(msg)
    sys.exit(code)


# ---- build -------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The harness classpath, building first when the sources changed."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if all(map(os.path.exists, (stamp_file, cp_file, ARCHIVE))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines()
             if os.path.join("perfbench", "target") in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail_setup("build failed", 4)
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    if not train_class_archive(cp):
        fail_setup("class archive training failed", 4)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def train_class_archive(cp):
    """Archive the classes a run loads (JDK AppCDS), from one JVM that runs
    all three workloads at smoke size.  Runs then map the archive instead of
    loading and verifying ~10k Spark and Scala classes from jars, which
    takes seconds per run and competes with the measured requests.  Every
    run uses the archive, so all runs load classes the same way; returns
    whether training succeeded."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}-train")
    os.makedirs(run_dir, exist_ok=True)
    try:
        pairs = []
        for w in WORKLOADS:
            inp, _ = make_input(w, 0, sizes(w, 1, smoke=True), run_dir, SMOKE_SF)
            inp.update(cpus=len(os.sched_getaffinity(0)), setups=1, trace=True)
            pairs.append((os.path.join(run_dir, f"{w}.in.json"),
                          os.path.join(run_dir, f"{w}.out.json")))
            gen.write_json(pairs[-1][0], inp)
        tmp = ARCHIVE + ".tmp"
        if os.path.exists(tmp):
            os.remove(tmp)
        code = jvm(cp, run_dir, [f"-XX:ArchiveClassesAtExit={tmp}"], pairs, time.time() + 600)
        if code != 0 or not os.path.exists(tmp):
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
                sys.stderr.write("\n".join(f.read().splitlines()[-40:]) + "\n")
            return False
        os.rename(tmp, ARCHIVE)
        return True
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---- inputs ------------------------------------------------------------------

def eligible_queries():
    with open(os.path.join(HERE, "queries.txt")) as f:
        return [ln.split()[0] for ln in f if ln.strip() and not ln.startswith("#")]


def sizes(workload, seconds, smoke):
    """The run's fixed amount of work."""
    if smoke:
        return {"query_suite": {"queries": 3},
                "dashboard": {"clicks": 6},
                "stream_ingest": {"batches": 4, "batch_docs": 20}}[workload]
    return {"query_suite": {"queries": max(3, round(seconds * QUERIES_PER_S))},
            "dashboard": {"clicks": max(5, round(seconds * CLICKS_PER_S))},
            "stream_ingest": {"batches": max(3, round(seconds * BATCHES_PER_S)),
                              "batch_docs": BATCH_DOCS}}[workload]


def make_input(workload, seed, size, run_dir, sf, queries=None):
    """The JVM input document and the plan the checks compare against."""
    inp = {"workload": workload, "work_dir": run_dir}
    if workload == "query_suite":
        if queries is None:
            queries = gen.query_order(eligible_queries()[:size["queries"]], seed)
        inp.update(tables=gen.ensure_tables(WORK_DIR, sf), queries=queries)
        return inp, {"queries": queries}
    if workload == "dashboard":
        plan = gen.dashboard_plan(seed, size["clicks"])
        inp.update(points=plan["points"], clicks=plan["clicks"])
        return inp, plan
    # two untimed batches lead each stream in: the second has duplicates
    # of the first, so the timed batches meet a landing whose confirm path
    # has run
    plan = gen.stream_plan(seed, size["batches"], size["batch_docs"], lead_in=(BATCH_DOCS, BATCH_DOCS))
    inp.update(batches=plan["batches"], lead_in=plan["lead_in"])
    return inp, plan


# ---- the JVM run ---------------------------------------------------------------

def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_stale_runs():
    """Remove run dirs left by killed runs (their owner pid is gone)."""
    if not os.path.isdir(WORK_DIR):
        return
    for d in os.listdir(WORK_DIR):
        if d.startswith("run-"):
            try:
                pid = int(d.split("-")[1])
            except (IndexError, ValueError):
                continue
            if not pid_alive(pid):
                shutil.rmtree(os.path.join(WORK_DIR, d), ignore_errors=True)


def jvm(cp, run_dir, jvm_opts, pairs, deadline):
    """Run ``perfbench.Main`` on (input, output) pairs; return the exit code."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = (["java"] + JDK_OPENS + jvm_opts + [
        "-Xmx3g",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.system.home={run_dir}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + [p for pair in pairs for p in pair])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def run_jvm(cp, inp, run_dir, deadline):
    in_path = os.path.join(run_dir, "input.json")
    out_path = os.path.join(run_dir, "output.json")
    log_path = os.path.join(run_dir, "jvm.log")
    gen.write_json(in_path, inp)
    code = jvm(cp, run_dir, [f"-XX:SharedArchiveFile={ARCHIVE}"], [(in_path, out_path)], deadline)
    if code != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            tail = [ln for ln in f.read().splitlines() if " INFO " not in ln][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise RuntimeError(f"JVM exited with code {code}")
    with open(out_path) as f:
        return json.load(f)


def checks(workload, rec, plan, trace, sf):
    ops = rec["ops"]
    if workload == "query_suite":
        with open(os.path.join(HERE, "expected", "query_results.json")) as f:
            expected = json.load(f).get(f"sf{sf}", {})
        fails = metrics.check_query_suite(ops, expected)
        if trace:
            fails += [f"traced {op['req']}: {op['error']}" for op in rec["traced_ops"]
                      if "error" in op]
    elif workload == "dashboard":
        fails = metrics.check_dashboard(ops, plan, "untraced")
        if trace:
            fails += metrics.check_dashboard(rec["traced_ops"], plan, "traced")
            fails += metrics.check_traced_matches(ops, rec["traced_ops"], ("hit", "rows"))
    else:
        fails = metrics.check_stream(rec, plan, "untraced")
        if trace:
            fails += metrics.check_stream(
                {"ops": rec["traced_ops"], "landed_ids": rec["traced_landed_ids"]},
                plan, "traced")
    if trace:
        fails += metrics.trace_problems(rec["trace"]["spans"])
        orphan = rec["trace"]["orphan"]
        if orphan["jobs"]:
            fails.append(f"{orphan['jobs']} jobs ran outside every span and excluded group")
    return fails


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs at sf0.001 (one setup, a few operations)")
    args = ap.parse_args(argv)
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail_setup("engine sources not found next to the benchmark directory")
    cp = classpath()
    build_s = time.time() - t_start

    sweep_stale_runs()
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sf = SMOKE_SF if args.smoke else SF
        size = sizes(args.workload, args.seconds, args.smoke)
        inp, plan = make_input(args.workload, args.seed, size, run_dir, sf)
        inp.update(cpus=len(os.sched_getaffinity(0)), setups=1 if args.smoke else SETUPS,
                   trace=bool(args.trace))
        rec = run_jvm(cp, inp, run_dir, t_start + build_s + RUN_DEADLINE_S)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"run failed: {e}")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    fails = checks(args.workload, rec, plan, args.trace, sf)
    for msg in fails[:20]:
        log(f"check failed: {msg}")
    ops = [op["ms"] for op in rec["ops"] if "ms" in op]
    if not ops:
        log("no request completed")
        return 1
    tail = metrics.tail_percentile(len(ops))
    log(f"{args.workload}: {len(rec['ops'])} operations, size {size}, p50 "
        f"{metrics.percentile(ops, 50):.1f} ms"
        + (f", p{tail} {metrics.percentile(ops, tail):.1f} ms" if tail > 50 else ""))
    group = "per_layer" if args.trace else "end_to_end"
    values = (metrics.per_layer(rec, args.workload, plan) if args.trace
              else metrics.end_to_end(rec))
    units = {m["name"]: m["unit"] for m in metrics.load_spec(ROOT)[group]}
    attempted = len(rec["ops"]) + (len(rec["traced_ops"]) if args.trace else 0)
    result = {"correct": not fails, "attempted": attempted, "failed": len(fails),
              "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    print(json.dumps(result))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
