"""Record the query suite's expected results (run once per engine change
that is meant to change query results, and on the commit that defines them).

    python3 perfbench/record.py

Runs every query in ``queries.txt`` twice (two query orders, two JVMs) at
the benchmark scale and at the smoke scale, and writes per query the row
count and the order-insensitive fingerprint to
``expected/query_results.json``.  A query whose fingerprint differs between
the two passes is marked unstable and is then checked by row count only.
Also prints each query's warm and cold time from the first pass, which
``queries.txt`` is ordered by (see its header).
"""

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def one_pass(cp, names, seed, sf):
    run_dir = os.path.join(run.WORK_DIR, f"run-{os.getpid()}-record")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inp, _ = run.make_input("query_suite", seed, None, run_dir, sf,
                                queries=run.gen.query_order(names, seed))
        inp.update(cpus=len(os.sched_getaffinity(0)), setups=1, trace=False)
        rec = run.run_jvm(cp, inp, run_dir, time.time() + 3600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return {op["req"]: op for op in rec["ops"]}


def main():
    cp = run.classpath()
    names = run.eligible_queries()
    out = {}
    for sf in (run.SF, run.SMOKE_SF):
        a = one_pass(cp, names, 0, sf)
        b = one_pass(cp, names, 1, sf)
        res = {}
        for q in names:
            if "error" in a[q] or "error" in b[q]:
                print(f"sf{sf} {q}: ERROR {a[q].get('error') or b[q].get('error')}")
                continue
            if a[q]["rows"] != b[q]["rows"]:
                print(f"sf{sf} {q}: row count differs between passes")
                continue
            res[q] = {"rows": a[q]["rows"], "fp": a[q]["fp"], "stable": a[q]["fp"] == b[q]["fp"]}
            if sf == run.SF:
                print(f"{q} warm_ms {a[q]['ms']:.0f} {b[q]['ms']:.0f} cold_ms {a[q]['cold_ms']:.0f}"
                      f" rows {a[q]['rows']} stable {res[q]['stable']}")
        out[f"sf{sf}"] = res
    with open(os.path.join(HERE, "expected", "query_results.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
