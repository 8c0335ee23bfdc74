#!/usr/bin/env python3
"""Benchmark of the graft engine: three closed-loop workloads, each one
client in one JVM on local[4], calling the program's public functions and
timing those calls from outside.

Usage (from the repository root):
  python3 perfbench/run.py --workload topic_sort|fixture_queries|table_commits \
      --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source on first use, runs the
workload, checks its outputs, and prints one JSON line last: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. Exits non-zero
when an output check fails or the program cannot be built.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402

RUN_LIMIT_S = 175
FIXTURE_SF = "sf0.01"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fixture_dir(root):
    """The Parquet fixtures at FIXTURE_SF, where a query's cost is still
    mostly fixed cost: $PERFBENCH_DATA, or the directory TESTDATA.md
    lists for that scale."""
    if "PERFBENCH_DATA" in os.environ:
        return os.environ["PERFBENCH_DATA"]
    with open(os.path.join(root, "TESTDATA.md")) as f:
        m = re.search(r"`([^`]*/%s)/?`" % re.escape(FIXTURE_SF), f.read())
    if not m:
        raise RuntimeError(f"TESTDATA.md names no {FIXTURE_SF} fixture directory")
    return m.group(1)


def run_jvm(classes, jars, data, work, args, timeout):
    """Run one workload in a fresh JVM; return its result.json."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms2g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", data])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM exceeded {timeout:.0f} s; see {work}/jvm.log")
    res = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with {p.returncode}:\n{tail}")
    with open(res) as f:
        return json.load(f)


def drop_data(work):
    """Keep a run's results, spans and log; drop the data it wrote."""
    for sub in ("topic", "table", "queries", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)


def run_checks(workload, art):
    """Returns (checked outputs, failure messages)."""
    if workload == "topic_sort":
        return len(art["topic_keys"]), checks.check_sorted_copies(art["topic_dir"], art["topic_keys"])
    if workload == "fixture_queries":
        failed = [f"{n}: check pass failed" for n in art["query_failed"]]
        ok = {n: s for n, s in art["oracle"].items() if n not in art["query_failed"]}
        return len(art["queries"]), failed + checks.check_queries(art["query_data"], art["query_dir"], ok)
    if workload == "table_commits":
        return 1, checks.check_table(art["table_final"], checks.table_model(art))
    raise ValueError(workload)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {args.workload}")
        return 2
    try:
        classes, jars = build.build(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        data = fixture_dir(root)
    except (build.BuildError, RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(f"cannot build or find inputs: {e}")
        return 2

    # a first run also builds, which the limit does not cover
    deadline = time.time() + RUN_LIMIT_S
    try:
        work = os.path.join(root, ".perfbench_work", f"{args.workload}-seed{args.seed}-trace{args.trace}")
        r = run_jvm(classes, jars, data, work, args, deadline - time.time() - 15)
    except RuntimeError as e:
        log(str(e))
        return 3

    t_checks = time.time()
    n_checked, errors = run_checks(args.workload, r["artifacts"])
    log(f"JVM done at {t_checks - t_start:.1f} s, checks took {time.time() - t_checks:.1f} s")
    for e in errors:
        log(f"CHECK FAILED {e}")
    for e in r["errors"]:
        log(f"OP FAILED {e}")

    e2e = r["end_to_end"]
    if args.trace:
        layer = r["per_layer"]
        # a layer this workload does not exercise did no work: zero
        idle = [m["name"] for m in spec["per_layer"] if m["name"] not in layer]
        log(f"layers not exercised by {args.workload}: {idle}")
        wanted, got = spec["per_layer"], {**{n: 0.0 for n in idle}, **layer}
    else:
        wanted, got = spec["end_to_end"], e2e
    names = [m["name"] for m in wanted]
    # the JVM writes null for a metric it could not measure
    missing = [n for n in names if not isinstance(got.get(n), (int, float))]
    if missing:
        log(f"metrics not measured: {missing}")
        return 3
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}

    log(f"{args.workload} seed={args.seed}: {r['passes']} passes, {r['samples']} op samples, "
        f"setup rounds {[round(x, 3) for x in r['setup_rounds_s']]}")
    for k, v in sorted({**e2e, **r["figures"]}.items()):
        log(f"  {k:<28} {v}")
    drop_data(work)

    correct = not errors
    print(json.dumps({"correct": correct,
                      "attempted": r["attempted"] + n_checked,
                      "failed": r["failed"] + len(errors),
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
