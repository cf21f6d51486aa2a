#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source (first run only),
generates the workload's inputs from the seed, runs the driver in one JVM
at local[nproc], and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Exits non-zero when an output check fails or the run cannot
finish. Workload parameters and the layer map live in workloads.json.
"""
import argparse
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
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def jvm_cmd(spec, jar, work, extra):
    cp = os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")])
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xms{spec['heap']}", f"-Xmx{spec['heap']}", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=100",
             "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + extra +
            ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", cp, "graft.perfbench.Main", work])


def drive(cmd, work, timeout):
    """Runs the driver JVM; its exit code, or None on timeout. The JVM is
    killed and reaped on every way out of here."""
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def prepare(work, seed, w, run):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen.generate(work, seed, w)
    params = dict(w, seed=seed, cores=len(os.sched_getaffinity(0)), **run)
    with open(os.path.join(work, "params.properties"), "w") as f:
        for k, v in sorted(params.items()):
            f.write(f"{k}={v}\n")


def class_archive(spec, w, jar, out_root):
    """JVM options that map a class-data archive of every class a run
    loads, so each run skips loading and verifying Spark's classes again
    (about 14 s of a serve run on 4 cores). One traced run on small inputs
    dumps it the first time."""
    jsa = jar[:-len(".jar")] + ".jsa"
    if not os.path.exists(jsa):
        work = os.path.join(out_root, "work", f"archive-{os.getpid()}")
        small = dict(w, docs=300, warm_docs=40, queries=120, rounds=1, batch_docs=40,
                     catalog_docs=100)
        try:
            prepare(work, 0, small, dict(workload="serve", seconds=0.1, trace=1))
            rc = drive(jvm_cmd(spec, jar, work, ["-XX:ArchiveClassesAtExit=" + jsa + ".tmp"]),
                       work, 600)
            if rc != 0 or not os.path.exists(jsa + ".tmp"):
                fail("class archive run failed")
            os.rename(jsa + ".tmp", jsa)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return ["-XX:SharedArchiveFile=" + jsa]


def check_catalog(work):
    """Compares every catalog entry's rows, as the driver wrote them, with
    its oracle SQL run in DuckDB over the same documents table: columns by
    name, rows sorted, values exactly equal. Returns the mismatches."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(work, 'catalog', 'documents.parquet')}'")

    def table(sql):
        cur = con.execute(sql)
        cols = [c[0] for c in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
        return [cols[i] for i in order], sorted(rows, key=lambda r: [(v is None, v) for v in r])

    with open(os.path.join(work, "catalog_oracle.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        out = os.path.join(work, "catalog_out", name)
        if sql is None or not os.path.isdir(out):
            bad.append(f"{name}: no oracle or no rows written")
            continue
        got, want = table(f"SELECT * FROM '{out}/*.parquet'"), table(sql)
        if got != want:
            bad.append(f"{name}: engine {len(got[1])} rows {got[0]}, "
                       f"oracle {len(want[1])} rows {want[0]}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still reaps its JVM (drive's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}")
    w = dict(spec["engine"], **spec["inputs"])

    out_root = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(out_root, exist_ok=True)
    jar = build.build(out_root)
    cds = class_archive(spec, w, jar, out_root)
    start = time.monotonic()

    work = os.path.join(out_root, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        prepare(work, args.seed, w,
                dict(workload=args.workload, seconds=args.seconds, trace=args.trace))
        rc = drive(jvm_cmd(spec, jar, work, cds), work,
                   max(10, RUN_LIMIT_S - (time.monotonic() - start)))
        logs = os.path.join(out_root, "logs")
        os.makedirs(logs, exist_ok=True)
        shutil.copy(os.path.join(work, "jvm.log"),
                    os.path.join(logs, f"{args.workload}-{args.seed}-trace{args.trace}.log"))
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail("driver timed out" if rc is None else f"driver exited with {rc}")
        with open(result_path) as f:
            res = json.load(f)
        if args.trace:
            bad = check_catalog(work)
            res["checks"]["catalog.oracle"] = not bad
            res["errors"] += [f"catalog.oracle {b}" for b in bad]
            res["correct"] = res["correct"] and not bad
            traces = os.path.join(out_root, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report(args, w, res, out_root)
    sys.exit(0 if res["correct"] else 1)


def report(args, w, res, out_root):
    """Human-readable record of the run, then the one-line result."""
    env = dict(res["env"], workload=args.workload, seed=args.seed, seconds=args.seconds,
               trace=args.trace, docs=w["docs"], vocab=w["vocab"], queries=w["queries"],
               cold_share=w["cold_share"], rounds=w["rounds"], batch_docs=w["batch_docs"])
    print("run:", json.dumps(env, sort_keys=True))
    print("checks:", json.dumps(res["checks"], sort_keys=True))
    for e in res["errors"]:
        print("error:", e)
    att, fl = res["attempted"], res["failed"]
    print(f"operations: attempted {att}, failed {fl} ({fl / max(att, 1):.2%})")
    for name, t in res["traffic"].items():
        print(f"traffic {name}: share {t['share']:.3f} p50 {t['p50_ms']:.1f} ms")
    for name, s in sorted(res["spans"].items()):
        print(f"span {name}: count {s['count']} total {s['total_ms']:.1f} ms "
              f"self {s['self_ms']:.1f} ms")
    # tracing overhead: this traced run's figures for its own workload minus
    # those of the untraced run of the same workload and seed, when one was made
    results = os.path.join(out_root, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(res["metrics"], f)
    other = os.path.join(results, f"{args.workload}-{args.seed}-trace0.json")
    if args.trace and os.path.exists(other):
        with open(other) as f:
            base = json.load(f)
        for k, m in sorted(base.items()):
            t = res["metrics"].get(f"{args.workload}.{k}")
            if t:
                print(f"tracing overhead {k}: {t['value'] - m['value']:+.4g} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": att, "failed": fl,
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
