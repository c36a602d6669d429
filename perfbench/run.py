#!/usr/bin/env python3
"""Benchmark launcher: builds the harness, runs one workload, checks it.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke      # harness self-test on tiny inputs

The first run in a checkout builds the program and the harness with sbt
(perfbench/build.sbt depends on the repository's own build) and caches the
classpath under .bench_build/perfbench, keyed by a hash of every source and
build file. Later runs launch the JVM directly.

Each run works in a fresh directory under .bench_build/perfbench/runs: the
seeded inputs, the Spark warehouse, the catalog, the Derby databases and all
temporary files live there, and the directory is removed afterwards.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1. The
lines before it report each output check and the workload's named figures
(query and cycle latencies, suite time, rows/s against BASELINE.md).

End-to-end metrics (every workload):
  cpu_ms_per_op  process CPU time (program, Spark, JIT and GC threads) per
                 operation, counted only while the program works, not while
                 the harness checks outputs: per query over the timed passes
                 (analytics_suite), per request over the window (platform_mixed,
                 the daemon's fires included), and the median over the timed
                 cycles of one cycle's steps (etl_ingest). Wall-clock figures
                 are reported but not gated: on a shared host they drift with
                 the host's load.
  setup_s        session start plus the single set-up, warm-up included, up to
                 the first timed operation.

Per-layer metrics come from a traced run: spans the harness places around
its calls into each layer (written to results/<run>.spans.jsonl), a
SparkListener, a StreamingQueryListener and a QueryExecutionListener. They
are per unit of work (a pass over the queries, the window, a cycle); a layer a workload
never calls reports 0. Tracing overhead is printed as traced minus untraced
figures when an untraced run of the same workload and seed is cached.

The self-test (--smoke) runs every workload on tiny inputs, traced and
untraced; its analytics_suite pass runs the whole query map, not the sample,
and compares every entry's row count with DuckDB.
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

import corpus

START = time.monotonic()
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
RUN_LIMIT_S = 175      # a run must end within 180 s
BUILD_LIMIT_S = 840    # the run that builds may take 900 s
BASELINE_ROWS_PER_S = 5700.0  # BASELINE.md: xlsx -> truncate-and-load, 30,920 rows

# Per-layer metrics of layers a workload never calls: they are reported as
# 0 there (the layer did no work), every other named metric must be emitted.
ANALYTICS_LAYERS = ("spark.jobs_per_query", "warehouse.", "query.", "relational.",
                    "dedup.", "vector.", "lifecycle.", "streaming.")
PLATFORM_LAYERS = ("spark.jobs_per_request", "serve.", "sched.", "catalog.")
ETL_LAYERS = ("spark.jobs_per_cycle", "sources.", "alerts.")
NOT_MEASURED = {
    "analytics_suite": PLATFORM_LAYERS + ETL_LAYERS,
    "platform_mixed": ANALYTICS_LAYERS + ETL_LAYERS,
    "etl_ingest": ANALYTICS_LAYERS + PLATFORM_LAYERS,
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")] \
                if d != r else [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Return the harness classpath, building it if any source changed, and
    whether this call built it."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} not found: run from the root of a "
                 "checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    key_file = os.path.join(BUILD, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(key_file):
        with open(key_file) as fh:
            if fh.read().strip() == key:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        rc = run_child(cmd, BENCH, out, subprocess.STDOUT, BUILD_LIMIT_S, os.environ.copy())
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[") and ".jar" in l), None)
    if rc != 0 or cp is None:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); log: {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(key_file, "w") as fh:
        fh.write(key)
    return cp, True


def run_child(cmd, cwd, stdout, stderr, limit_s, env):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        else:
            try:  # stray children of the group (none expected)
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_harness(cp, workload, seed, seconds, trace, smoke, limit_s):
    """Launch the harness JVM for one workload; return its result dict."""
    runs = os.path.join(BUILD, "runs")
    work = os.path.join(runs, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    if workload == "analytics_suite":
        corpus.write(os.path.join(work, "corpus"), seed, 0.2 if smoke else 1.0)
    out = os.path.join(work, "result.json")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xms3g", "-Xmx3g", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work, "--out", out]
    if smoke:
        cmd.append("--smoke")
    env = os.environ.copy()
    env.update(SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_SCRATCH_DIR=tmp)
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        rc = run_child(cmd, work, fh, subprocess.STDOUT, limit_s, env)
    keep = os.path.join(BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    stem = f"{workload}-s{seed}-t{trace}"
    shutil.copy(log, os.path.join(keep, stem + ".log"))
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload}: harness exited {rc}" + (" (time limit)" if rc == -1 else ""))
    with open(out) as fh:
        result = json.load(fh)
    shutil.copy(out, os.path.join(keep, stem + ".json"))
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(keep, stem + ".spans.jsonl"))
    if workload == "analytics_suite":
        oracle_check(result, os.path.join(work, "corpus"), os.path.join(work, "oracle.json"))
    shutil.rmtree(work, ignore_errors=True)
    return result


def oracle_check(result, corpus_dir, oracle_file):
    """Compare analytics row counts with DuckDB over the same parquet."""
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    rows = result.get("rows", {})
    import duckdb
    con = duckdb.connect()
    for t in sorted(os.listdir(corpus_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(corpus_dir, t)}')")
    bad = []
    for q, sql in sorted(oracle.items()):
        want = con.execute(f"SELECT count(*) FROM ({sql}) t").fetchone()[0]
        if rows.get(q) != want:
            bad.append(f"{q}: spark {rows.get(q)} duckdb {want}")
    result["checks"].append({"name": f"row counts equal DuckDB on {len(oracle)} queries",
                             "ok": not bad, "detail": "; ".join(bad)})


def pick(metrics, spec, kind, workload):
    """The metrics BENCHMARK.json names, checked for presence and unit."""
    out = {}
    for m in spec[kind]:
        got = metrics.get(m["name"])
        if got is None and kind == "per_layer" and \
                m["name"].startswith(NOT_MEASURED.get(workload, ())):
            got = {"value": 0, "unit": m["unit"]}
        if got is None:
            fail(f"metric {m['name']} ({kind}) was not emitted by {workload}")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {got['unit']}, BENCHMARK.json says {m['unit']}")
        out[m["name"]] = got
    return out


def report(workload, result, trace):
    for c in result["checks"]:
        print(f"check  {'ok  ' if c['ok'] else 'FAIL'}  {c['name']}"
              + (f"  ({c['detail']})" if c["detail"] else ""))
    for k, v in result["report"].items():
        print(f"{workload}  {k} = {v['value']:.6g} {v['unit']}")
    if workload == "etl_ingest" and "etl_rows_per_s" in result["report"]:
        r = result["report"]["etl_rows_per_s"]["value"]
        print(f"etl_ingest  etl_rows_per_s / BASELINE {BASELINE_ROWS_PER_S:.0f} rows/s = "
              f"{r / BASELINE_ROWS_PER_S:.3f} (reference: 30,920 rows in ~5.4 s, MySQL, "
              "Windows desktop; a ratio, not a claimed gain)")
    for n in result.get("notes", []):
        print(f"{workload}  {n}")
    if trace:
        base = os.path.join(BUILD, "results", f"{workload}-s{result['seed']}-t0.json")
        if os.path.exists(base):
            with open(base) as fh:
                base = json.load(fh)
            untraced = {**base["report"], **base["end_to_end"]}
            for k, v in {**result["report"], **result["end_to_end"]}.items():
                if k in untraced and v["unit"] in ("ms", "s", "1/s", "rows/s"):
                    print(f"tracing overhead  {k}: traced - untraced = "
                          f"{v['value'] - untraced[k]['value']:+.6g} {v['unit']}")
        else:
            print("tracing overhead: no untraced run of this workload and seed in "
                  "this checkout to compare with")


def smoke(cp, spec):
    """Self-test: every workload on tiny inputs, traced and untraced; every
    metric BENCHMARK.json names is emitted with its unit; every check holds."""
    bad = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            r = run_harness(cp, w, 1, 2, trace, True, BUILD_LIMIT_S)
            kind = "per_layer" if trace else "end_to_end"
            pick(r[kind], spec, kind, w)
            failed = [c["name"] for c in r["checks"] if not c["ok"]]
            status = "ok" if not failed and r["failed"] == 0 else "FAIL"
            print(f"smoke {w} trace={trace}: {status}  attempted={r['attempted']} "
                  f"failed={r['failed']} metrics={len(spec[kind])}" +
                  (f" failed checks: {failed}" if failed else ""))
            if status != "ok":
                bad.append(f"{w}/trace={trace}")
    if bad:
        fail("smoke failed: " + ", ".join(bad))
    print("smoke: every metric emitted with its unit; every check passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(SPEC):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(SPEC) as fh:
        spec = json.load(fh)
    cp, built = build()
    if a.smoke:
        smoke(cp, spec)
        return
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {names}")
    # the run that builds may take longer
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - START)
    r = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, False, limit)
    r["seed"] = a.seed
    kind = "per_layer" if a.trace else "end_to_end"
    metrics = pick(r[kind], spec, kind, a.workload)
    report(a.workload, r, a.trace)
    correct = all(c["ok"] for c in r["checks"])
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
