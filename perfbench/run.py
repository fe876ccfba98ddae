#!/usr/bin/env python3
"""graft benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds graft and the harness from
source (once per checkout, into .bench_build/), generates the workload's
inputs from the seed, runs the harness JVM, checks every op's output and
prints one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. Workloads, metrics and sizing: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# Spark cores. The JVM also runs JIT compiler, GC and driver threads beside
# the tasks, and the ops are mostly driver-bound; two task threads leave
# cores free for those on a 4-vCPU host, so a run is less at the mercy of
# how many cores a shared host gives it at that moment.
CPUS = min(2, os.cpu_count() or 1)
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850

QUERIES = [
    "q1_pricing_summary", "q3_topk_revenue", "q_pagerank", "ev_sessions",
    "ev_asof_join", "s2_point_lookup", "w1_window_topn", "tx_langid",
]
WORKLOADS = {
    "cli_roundtrip": gen.cli_roundtrip,
    "query_mix": lambda work, seed: gen.query_mix(work, seed, QUERIES),
}
JAVA_OPTS = [
    *[x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
    # Fewer JIT and GC threads, for the same reason as CPUS.
    "-XX:CICompilerCount=2", f"-XX:ParallelGCThreads={CPUS}", "-XX:ConcGCThreads=1",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")):
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources here; run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       os.path.join(HERE, "harness"), env, log, BUILD_TIMEOUT_S,
                       capture=True)
    cp = out.strip().splitlines()[-1] if out.strip() else ""
    if "perfbench" not in cp or "classes" not in cp:
        die(f"build failed; see {os.path.join(BUILD, 'build.log')}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_proc(cmd, cwd, env, log, timeout, capture=False):
    """Run a child in its own process group; kill the group on timeout and
    wait for it. Returns stdout when `capture`, else the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE if capture else log,
                         stderr=log, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if capture:
        log.write(out)
        if p.returncode != 0:
            die(f"{cmd[0]} exited {p.returncode}")
        return out
    return p.returncode


def harness(cp, work, workload, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--cpus", str(CPUS)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    with open(os.path.join(work, "harness.log"), "a") as log:
        rc = run_proc(cmd, ROOT, env, log, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(result):
        die(f"harness exited {rc}; see {os.path.join(work, 'harness.log')}")
    with open(result) as fh:
        return json.load(fh)


def oracle_verdicts(work):
    """DuckDB oracle for each query's cold-pass result (the repository's
    tools/check_oracle.py comparison, against the generated tables)."""
    import duckdb
    import pandas as pd

    def canon(df):
        s = df.reindex(sorted(df.columns), axis=1).astype(str)
        return s.sort_values(by=list(s.columns)).reset_index(drop=True)

    con = duckdb.connect()
    for t in os.listdir(os.path.join(work, "data")):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(work, 'data', t)}'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    verdicts = {}
    for q, sql in oracle.items():
        try:
            got = canon(pd.read_parquet(os.path.join(work, "results", q)))
            exp = canon(con.execute(sql).fetchdf())
            verdicts[q] = list(got.columns) == list(exp.columns) and got.equals(exp)
        except Exception as e:  # missing result or oracle error: a failure
            print(f"oracle {q}: {e}", file=sys.stderr)
            verdicts[q] = False
    return verdicts


def op_errors(workload, op, expected, good_prints):
    """Why an op's output is wrong (empty when it is right)."""
    errs = list(op["errors"])
    if workload == "query_mix":
        for q in expected["queries"]:
            if op["check"].get(q) != good_prints.get(q):
                errs.append(f"{q}: result differs from the oracle-checked one")
    else:
        for k, v in expected.items():
            if op["check"].get(k) != v:
                errs.append(f"{k}: got {op['check'].get(k)}, want {v}")
    return errs


def op_s(op):
    return sum(s["s"] for s in op["steps"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        expected = WORKLOADS[a.workload](work, a.seed)
        src = os.path.join(work, "src")  # the CSVs a load reads
        input_mb = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)) \
            / 1048576 if os.path.isdir(src) else 0.0
        res = harness(cp, work, a.workload, a.seconds, a.trace)
        good = {}
        if a.workload == "query_mix":
            ok = oracle_verdicts(work)
            cold = res["ops"][0]["check"]
            good = {q: cold.get(q) for q in ok if ok[q]}
        ops = res["ops"]
        fails = [op_errors(a.workload, op, expected, good) for op in ops]
        if a.trace == 1:
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(keep, f"{a.workload}-{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    warm = ops[1:]
    report(a, res, ops, fails)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.trace == 0:
        values = {
            "setup_s": res["setup_s"],
            "cold_s": op_s(ops[0]),
            "op_s": statistics.median(op_s(o) for o in warm),
            "mem_peak_mb": statistics.median(o["mem_peak_mb"] for o in warm),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        metrics = layer_metrics(spec["per_layer"], a, res, ops, fails, input_mb)
    failed = sum(1 for f in fails if f)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


def layer_metrics(spec, a, res, ops, fails, input_mb):
    """Median over warm ops of each per-layer value; codegen also for the
    cold op, where nearly all compilation happens."""
    warm = ops[1:]
    out = {}
    for m in spec:
        name = m["name"]
        if name == "config.parse_ms":
            v = res["config_parse_ms"]
        elif name.startswith("codegen.cold_"):
            v = ops[0]["layers"].get("codegen." + name[len("codegen.cold_"):], 0.0)
        elif name == "process.cpu_s":
            v = statistics.median(sum(s["cpu_s"] for s in o["steps"]) for o in warm)
        elif name == "ops.fail_ratio":
            v = sum(1 for f in fails if f) / len(ops)
        elif name == "queries.p50_s":
            v = statistics.median(
                statistics.median(s["s"] for s in o["steps"]) if a.workload == "query_mix"
                else 0.0
                for o in warm)
        elif name == "other.job_share":
            v = statistics.median(o["layers"]["other.jobs"] / o["layers"]["scheduler.jobs"]
                                  if o["layers"]["scheduler.jobs"] else 0.0 for o in warm)
        elif name == "load.write_amp":
            v = statistics.median(o["layers"]["load.write_mb"] / input_mb
                                  if input_mb else 0.0 for o in warm)
        elif name == "extract.examined_per_out":
            def per_out(o):
                rows = o["check"].get("accounts", 0) + o["check"].get("contacts", 0)
                return o["layers"]["extract.records_read"] / rows if rows else 0.0
            v = statistics.median(per_out(o) for o in warm)
        else:
            v = statistics.median(o["layers"].get(name, 0.0) for o in warm)
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def report(a, res, ops, fails):
    """Human-readable lines above the JSON: sample counts, spreads, per-rep
    job counts and failures."""
    times = [op_s(o) for o in ops[1:]]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} cpus {res['cpus']}")
    print(f"setup_s {res['setup_s']:.3f}")
    print(f"cold_s {op_s(ops[0]):.3f}  warm op_s "
          f"n={len(times)} median {statistics.median(times):.3f} "
          f"min {min(times):.3f} max {max(times):.3f}: "
          + " ".join(f"{t:.3f}" for t in times))
    print("jobs per rep " + " ".join(str(o["jobs"]) for o in ops))
    for o in ops[:1] + ops[-1:]:
        print(f"rep {o['rep']} steps " + " ".join(
            f"{s['name']}={s['s']:.3f}" for s in o["steps"]))
    for o, f in zip(ops, fails):
        for e in f:
            print(f"FAILED rep {o['rep']}: {e}")


if __name__ == "__main__":
    main()
