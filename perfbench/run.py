#!/usr/bin/env python3
"""Benchmark of the packet pipeline and the graded query mix.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each was chosen):
  ingest_trickle  streaming pipeline, closed loop, one ~500-message segment
                  per micro-batch: the per-batch fixed cost dominates
  ingest_backlog  the same pipeline, 16 segments (~8,000 messages) per
                  micro-batch: the per-message work dominates
  query_mix       12 graded queries over seeded sf0.01-sized tables, in
                  rounds after one warm-up round

The first run in a checkout compiles the program (src/main/scala) and the
benchmark's Scala sources with the Scala compiler shipped in Spark's jars,
into .bench_build/perfbench/classes-<source hash>. Each run then starts one
JVM at local[<cores>], which writes its raw samples as JSON; this script
derives the metrics, checks the outputs, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
traced run also writes its per-query / per-batch table to
.bench_build/perfbench/trace-<workload>-<seed>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import benchlib
import tables

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_trickle", "ingest_backlog", "query_mix")
JVM_TIMEOUT_S = 160
HEAP = "2g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:  # pyspark bundles the same jars
            import pyspark
        except ImportError:
            fail("set SPARK_HOME to a Spark 4 installation")
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build(root, jars):
    """Compile program + benchmark once per source hash; return the
    classes directory."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no program sources under src/main/scala: run from the repository root")
    sources += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    t = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jars] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    print(f"built {classes} in {time.time() - t:.1f} s", file=sys.stderr)
    return classes


def run_jvm(root, classes, jars, args, work, out):
    cores = len(os.sched_getaffinity(0))
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"), jars])
    cmd = (["java"] + ADD_OPENS + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--cores", str(cores)])
    os.makedirs(os.path.join(work, "tmp"))
    log = open(os.path.join(work, "jvm.log"), "wb")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = "timeout"
    finally:
        log.close()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-6000:])
        fail(f"benchmark JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


def oracle_failures(raw):
    """Queries whose dumped result differs from the DuckDB oracle over
    the same tables (the comparison rules of tools/parity.py)."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(raw["data_dir"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in raw["oracle"].items():
        try:
            got = con.execute(
                f"SELECT * FROM '{raw['results_dir']}/{name}/*.parquet'").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # a failed oracle or a missing result
            bad[name] = str(e)[:200]
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            bad[name] = "columns differ"
        elif list(got.dtypes) != list(exp.dtypes):
            bad[name] = "dtypes differ"
        elif len(got) != len(exp):
            bad[name] = f"rows {len(got)} vs {len(exp)}"
        elif not (got.sort_values(by=list(got.columns), ignore_index=True).equals(
                exp.sort_values(by=list(exp.columns), ignore_index=True))):
            bad[name] = "values differ"
    return bad


def evaluate_ingest(raw, trace):
    steps, msgs = raw["steps"], raw["step_msgs"]
    problems = []
    c, g = raw["check"], raw["generated"]
    if c["sink_rows"] != c["batch_rows"] or c["sink_minus_batch"] or c["batch_minus_sink"]:
        problems.append(f"streaming sink != batch fold: {c}")
    ok, residual = benchlib.reconcile(g, c["enveloped"])
    if not ok:
        problems.append(f"messages in != enveloped + drops (residual {residual}): {g} {c}")
    e2e = {
        "items_per_s": sum(msgs) / (sum(steps) / 1e3),
        "step_ms": statistics.median(steps),
        "cpu_ms_per_item": raw["cpu_s"] * 1e3 / sum(msgs),
    }
    layers, details = {}, {}
    if trace:
        layers, failures = benchlib.ingest_layers(raw, e2e["step_ms"], e2e["items_per_s"])
        problems += failures
        details = {"per_batch": raw["trace"]["listener"]["progress"]}
    # the checks cover the whole log, so a failed check fails every step
    return len(steps), len(steps) if problems else 0, problems, e2e, layers, details


def evaluate_queries(raw, trace):
    timed = raw["queries"]
    every = timed + (raw["trace"].get("queries", []) if trace else [])
    first = {}
    bad_exec = set()
    for q in every:
        ref = first.setdefault(q["query"], (q["hash"], q["rows"]))
        if (q["hash"], q["rows"]) != ref:
            bad_exec.add((q["query"], q["round"]))
    problems = [f"{q} round {r}: result hash differs from the first timed round"
                for q, r in sorted(bad_exec)]
    bad_oracle = oracle_failures(raw)
    problems += [f"{q}: DuckDB oracle mismatch: {why}" for q, why in sorted(bad_oracle.items())]
    failed = sum(1 for q in timed
                 if (q["query"], q["round"]) in bad_exec or q["query"] in bad_oracle)
    walls = [q["wall_ms"] for q in timed]
    e2e = {
        "items_per_s": len(walls) / (sum(walls) / 1e3),
        "step_ms": benchlib.typical_query_ms(timed),
        "cpu_ms_per_item": raw["cpu_s"] * 1e3 / len(walls),
    }
    layers, details = {}, {}
    if trace:
        layers, rows, failures = benchlib.query_layers(raw, e2e["step_ms"])
        problems += failures
        details = {"per_query": rows}
    return len(walls), failed, problems, e2e, layers, details


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(root, jars)

    out_root = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = {}
        if args.workload == "query_mix":
            inputs["tables"] = tables.write(os.path.join(work, "data"), args.seed)
        raw = run_jvm(root, classes, jars, args, work, os.path.join(work, "raw.json"))
        evaluate = evaluate_queries if args.workload == "query_mix" else evaluate_ingest
        attempted, failed, problems, e2e, layers, details = evaluate(raw, args.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e["setup_s"] = statistics.median(raw["setup_s"])
    e2e["live_heap_mb"] = raw["live_heap_mb"]
    if args.trace:
        # layers a workload does not have read 0
        layers["setup.process_s"] = raw["process_to_first_op_s"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        with open(os.path.join(out_root, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "settings": raw["settings"],
                       "layers": layers, "problems": problems, **details}, f, indent=1)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print("phases: " + " ".join(f"{m['phase']}={m['s']:.1f}s" for m in raw["marks"]),
          file=sys.stderr)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print("settings: " + json.dumps(raw["settings"], sort_keys=True))
    if args.workload == "query_mix":
        timings = {}
        for q in raw["queries"]:
            timings.setdefault(q["query"] + "_ms", []).append(q["wall_ms"])
    else:
        timings = {"step_ms": raw["steps"]}
    timings["setup_s"] = raw["setup_s"]
    print("samples: " + json.dumps({k: dict(benchlib.timing_summary(v), values=v)
                                    for k, v in timings.items()}))
    if args.workload != "query_mix":
        inputs = {"published": raw["generated"], "device_map_size": raw["device_map_size"]}
    print("inputs: " + json.dumps(inputs))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
