#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {algebra,curation}
      --seed N --seconds S --trace {0,1}

A run builds the harness and graft's main sources (cached by a digest of
the sources), generates the input tables from the seed, runs one JVM
(perfbench/src/main/scala/graftbench/Main.scala) with Spark on
local[<cores>], then checks every query's output against its DuckDB
oracle with the canon of scripts/check_oracle.py. It prints each metric
as "name value unit" and, as the last line of standard output, one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones. The
run's full record (per-query walls, layer split, plan census, spans,
storm readings) goes to perfbench/.work/runs/.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("algebra", "curation")
# Scale of the generated tables: sf0.01 keeps a pass of each workload to a
# few seconds at 4 cores (see perfbench/README.md, "Scale").
SF = 0.01
JVM_DEADLINE_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# (name, unit), in print order
END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"),
    ("query_p95_s", "s"), ("correct_frac", "ratio"), ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
    ("queries.construct_task_cpu_s", "s"),
    ("core.build_ms", "ms"), ("core.result_ms", "ms"),
    ("core.build_jobs", "count"),
    ("plan.joins", "count"), ("plan.scans", "count"),
    ("plan.redundant_scans", "count"), ("plan.exchanges", "count"),
    ("plan.aggregates", "count"), ("plan.windows", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"), ("exec.cpu_util", "ratio"), ("exec.gc_s", "s"),
    ("exec.fetch_wait_s", "s"), ("exec.task_failures", "count"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.peak_exec_mem_mb", "MB"),
    ("trace.overhead_s", "s"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def checkout_ok():
    need = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
            "scripts/check_oracle.py"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        die(f"not a graft checkout (missing {', '.join(missing)}); "
            "run from the repository root")


def digest():
    """content digest of everything the harness classpath is built from"""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """the local Spark install whose jars the harness compiles against:
    SPARK_HOME, else the first spark-submit on PATH that sits in one"""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark install found; set SPARK_HOME", 1)


def build():
    """compile once per source digest; returns the runtime classpath"""
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    want = digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as c:
                    return c.read()
    log("building the harness (sbt compile)")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S,
            env=dict(os.environ, SPARK_HOME=spark_home()))
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}", 1)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and "classes" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 1)
    with open(cp_file, "w") as c:
        c.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1].strip()


def data_dir(seed, sf=SF):
    """the generated tables for (sf, seed), made on first use"""
    d = os.path.join(WORK, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, "embeddings.parquet")):
        spec = importlib.util.spec_from_file_location(
            "gendata", os.path.join(HERE, "gendata.py"))
        gen = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gen)
        gen.main(d, sf, seed)
    return d


def run_jvm(cp, args, data, out, cores, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # parallel GC with a fixed young generation: the touched heap, and so
    # peak RSS, depends on what the run keeps alive, not on G1's adaptive
    # region placement
    cmd += ["-XX:+UseParallelGC", "-Xmx3g", "-Xmn768m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", out, "--cores", str(cores)]
    env = dict(os.environ, SPARK_GRAFT_TMP=tmp)
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, cwd=out)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the JVM ran past its deadline", 1)
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"the JVM failed (exit {rc})", 1)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def load_canon():
    """scripts/check_oracle.py's comparison canon, the repository's one
    definition of "same rows" for oracle checks"""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def oracle_check(res, data, verify):
    """name -> reason for every query whose checked output is wrong"""
    import duckdb
    import pandas as pd
    canon = load_canon()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = {}
    for name in res["queries"]:
        if name in res["verify_failed"]:
            bad[name] = "threw: " + res["verify_failed"][name]
            continue
        sql = res["oracle"].get(name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        d = os.path.join(verify, name)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        got = pd.concat([pd.read_parquet(os.path.join(d, f)) for f in files])
        try:
            want = con.sql(sql.replace("{data}", data)).df()
        except Exception as e:  # an oracle that cannot run checks nothing
            bad[name] = f"oracle SQL error: {e}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            bad[name] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} vs {len(want)}"
        elif canon(got) != canon(want):
            bad[name] = "values differ"
    con.close()
    return bad


def median(xs):
    return float(np.median(xs)) if xs else float("nan")


def end_to_end(res, wrong):
    walls = [sum(r["wall_s"] for r in p) for p in res["passes"]]
    samples = [r["wall_s"] for p in res["passes"] for r in p]
    n = len(res["queries"])
    return {
        "setup_s": res["setup_s"],
        "wall_s": median(walls),
        "query_p50_s": float(np.percentile(samples, 50)),
        "query_p95_s": float(np.percentile(samples, 95)),
        "correct_frac": (n - len(wrong)) / n,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, cores):
    """each field: the median over a query's traced runs, summed over the
    workload's queries (peak memory: the largest of the medians)"""
    runs = {}
    for q in res["layers"]:
        runs.setdefault(q["query"], []).append(q)

    def field(f, graph=None, agg=sum):
        return float(agg(median([f(r) for r in rs]) for rs in runs.values()
                         if graph is None or rs[0]["graph"] == graph))

    ex = lambda k: field(lambda r: r["exec"][k])  # noqa: E731
    cen = lambda k: field(lambda r: r["census"][k])  # noqa: E731
    exec_s = field(lambda r: r["exec_s"])
    m = {
        "queries.construct_s": field(lambda r: r["construct_s"], False),
        "queries.construct_jobs": field(lambda r: r["construct"]["jobs"], False),
        "queries.construct_task_cpu_s":
            field(lambda r: r["construct"]["task_cpu_s"], False),
        "core.build_ms": field(lambda r: r["build_ms"], True),
        "core.result_ms": field(lambda r: r["result_ms"], True),
        "core.build_jobs": field(lambda r: r["construct"]["jobs"], True),
        "plan.joins": cen("joins"), "plan.scans": cen("scans"),
        "plan.redundant_scans": cen("redundant_scans"),
        "plan.exchanges": cen("exchanges"),
        "plan.aggregates": cen("aggregates"), "plan.windows": cen("windows"),
        "catalyst.analysis_ms": field(lambda r: r["analysis_ms"]),
        "catalyst.optimization_ms": field(lambda r: r["optimization_ms"]),
        "catalyst.planning_ms": field(lambda r: r["planning_ms"]),
        "exec.s": exec_s, "exec.jobs": ex("jobs"),
        "exec.stages": ex("stages"), "exec.tasks": ex("tasks"),
        "exec.task_run_s": ex("task_run_s"), "exec.task_cpu_s": ex("task_cpu_s"),
        "exec.cpu_util": ex("task_cpu_s") / (exec_s * cores) if exec_s else 0.0,
        "exec.gc_s": ex("gc_s"), "exec.fetch_wait_s": ex("fetch_wait_s"),
        "exec.task_failures": ex("task_failures"),
        "exec.shuffle_write_mb": ex("shuffle_write_mb"),
        "exec.shuffle_read_mb": ex("shuffle_read_mb"),
        "exec.spill_mb": ex("spill_mb"),
        "exec.peak_exec_mem_mb": field(lambda r: r["peak_exec_mem_mb"], agg=max),
    }
    # traced minus untraced wall: per query the median of each kind
    by_kind = {}
    for p in res["passes"]:
        for r in p:
            by_kind.setdefault((r["query"], r["traced"]), []).append(r["wall_s"])
    names = {q for q, _ in by_kind}
    m["trace.overhead_s"] = sum(
        median(by_kind.get((q, True), [0.0])) -
        median(by_kind.get((q, False), [0.0])) for q in names)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    start = time.time()
    checkout_ok()
    cp = build()
    # a run that had to build gets its full budget after the build
    deadline = start + JVM_DEADLINE_S + (time.time() - start)
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(WORK, "runs", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    data = data_dir(args.seed)
    res = run_jvm(cp, args, data, out, cores, deadline)
    bad = oracle_check(res, data, os.path.join(out, "verify"))
    for name, why in bad.items():
        log(f"WRONG {name}: {why}")
    threw = res["failed_runs"]
    # a query is wrong when its checked output differs or any run threw
    wrong = set(bad) | set(res["failed"])
    metrics = per_layer(res, cores) if args.trace else end_to_end(res, wrong)
    samples = {"passes": len(res["passes"]),
               "query_runs": sum(len(p) for p in res["passes"])}
    units = dict(PER_LAYER if args.trace else END_TO_END)
    assert set(metrics) == set(units), "metric list out of sync"
    storm = res["storm"]
    record = {"workload": args.workload, "seed": args.seed, "sf": SF,
              "cores": cores, "trace": args.trace, "metrics": metrics,
              "samples": samples, "storm": storm, "wrong": bad,
              "threw": res["failed"],
              "passes": res["passes"], "setup_s": res["setup_s"],
              "session_s": res["session_s"], "warmup": res["warmup"],
              "layers": res["layers"], "spans": res["spans"]}
    with open(os.path.join(WORK, "runs", tag + ".json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(out, ignore_errors=True)
    print(f"storm steal_iowait_frac={storm['steal_iowait_frac']:.4f} "
          f"task_run_cpu_ratio={storm['task_run_cpu_ratio']:.3f}")
    print(f"samples passes={samples['passes']} "
          f"query_runs={samples['query_runs']}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not wrong,
        "attempted": res["attempted"],
        "failed": threw + len(bad),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
