#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload rental_analytics --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/harness, which depends on the root
build) and, for corpus_x10, amplifies the base tables tenfold with
graft.tools.AmplifyFixture. Both are kept under .perfbench/ and reused.

The harness JVM (perfbench/harness) starts a session, makes a cold pass and
warm-up passes over the workload's queries, then runs timed passes for
--seconds, in an order shuffled by --seed. This script checks every result
against perfbench/expected/ (row counts of every execution, plus a
full-result digest once per run), and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics of the
traced passes for --trace 1. The full per-pass and per-query record goes
to .perfbench/results/<workload>-s<seed>-t<trace>.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DIMS = {"region", "nation"}  # AmplifyFixture copies these once
AMPLIFY = 10
RUN_LIMIT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when started outside spark-submit; the root
# build.sbt passes the same list to its forked runs.
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


# ---- build ---------------------------------------------------------------

def source_stamp():
    """Digest of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    inputs = []
    for build in (ROOT, os.path.join(HERE, "harness")):
        inputs += [os.path.join(build, "build.sbt")]
        inputs += sorted(glob.glob(os.path.join(build, "project", "*.*")))
        for dirpath, dirnames, files in os.walk(os.path.join(build, "src", "main")):
            dirnames.sort()
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """(classpath of the harness, whether it was compiled just now)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: no engine sources here (run from the repository root)")
    out = os.path.join(WORK, "build")
    stamp_file = os.path.join(out, "classpath.json")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], False
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log("building engine and harness with sbt")
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        proc = run_bounded(cmd, os.path.join(HERE, "harness"), env, logf, 850,
                           capture=True)
    lines = [l.strip() for l in proc.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if "perfbench" not in cp or ":" not in cp:
        raise SystemExit(f"perfbench: sbt build failed, see {out}/sbt.log")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp, True


def run_bounded(cmd, cwd, env, logf, limit_s, capture=False):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else logf,
                            stderr=logf, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {cmd[0]} exceeded {limit_s} s")
    if capture:
        logf.write(out)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: {' '.join(cmd[:2])}... exited {proc.returncode}")
    return out


def java(cp, main, args, heap, env_extra, logf, limit_s):
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            "-cp", cp, main] + args)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_RENTAL_CSV": os.path.join(ROOT, "data", "rental_raw.csv"),
        "SPARK_GRAFT_GEOJSON": os.path.join(ROOT, "data", "voivodeships.geojson"),
    })
    fixtures = os.path.join(ROOT, "fixtures")
    for var, name in [("IVF_CENTROIDS", "ivf_centroids.parquet"),
                      ("PQ_CODEBOOKS", "pq_codebooks.parquet"),
                      ("SEMANTIC_CENTROIDS", "ivf_centroids_k256.parquet"),
                      ("ZIPF", "zipf_corpus.parquet"),
                      ("ZIPF_CLONES", "zipf_corpus_clones.parquet"),
                      ("IMAGES", "images"), ("IMAGE_MANIFEST", "image_manifest.parquet"),
                      ("AUDIO", "audio"), ("AUDIO_MANIFEST", "audio_manifest.parquet")]:
        env["SPARK_GRAFT_" + var] = os.path.join(fixtures, name)
    env.update(env_extra)
    run_bounded(cmd, ROOT, env, logf, limit_s)


# ---- data ----------------------------------------------------------------

def table_rows(path):
    import pyarrow.parquet as pq
    files = [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return -1
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def data_dir(kind, cp, logf, deadline):
    base = os.path.join(HERE, "data", "sf0.01")
    if kind == "sf0.01":
        return base, False
    dest = os.path.join(WORK, "data", "x10")

    def counts_ok():
        return all(table_rows(os.path.join(dest, f"{t}.parquet")) ==
                   table_rows(os.path.join(base, f"{t}.parquet")) * (1 if t in DIMS else AMPLIFY)
                   for t in TABLES)
    if os.path.isdir(dest) and counts_ok():
        return dest, False
    shutil.rmtree(dest, ignore_errors=True)
    log("amplifying the base tables x10")
    java(cp, "graft.tools.AmplifyFixture", [base, dest, str(AMPLIFY)], HEAP, {}, logf,
         max(60, deadline - time.time()))
    if not counts_ok():
        raise SystemExit("perfbench: amplified tables do not hold 10x the base rows")
    return dest, True


# ---- results -------------------------------------------------------------

def frame_digest(df):
    """Digest of a result as the DuckDB oracle compare sees it: columns in
    name order, every cell as its pandas string form, rows in result order."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True).astype(str)
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


def dump_digest(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return frame_digest(pd.concat([pd.read_parquet(f) for f in files]))


def check(res, queries, expected, dump):
    """(attempted, failures) over every execution of the run."""
    failures = list(res["errors"])
    attempted = len(res["errors"])
    for name in queries:
        attempted += 1
        got = dump_digest(os.path.join(dump, name))
        if got != expected[name]["digest"]:
            failures.append(f"digest {name}: {got} != {expected[name]['digest']}")
    execs = [q for q in res["setup_queries"] if q["round"] > 0]
    execs += [q for p in res["passes"] for q in p["queries"]]
    for q in execs:
        if q["count"] is None:
            continue  # its exception is already in errors
        attempted += 1
        if q["count"] != expected[q["name"]]["rows"]:
            failures.append(f"count {q['name']}: {q['count']} != {expected[q['name']]['rows']}")
    return attempted, failures


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    """Set-up time, median pass, and the 50th and 90th percentile over the
    workload's queries of each query's median wall time across passes."""
    passes = res["passes"]
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["build_s"] + q["exec_s"])
    typical = sorted(med(v) for v in per_query.values())
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (med([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": (med(typical), "s"),
        "query_p90_s": (statistics.quantiles(typical, n=10, method="inclusive")[8], "s"),
    }


def pass_layers(p, ncores):
    """Per-layer totals of one pass, over its traced executions."""
    qs = [q for q in p["queries"] if q["traced"]]

    def tot(k):
        return sum(q[k] for q in qs)

    def host(k):  # -1 marks a /proc source that could not be read
        return -1.0 if any(q[k] < 0 for q in qs) else tot(k)
    wall = p["traced_wall_s"]
    return {
        "queries.build_s": (tot("build_s"), "s"),
        "queries.build_share": (tot("build_s") / wall, "ratio"),
        "ops.build_jobs": (tot("build_jobs"), "count"),
        "plans.plan_s": (tot("plan_s"), "s"),
        "plans.plan_nodes": (tot("plan_nodes"), "count"),
        "spark.jobs": (tot("jobs"), "count"),
        "spark.stages": (tot("stages"), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.tasks_per_stage_p50": (p["tasks_per_stage_p50"], "count"),
        "spark.driver_gap_s": (tot("driver_gap_s"), "s"),
        "spark.exec_s": (tot("exec_s"), "s"),
        "spark.task_run_s": (tot("task_run_s"), "s"),
        "spark.task_cpu_s": (tot("task_cpu_s"), "s"),
        "spark.core_busy_frac": (tot("task_run_s") / (ncores * wall), "ratio"),
        "spark.shuffle_write_mb": (tot("shuffle_write_mb"), "MiB"),
        "spark.shuffle_read_mb": (tot("shuffle_read_mb"), "MiB"),
        "spark.spill_mb": (tot("spill_mb"), "MiB"),
        "spark.peak_exec_mem_mb": (max(q["peak_exec_mem_mb"] for q in qs), "MiB"),
        "spark.input_rows": (tot("input_rows"), "count"),
        "spark.output_mb": (tot("output_mb"), "MiB"),
        "ops.store_mb": (tot("store_mb"), "MiB"),
        "jvm.gc_s": (tot("gc_s"), "s"),
        "jvm.jit_s": (tot("jit_s"), "s"),
        "jvm.codegen_compiles": (tot("codegen_compiles"), "count"),
        "jvm.heap_live_mb": (p["heap_live_mb"], "MiB"),
        "jvm.heap_gc_peak_mb": (p["heap_gc_peak_mb"], "MiB"),
        "host.steal_s": (host("steal_s"), "s"),
        "host.runq_s": (host("runq_s"), "s"),
    }


def overhead_ratios(res):
    """traced / untraced wall time of each query's pair of executions."""
    ratios = []
    for p in res["passes"]:
        sides = {}
        for q in p["queries"]:
            if q["count"] is not None:
                sides.setdefault(q["name"], {})[q["traced"]] = q["build_s"] + q["exec_s"]
        ratios += [s[True] / s[False] for s in sides.values() if len(s) == 2]
    return ratios


def per_layer(res):
    ncores = int(res["cores"])
    rows = [pass_layers(p, ncores) for p in res["passes"]]
    out = {k: (med([r[k][0] for r in rows]), rows[0][k][1]) for k in rows[0]}
    out["engine.session_start_s"] = (res["session_start_s"], "s")
    out["trace.pass_s"] = (med([p["traced_wall_s"] for p in res["passes"]]), "s")
    out["trace.untraced_pass_s"] = (med([p["wall_s"] for p in res["passes"]]), "s")
    out["trace.overhead_frac"] = (med(overhead_ratios(res)) - 1, "ratio")
    return out, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    wl = workloads().get(a.workload)
    if wl is None:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    with open(os.path.join(HERE, "expected", f"{a.workload}.json")) as f:
        expected = json.load(f)

    cp, built = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        data, amplified = data_dir(wl["data"], cp, logf, t_start + 850)
        # The run that builds or amplifies may take 900 s in all; others 180 s.
        limit = (880 if built or amplified else RUN_LIMIT_S) - (time.time() - t_start)
        dump = os.path.join(run_dir, "dump")
        out = os.path.join(run_dir, "harness.json")
        java(cp, "perfbench.Harness", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()), "--data", data,
            "--queries", ",".join(wl["queries"]),
            "--dump", dump, "--out", out,
        ], HEAP, {"SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "stores")}, logf, limit)
    with open(out) as f:
        res = json.load(f)
    attempted, failures = check(res, wl["queries"], expected, dump)
    for msg in failures[:20]:
        log(f"FAIL {msg}")

    if a.trace:
        metrics, rows = per_layer(res)
    else:
        metrics, rows = end_to_end(res), None
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"harness": res, "failures": failures,
                   "metrics": {k: v[0] for k, v in metrics.items()},
                   "traced_pass_metrics": rows and [{k: v[0] for k, v in r.items()} for r in rows]},
                  f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
