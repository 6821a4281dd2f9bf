#!/usr/bin/env python3
"""Layer benchmark of the graft engine: one workload, one seed, one run.

  python3 layerbench/run.py --workload caltopo_etl|llm_dedup \
      --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark
harness from source with the Scala compiler shipped in Spark's jars (cached
under .bench_build/ by a hash of the sources), generates the seed's inputs
(layerbench/gen.py, cached per seed), runs the workload in a fresh JVM,
checks every output, and prints one JSON line last:

  {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The exit code is 0 only if every output check passed. See
layerbench/README.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("caltopo_etl", "llm_dedup")
DEFAULT_SEED = 1

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "tick_p50_s": "s",
}
PER_LAYER = {
    "setup.boot_s": "s", "setup.session_s": "s", "setup.load_s": "s",
    "setup.generate_s": "s", "setup.warm_s": "s",
    "sources.http_gets": "count", "sources.http_posts": "count",
    "sources.http_in_mb": "MB", "sources.http_out_mb": "MB",
    "sources.fetch_retries": "count", "sources.post_retries": "count",
    "sources.scan_s": "s", "sources.decode_s": "s", "sources.sink_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.exec_s": "s", "queries.exec_jobs": "count", "queries.tick_p90_s": "s",
    "operators.dedup_s": "s", "operators.knn_s": "s", "operators.caltopo_s": "s",
    "operators.minhash_ns_row": "ns/row",
    "operators.coord_truncate_ns_row": "ns/row",
    "functions.gram_hash_ns_row": "ns/row", "functions.dot_ns_row": "ns/row",
    "functions.lsh_buckets_ns_row": "ns/row",
    "plans.plan_s": "s", "plans.exchanges": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_only_s": "s", "spark.task_cpu_s": "s", "spark.task_run_s": "s",
    "spark.slot_util": "ratio", "spark.sched_delay_s": "s",
    "spark.fetch_wait_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB", "spark.task_failures": "count",
    "spark.codegen_compiles": "count", "spark.codegen_s": "s",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "jvm.process_cpu_s": "s", "trace.overhead_s": "s",
    "failed_ratio": "ratio",
}
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
HEAP = "4g"
RUN_LIMIT_S = 175


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: build.sbt's unmanagedBase, else SPARK_HOME."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d):
            return sorted(os.path.join(d, j) for j in os.listdir(d)
                          if j.endswith(".jar"))
    die("no Spark jars found (build.sbt unmanagedBase or SPARK_HOME)")


def scala_sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile main sources plus the harness; reuse a build of the same sources."""
    sources = scala_sources()
    h = hashlib.sha256()
    for path in sources + [j for j in jars if "scala-" in os.path.basename(j)]:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        if path in sources:
            with open(path, "rb") as f:
                h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes
    log(f"compiling {len(sources)} Scala files")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "jtmp"))
    cp = os.pathsep.join(jars)
    t0 = time.perf_counter()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         f"-Djava.io.tmpdir={tmp}/jtmp", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + sources,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        die("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(os.path.join(tmp, "jtmp"))
    with open(os.path.join(tmp, "BUILD_OK"), "w") as f:
        f.write(f"{time.perf_counter() - t0:.1f}\n")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    log(f"compiled in {time.perf_counter() - t0:.1f} s")
    return classes


def run_jvm(classes, jars, workload, data, work, seconds, trace, corrupt, limit):
    """Run the harness in a fresh JVM; returns its raw JSON result."""
    out = os.path.join(work, "harness.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = [classes]
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        cp.append(resources)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData"] + opens +
           [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(cp + jars), "graft.layerbench.LayerBench",
            "--workload", workload, "--data", data, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--corrupt", "1" if corrupt else "0"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd + ["--launch-ns", str(time.time_ns())],
                                cwd=work, env=env, stdout=logf, stderr=logf)
        try:
            proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness exceeded {limit:.0f} s; see {work}/jvm.log")
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"harness exited {proc.returncode}; see {work}/jvm.log")
    with open(out) as f:
        return json.load(f)


def oracle_check(tables, results):
    """(queries checked, names whose result differs from the DuckDB oracle),
    judged by scripts/selfcheck.py's compare rules."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"),
         tables, results], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=120)
    with open(os.path.join(os.path.dirname(results), "selfcheck.log"), "w") as f:
        f.write(r.stdout)
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    with open(os.path.join(results, "oracle_sql.json")) as f:
        names = set(json.load(f))
    return len(names), sorted(names - passed)


def metric(value, unit):
    return {"value": float(value), "unit": unit}


def summarize(raw, manifest, trace, checked, oracle_failed):
    """The result line. Every op execution of the run counts as attempted:
    warm, measured and traced passes, plus one per query of the result pass.
    A query whose result fails its oracle check failed in every execution."""
    passes = raw["passes"]
    lat = sorted(o["latency_s"] for p in passes for o in p["ops"])
    executions = [o for p in raw["warm"] + passes + raw.get("traced_passes", [])
                  for o in p["ops"]]
    failed_ops = [o for o in executions
                  if o["error"] or o["name"] in oracle_failed]
    attempted = len(executions) + checked
    failed = len(failed_ops) + len(oracle_failed)
    for o in failed_ops[:5]:
        log(f"FAILED {o['name']}: {o['error'] or 'output differs from oracle'}")
    if trace:
        layers = dict(raw["per_layer"])
        layers["setup.generate_s"] = manifest["generate_s"]
        layers["failed_ratio"] = failed / attempted
        # about two samples lie beyond it per run: too few for an
        # end-to-end metric (its spread between runs reached 0.30)
        layers["queries.tick_p90_s"] = statistics.quantiles(lat, n=10)[8]
        metrics = {k: metric(layers[k], u) for k, u in PER_LAYER.items()}
    else:
        walls = [p["wall_s"] for p in passes]
        wall = statistics.median(walls)
        log(f"{len(passes)} passes, {len(lat)} ops, walls "
            + " ".join(f"{w:.2f}" for w in walls))
        metrics = {
            "setup_s": metric(raw["setup_s"], "s"),
            "wall_s": metric(wall, "s"),
            "rows_per_s": metric(raw["rows_per_pass"] / wall, "rows/s"),
            "tick_p50_s": metric(statistics.median(lat), "s"),
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description="graft layer benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one posted feature per caltopo tick")
    args = ap.parse_args()
    t_start = time.monotonic()
    for need in ("build.sbt", "src/main/scala", "scripts/selfcheck.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    jars = spark_jars()
    classes = build(jars)
    t_run = time.monotonic()
    data = os.path.join(BUILD, "data", f"seed-{args.seed}")
    manifest = gen.ensure(args.seed, data)
    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    limit = RUN_LIMIT_S - (time.monotonic() - t_run) - 15
    raw = run_jvm(classes, jars, args.workload, data, work, args.seconds,
                  args.trace, args.corrupt, limit)
    if "fatal" in raw:
        die(f"harness failed: {raw['fatal']}")
    checked, oracle_failed = 0, []
    if "results_dir" in raw:
        checked, oracle_failed = oracle_check(os.path.join(data, "tables"),
                                              raw["results_dir"])
    for sub in ("tmp", "local", "results"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    result = summarize(raw, manifest, args.trace, checked, oracle_failed)
    log(f"done in {time.monotonic() - t_start:.1f} s")
    print(json.dumps(result, sort_keys=True))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
