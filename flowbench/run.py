#!/usr/bin/env python3
"""Flow benchmark: one workload, one seed, one JSON line.

    python3 flowbench/run.py --workload ingest_parquet --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, in this directory); later runs reuse the build
while the sources are unchanged. Each run then

  1. generates the workload's inputs from the seed (gen.py),
  2. starts one JVM (FlowBench.scala) that sets up a Spark session, warms
     up, and runs ceil(--seconds / 5) whole rounds of the workload,
  3. checks every output against DuckDB over the same generated inputs,
  4. prints, as its last line, {"correct", "attempted", "failed", "metrics"}:
     the end-to-end metrics with --trace 0, the per-layer ones with --trace 1
     (also written to flowbench/.work/last-trace-<workload>.json).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import check  # noqa: E402

WORKLOADS = ("ingest_parquet", "upsert_jdbc", "query_mix")
END_TO_END = {"throughput_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
# Per-layer metrics of a traced run, with their units (README has the table
# of which end-to-end metric each should move, on which workload).
PER_LAYER = {
    "sources.scan_ms_per_krow": "ms", "sources.list_ms": "ms", "sources.files": "count",
    "pipeline.decode_ms_per_krow": "ms", "pipeline.rows_in": "count",
    "pipeline.rows_malformed": "count", "pipeline.rows_out": "count",
    "pipeline.rows_out_per_in": "ratio",
    "sinks.parquet_ms_per_krow": "ms", "sinks.parquet_bytes_per_row": "B",
    "sinks.parquet_files": "count", "sinks.upsert_ms_per_krow": "ms",
    "sinks.upsert_table_rows": "count",
    "app.batches": "count", "app.batch_ms_p50": "ms", "app.batch_ms_p90": "ms",
    "app.planning_ms": "ms", "app.commit_ms": "ms", "app.trigger_wait_ms": "ms",
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_write_bytes": "B",
    "spark.gc_ms": "ms", "spark.executor_cpu_ms": "ms",
    "setup.session_ms": "ms", "setup.generate_ms": "ms", "setup.warmup_ms": "ms",
    "trace.throughput_per_s": "1/s",
}
FAMILIES = ["core", "graph", "sim", "search", "dedup", "text", "stream", "mix", "curate",
            "mm", "chunk", "link", "pack", "pipeline", "flow"]
for _f in FAMILIES:
    PER_LAYER[f"queries.{_f}.ms"] = "ms"
    PER_LAYER[f"queries.{_f}.jobs"] = "count"
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170  # the whole run, build excluded


def log(msg):
    print(f"[flowbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program's sources and the harness; returns the classpath."""
    jars = os.path.join(spark_home(), "jars")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "flowbench.stamp")
    digest = sources_digest()
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        log("building program + harness (sbt compile)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit("build failed")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return f"{classes}:{jars}/*"


def spark_home():
    """The Spark install whose jars the program compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("Spark not found: set SPARK_HOME to a Spark install")
    return home


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def run_jvm(classpath, workload, work, seconds, trace, deadline, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a fixed heap and young generation: G1's adaptive sizing
           # otherwise moves peak RSS by 10% between runs of the same code
           ["-Xms3g", "-Xmx3g", "-Xmn768m", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "flowbench.FlowBench",
            "--workload", workload, "--work", work, "--seconds", str(seconds),
            "--trace", "1" if trace else "0"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark JVM exceeded the run time limit")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed with exit code {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    # reference figures only (README); the benchmark's own runs use neither
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark cores (default: min(4, nproc))")
    ap.add_argument("--records", type=int, help="override the workload's record count")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources next to the benchmark: run from a checkout")

    classpath = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    load0 = loadavg()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        g0 = time.perf_counter()
        gen.generate(a.workload, a.seed, os.path.join(work, "in"), a.records)
        generate_ms = (time.perf_counter() - g0) * 1000
        res = run_jvm(classpath, a.workload, work, a.seconds, a.trace == 1, deadline, a.cores)
        c0 = time.perf_counter()
        verdict = check.run(a.workload, work, res)
        check_s = time.perf_counter() - c0
        load1 = loadavg()

        n_rounds = len(res["rounds"]) if "rounds" in res else res["passes"]
        if a.workload == "query_mix":
            throughput = res["passes"] * len(res["ops"]) / (res["spent_ms"] / 1000)
        else:
            throughput = (sum(r["rows_in"] for r in res["rounds"]) /
                          (sum(r["wall_ms"] for r in res["rounds"]) / 1000))
        e2e = {
            "throughput_per_s": throughput,
            "cpu_s": res["cpu_s"] / n_rounds,
            "peak_rss_mb": res["peak_rss_mb"],
            "setup_s": (generate_ms + res["session_ms"] + res["warmup_ms"]) / 1000,
        }
        detail = {"workload": a.workload, "seed": a.seed, "rounds": n_rounds,
                  "batch_ms": [r["batch_ms"] for r in res.get("rounds", [])],
                  "load_start": load0, "load_end": load1, "generate_ms": generate_ms,
                  "session_ms": res["session_ms"], "warmup_ms": res["warmup_ms"],
                  "check_s": check_s, "run_s": time.time() - t_start, "check": verdict["notes"]}
        if a.trace:
            # every per-layer name is reported; a layer the workload does not run reads 0
            layer = dict.fromkeys(PER_LAYER, 0.0)
            layer.update(res["trace"])
            layer.update({"setup.session_ms": res["session_ms"], "setup.generate_ms": generate_ms,
                          "setup.warmup_ms": res["warmup_ms"]})
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in sorted(layer.items())}
            side = os.path.join(HERE, ".work", f"last-trace-{a.workload}.json")
            with open(side, "w") as fh:
                json.dump({"detail": detail, "end_to_end": e2e, "per_layer": layer,
                           "spans": json.load(open(os.path.join(work, "spans.json")))}, fh)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": verdict["correct"], "attempted": verdict["attempted"],
                          "failed": verdict["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
