#!/usr/bin/env python3
"""Benchmark of record for the graft lakehouse engine.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Builds the engine from source (../src/main/scala, with the benchmark's code
in perfbench/src) when the sources changed since the last build, launches one
JVM for the run outside sbt's log pipeline, checks the outputs, and prints
one JSON line last on stdout: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/LAYERS.md). The run's files
(op log, result detail, spans, query dumps, JVM logs) are kept under
perfbench/out/<workload>-s<seed>-t<trace>/.
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

import oracle  # noqa: E402
import summarize  # noqa: E402

WORKLOADS = ["ingest_small_commits", "pipeline_queries"]
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log_dir):
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    digest = source_digest()
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    with open(os.path.join(log_dir, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, env=env, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (see {os.path.join(log_dir, 'build.log')})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def java_cmd(classpath, out_dir, main, args):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classpath, main] + args)


def run_jvm(cmd, out_dir, limit):
    """Run the JVM with stdout/stderr captured to files (Spark's log lines
    and WARNs never reach this process's stdout); kill it on timeout."""
    with open(os.path.join(out_dir, "jvm.out"), "w") as o, \
            open(os.path.join(out_dir, "jvm.err"), "w") as e:
        p = subprocess.Popen(cmd, cwd=out_dir, stdout=o, stderr=e,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {limit:.0f}s (see {out_dir}/jvm.err)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    out_root = os.path.join(HERE, "out")
    os.makedirs(out_root, exist_ok=True)
    cp = build(out_root)
    # a run that had to build first may take longer; the JVM alone keeps
    # the per-run limit
    limit = max(RUN_LIMIT_S - (time.time() - t_start), RUN_LIMIT_S - 60)

    if a.selftest:
        out_dir = os.path.join(out_root, "selftest")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        rc = run_jvm(java_cmd(cp, out_dir, "perfbench.SelfTest", [out_dir]), out_dir,
                     limit * 3)
        with open(os.path.join(out_dir, "jvm.out")) as fh:
            sys.stdout.write(fh.read())
        sys.exit(rc)

    if not a.workload:
        fail("--workload is required")
    out_dir = os.path.join(out_root, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out_dir]
    rc = run_jvm(java_cmd(cp, out_dir, "perfbench.Main", args), out_dir, limit)
    res_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"run failed with exit code {rc} (see {out_dir}/jvm.err)")
    with open(res_path) as fh:
        res = json.load(fh)

    # the pipeline's query results are checked here, against DuckDB
    dumps = os.path.join(out_dir, "dumps")
    extra = oracle.compare(dumps) if os.path.isdir(dumps) else []
    res["checks"] += extra
    attempted = res["attempted"] + len(extra)
    failed = res["failed"] + sum(not c["ok"] for c in extra)
    res["detail"]["failed_frac"] = failed / attempted
    for c in res["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)

    if a.trace:
        metrics = summarize.per_layer(out_dir, res)
    else:
        metrics = summarize.end_to_end(res)
    with open(res_path, "w") as fh:
        json.dump(res, fh, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
