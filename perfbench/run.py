#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, report.

    python3 perfbench/run.py --workload point_lookup --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark package from source (perfbench/build.sbt, outputs under
.bench_build/); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from --seed (perfbench/gen.py),
starts one JVM with one local SparkSession, measures the workload for
--seconds, checks every answer, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics (spans written to the run directory).
A human-readable report goes to stderr.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_build", "runs")
WORKLOADS = ("point_lookup", "batch")

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input to the build (engine and benchmark sources)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "/target" not in d)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source digest; return classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/",
             2)
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else ""))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=880)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip(), digest


def run_jvm(cp, args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # fixed heap and young-generation sizes: peak RSS then follows the
    # live data rather than when the collector chose to grow the heap
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.level=ERROR"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root", 2)
    bench = json.load(open(spec_path))
    cp, digest = build()

    run_dir = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir,
                                                                 "work")
    sys.path.insert(0, HERE)
    import gen
    t0 = time.time()
    gen.main(a.workload, a.seed, inputs)
    gen_s = time.time() - t0

    budget = 175 - (time.time() - t_start)
    rc = run_jvm(cp, ["--workload", a.workload, "--inputs", inputs,
                      "--work", work, "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--seed", str(a.seed),
                      "--commit", digest[:16]], work, budget)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"workload run failed (exit {rc})", 4)
    res = json.load(open(result_path))

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in bench[section]:
        v = res[section].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    # every end-to-end number the run measured, gated by BENCHMARK.json or
    # not (wall-clock latency and throughput follow co-tenant load)
    report = dict(res["report"], end_to_end=res["end_to_end"],
                  evidence=res["evidence"], inputs_s=round(gen_s, 3),
                  wall_s=round(time.time() - t_start, 3))
    print(json.dumps(report, indent=1, default=str), file=sys.stderr)
    # keep the run's record (result, spans, per-op counters, log), drop data
    shutil.rmtree(inputs, ignore_errors=True)
    for d in os.listdir(work):
        p = os.path.join(work, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
