#!/usr/bin/env python3
"""Paper-path benchmark: ingest, export and curation through the library's
public entry points (graft.api.Ingest, graft.api.Export,
graft.ext.Curation), one Spark local session, one closed-loop caller.

    python3 perfbench/run.py --workload ingest_small_files --seed 1 \
        --seconds 10 --trace 0

Builds the library from ../src together with the driver in this directory
(sbt, offline) whenever their sources change, runs one JVM, and prints
every metric by name with its unit; the last stdout line is one JSON
object with the keys correct, attempted, failed and metrics. --trace 0
reports the end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer
metrics (from traced iterations interleaved with untraced ones) and writes
the span/job trace to perfbench/out/, next to the JVM's log.
"""
import argparse
import fnmatch
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
# Everything the build compiles from: the library and the driver.
BUILD_INPUTS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]
TIME_LIMIT_S = 170
BUILD_LIMIT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_digest():
    """Digest of the names and contents of every build input."""
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath of a build of the current sources: the
    recorded one if it was built from the same sources, else a fresh
    (incremental) build's."""
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            built_from, cp = (f.read().split("\n") + [""])[:2]
        # The classpath names this checkout's build directories.
        if built_from == digest and cp.startswith(os.path.join(HERE, "target")):
            return cp
    cp = build()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def build():
    """Compiles the library and the driver; returns the runtime classpath."""
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = p.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or not cp.startswith(os.path.join(HERE, "target")):
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode})")
    return cp


def required(spec, workload):
    """Per-layer metrics the workload's layers must report: spec.json
    names each metric (or a `spark.*` / `layer.<module>.busy_s` family)
    with the workload it runs on."""
    def entry(name):
        for pattern, e in spec.items():
            if fnmatch.fnmatchcase(name, pattern.replace("<module>", "*")):
                return e
        fail(f"per-layer metric {name!r} is not described in spec.json")
    return lambda name: entry(name)["on"] in ("every workload", workload)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    session = spec["session"]
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to the benchmark")

    cp = classpath()

    started = time.monotonic()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    trace_out = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    log_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.log")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    threads = min(session["max_local_threads"], len(os.sched_getaffinity(0)))
    # A fixed heap and young generation keep peak RSS from following the
    # collector's adaptive sizing.
    cmd = (["java", f"-Xms{session['driver_memory']}", f"-Xmx{session['driver_memory']}",
            f"-Xmn{session['young_memory']}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--trace-out", trace_out,
              "--master", f"local[{threads}]",
              "--shuffle-partitions", str(session["shuffle_partitions"])])
    # SPARK_LOCAL_DIRS would override spark.local.dir and write outside
    # the work directory.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=TIME_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                out = ""
                print(f"perfbench: timed out after {TIME_LIMIT_S} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode}; log in {os.path.relpath(log_path, ROOT)}")
    res = json.loads(lines[-1])

    kind = "per_layer" if args.trace else "end_to_end"
    got = res[kind]
    runs_here = required(spec["per_layer"], args.workload) if args.trace else lambda _: True
    missing = [m["name"] for m in bench[kind] if m["name"] not in got and runs_here(m["name"])]
    if missing:
        fail(f"the benchmark JVM did not report {missing}")
    unknown = sorted(set(got) - {m["name"] for m in bench[kind]})
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    for m in bench[kind]:
        # A layer the workload does not run reports 0.
        value = got.get(m["name"], 0.0)
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            fail(f"metric {m['name']} is {value!r}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {args.workload} seed {args.seed}: {res['iterations']} untraced "
          f"iterations, {time.monotonic() - started:.1f} s")
    for name, m in metrics.items():
        print(f"  {name:34s} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'failed_ops_share':34s} {failed / max(attempted, 1):>16.6g} ratio")
    for p in res["problems"]:
        print(f"  check failed: {p}")
    print(f"  log in {os.path.relpath(log_path, ROOT)}")
    if args.trace:
        print(f"  trace written to {os.path.relpath(trace_out, ROOT)}")
    print(json.dumps({"correct": bool(res["correct"]) and attempted >= 1,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
