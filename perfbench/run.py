#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <migrate_many|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt (only when a
source file changed since the last build), runs one workload in one JVM
against `graft.Engine.local(cores)`, and prints one JSON object as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the spans of the run
are written to .bench_build/traces/. Everything else goes to stderr.

Every run works in a fresh directory under .bench_build/runs/ (store
root, sink, generated catalog, Spark local dir and java.io.tmpdir) and
deletes it before exiting.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("migrate_many", "query_mix")
# A run must end within 180 s, or 900 s when it builds first.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"

# What Spark needs opened on JDK 17 outside spark-submit (the list the
# engine's build passes to its forked JVMs).
ADD_OPENS = [
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


def source_files():
    """Every file whose change calls for a rebuild."""
    out = []
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            out += [os.path.join(d, f) for f in sorted(os.listdir(d))
                    if os.path.isfile(os.path.join(d, f))]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for base, dirs, files in os.walk(d):
            dirs.sort()
            out += [os.path.join(base, f) for f in sorted(files)]
    return out


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no engine sources next to the benchmark (build.sbt, src/main/scala/graft)")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    st = stamp()
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            saved = fh.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == st:
            return saved[1].strip()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        sys.exit(2)
    out = p.stdout.decode(errors="replace")
    with open(os.path.join(WORK, "build.log"), "w") as fh:
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or not cp or not all(os.path.exists(e) for e in cp.split(os.pathsep)):
        sys.stderr.write(out[-4000:])
        log(f"build failed (exit {p.returncode}); log in {os.path.join(WORK, 'build.log')}")
        sys.exit(2)
    with open(cp_file, "w") as fh:
        fh.write(st + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    e2e, per_layer = declared()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    trace_out = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(run_dir, 'warehouse')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--bench-dir", HERE, "--trace-out", trace_out,
    ]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log(f"run exceeded {RUN_LIMIT_S} s; stopped")
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        log(f"benchmark JVM exited with {p.returncode}")
        return 3
    res = json.loads(lines[-1])
    got = res["metrics"]
    metrics = {}
    for m in (per_layer if args.trace else e2e):
        if m["name"] in got:
            metrics[m["name"]] = got[m["name"]]
        elif args.trace:
            # a layer this workload does not pass through did no work
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            log(f"end-to-end metric {m['name']} missing from the run")
            return 3
    for k in sorted(set(got) - set(metrics)):
        log(f"not declared in BENCHMARK.json, left out of the result: {k}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
