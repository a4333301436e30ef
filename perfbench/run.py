#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload olap|kv_live --seed N \
      --seconds S --trace 0|1

Builds the harness and the library from source when either changed
(perfbench/build.sbt, an sbt build of its own), runs the workload in one JVM
launched directly on the built classpath, with a fresh scratch root, over
the tables in perfbench/data/sf0.01 (the seed fixes the operations), checks
every output (DuckDB answers for the batch queries, an independent log fold
for kv_live) and prints one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json, with --trace 1 the per-layer ones (0 for a layer the
workload does not exercise).
The full record of the run is kept in perfbench/results/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
# the Spark installation the program builds and runs against
SPARK_HOME = os.environ.get("SPARK_HOME", "")
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
DATA = os.path.join(BENCH, "data", "sf0.01")
HEAP = "3g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """sbt compile of harness + library when the sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/")
    if not SPARK_HOME or not os.path.isdir(SPARK_JARS):
        fail("no Spark jars found: set SPARK_HOME to a Spark installation")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(args, work, out):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", args.workload, "--data", DATA,
            "--work", work, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", out]
    env = dict(os.environ, SPARK_GRAFT_LAYOUT_ROOT=f"{work}/layouts")
    if args.workload == "kv_live":
        # the live KV sink plans its stateful dedup and per-batch fold at
        # the session's shuffle partition count with AQE off; at the
        # default 256 one 8-write micro-batch takes ~30 s at local[4]
        env["SPARK_GRAFT_SHUFFLE"] = str(len(os.sched_getaffinity(0)))
    log = open(f"{work}/jvm.log", "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    try:
        p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload JVM timed out after {JVM_TIMEOUT_S} s (log in perfbench/results/)")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"workload JVM exited {p.returncode} (log in perfbench/results/)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["olap", "kv_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()

    work = os.path.join(BENCH, "work", f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    try:
        out = f"{work}/result.json"
        run_jvm(args, work, out)
        with open(out) as f:
            res = json.load(f)

        problems = list(res["errors"])
        if res["oracle_sql"]:
            sys.path.insert(0, BENCH)
            import oracle
            duck = oracle.answers(res["oracle_sql"], DATA, os.path.join(BENCH, "cache", "oracle"))
            for name in res["oracle_sql"]:
                for pass_, got in res["hashes"].items():
                    if got.get(name) != duck.get(name):
                        problems.append(f"{name} ({pass_} pass): spark {got.get(name)} "
                                        f"!= duckdb {duck.get(name)}")
        res["problems"] = problems
        with open(os.path.join(BENCH, "results",
                               f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(res, f, indent=1)
    finally:
        if os.path.exists(f"{work}/jvm.log"):
            shutil.copy(f"{work}/jvm.log", os.path.join(
                BENCH, "results", f"{args.workload}-s{args.seed}-t{args.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"perfbench: CHECK FAILED {p}", file=sys.stderr)
    values = dict(res["metrics"], setup_s=res["setup_s"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None and not args.trace:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v or 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
