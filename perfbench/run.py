#!/usr/bin/env python3
"""Benchmark entry point: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark
once per source tree (sbt, offline), runs one workload in its own JVM,
checks its outputs, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("backfill", "tail")
# per-layer metrics of a layer that does no work on a workload: the
# traced run reports them as 0. Any other missing or null metric fails.
NOT_APPLICABLE = {
    "backfill": {"setup.archive_ingest_s", "streaming.backlog_records_max",
                 "streaming.generator_late_p99_ms"},
    "tail": {"setup.warmup_s", "backfill.unattributed_s", "backfill.records_per_s",
             "backfill.mb_per_s"},
}
# fixed heap: GC behaviour must not depend on the host's free memory
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the engine and the benchmark with sbt; returns the runtime classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    want = source_stamp(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_LIMIT_S)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "target/scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (rc={p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def run_jvm(cp, args, budget_s):
    for d in ("scratch", "tmp", "spark-local", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + [WORK]
    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH=os.path.join(WORK, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    err = os.path.join(WORK, "logs", f"{args[0]}-{args[1]}-trace{args[3]}.err")
    with open(err, "w") as ef:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=ef, text=True, env=env)
        try:
            stdout, _ = p.communicate(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{args[0]} exceeded {budget_s:.0f} s; see {err}")
    if p.returncode != 0:
        fail(f"{args[0]} exited {p.returncode}; see {err}")
    for line in reversed(stdout.splitlines()):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    fail(f"{args[0]} printed no result; see {err}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"BENCHMARK.json: {e}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build(root)
    t0 = time.time()
    res = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace)], RUN_LIMIT_S)
    failed = res["failed"]
    for n in res.get("notes", []):
        print(f"perfbench: {n}", file=sys.stderr)
    unknown = set(res["metrics"]) - {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if unknown:
        fail(f"{a.workload} reported metrics BENCHMARK.json does not list: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"], {}).get("value")
        if a.trace and m["name"] in NOT_APPLICABLE[a.workload]:
            if v is not None:
                fail(f"{a.workload} reported {m['name']}, which does not apply to it")
            v = 0.0
        if v is None:
            fail(f"{a.workload} did not report {m['name']} (missing or not a number)")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"perfbench: {a.workload} seed={a.seed} run {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
