#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload sink_write|kinesis_pipeline|board \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness together
with the program's sources (sbt, offline) and generates the board's tables;
both are cached under .bench_build/ and rebuilt when a source changes. The
run itself is one JVM (perfbench.Main) at local[nproc].

Stdout: human-readable lines (every timing with its sample count and the
counters that carry across machines), then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end ones, with --trace 1 its per_layer
ones; the traced run also writes its spans to .bench_build/traces/.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
# A first run builds and writes the tables too: 600 + 100 + 170 s stays
# under the 900 s a first run may take.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
FIXTURES_LIMIT_S = 100

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run(cmd, cwd, timeout, log, env=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or err,
                             stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} exceeded {timeout:.0f} s (log: {log})")
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for t in trees:
        for d, dirs, fs in os.walk(t):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(logs):
    """Compile harness + program; returns the runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(logs, "build.log")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keep sbt's scratch files (native libraries, locks, its boot socket)
    # in the checkout. The socket directory is given relative to sbt's
    # working directory: a Unix socket path may not exceed 107 bytes.
    env = dict(os.environ, XDG_RUNTIME_DIR=os.path.relpath(tmp, BENCH))
    code, out = run(["sbt", "--batch", "-Dsbt.server.autostart=false",
                     "-Dsbt.boot.lock=false", "-J-XX:-UsePerfData",
                     f"-J-Djava.io.tmpdir={tmp}", f"-J-Djna.tmpdir={tmp}",
                     "-Dsbt.log.noformat=true", "-error",
                     "export Runtime/fullClasspath"],
                    BENCH, BUILD_LIMIT_S, log, env=env, stdout=subprocess.PIPE)
    lines = [x for x in out.decode(errors="replace").splitlines()
             if os.pathsep in x or x.endswith(".jar")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jvm(cp, args, timeout, log, run_dir):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", cp, "perfbench.Main"] + args)
    code, _ = run(cmd, ROOT, timeout, log, env=env, stdout=sys.stdout)
    if code != 0:
        fail(f"benchmark JVM exited {code}; see {log}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["sink_write", "kinesis_pipeline", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    if not os.path.exists(PROGRAM):
        fail(f"program sources not found ({os.path.relpath(PROGRAM, ROOT)})", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    sys.stdout.flush()

    cp = build(logs)
    fixtures = os.path.join(OUT, "fixtures", "sf0.1")
    run_dir = os.path.join(OUT, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    common = ["--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", run_dir,
              "--fixtures", fixtures,
              "--pins", os.path.join(BENCH, "board_pins.tsv")]
    if not os.path.exists(os.path.join(fixtures, "_COMPLETE")):
        jvm(cp, ["--workload", "fixtures"] + common, FIXTURES_LIMIT_S,
            os.path.join(logs, "fixtures.log"), run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    t_start = time.time()  # the build and the tables are one-off

    log = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    if os.path.exists(log):
        os.remove(log)
    jvm(cp, ["--workload", a.workload] + common,
        RUN_LIMIT_S - (time.time() - t_start), log, run_dir)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    if a.trace:
        traces = os.path.join(OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        for x in os.listdir(run_dir):
            if x.startswith("spans-"):
                shutil.copy(os.path.join(run_dir, x), traces)
    shutil.rmtree(run_dir, ignore_errors=True)

    declared = spec["per_layer" if a.trace else "end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    if not a.trace and missing:
        fail(f"run did not produce {missing}")
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
