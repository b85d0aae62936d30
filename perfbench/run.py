#!/usr/bin/env python3
"""Benchmark of the JDE medallion warehouse and its query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the benchmark's
own sbt package (`perfbench/build.sbt`: the benchmark's Scala sources
plus the program's `src/main/scala`) against the Spark distribution
named by SPARK_HOME (or found from `spark-submit` on PATH), then starts
one JVM that drives the program through `Pipeline.run`,
`SparkEntry.queries` and `Bench.consume`.

Workloads (inputs are made from --seed; the same seed gives the same
inputs):
  daily_increments  the set-up bulk-loads a generated initial batch into
                    an empty lake (Pipeline.run); each op loads the next
                    day's change batch into the growing lake
  registry          each op builds one query of a fixed panel of the
                    registry and consumes it (Bench.consume), in
                    seed-shuffled passes over data made by graft.ScaleGen

A run times a fixed number of ops (daily_increments) or passes
(registry), sized so that they take about --seconds on a 4-core box.

The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones from a traced run, whose spans are also written
to perfbench/.work/traces/. The line before it holds the run's detail
(every op time, failures by op and error class, the tail percentile and
its sample count).

`--pin` rewrites registry_expected.json from this checkout's program
(the values must first match the DuckDB oracle, see NOTES.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
import landing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
EXPECTED = os.path.join(HERE, "registry_expected.json")
WORKLOADS = ("daily_increments", "registry")

# Input sizes. The initial batch keeps the reference's 20 order lines
# per customer; a daily batch adds 2% of the initial order lines and
# changes 2% (adds 0.5%) of the customers.
INITIAL_ORDERS = 100_000
CUSTOMERS = 5_000
DAILY_ORDERS = 2_000
# Seconds one unit (a daily op, a registry pass) takes on a 4-core box.
UNIT_SECONDS = 4.0
REGISTRY_SF = "0.1"
# A fixed heap and young generation: G1's adaptive sizing otherwise moves
# the JVM's peak RSS by a quarter from run to run.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
DEADLINE_S = 170  # a run must end within 180 s


def cores():
    return len(os.sched_getaffinity(0))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark distribution (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile the package unless its sources are unchanged since the last build."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit("perfbench: program sources (src/main/scala) not found")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global state and temporary files stay inside the checkout
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                        f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
                        f"-J-Djava.io.tmpdir={tmp}", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_cmd(home, work, *args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_HEAP, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(home, 'jars', '*')}", "perfbench.Main"]
    return cmd + [str(a) for a in args]


def run_jvm(cmd, work, deadline):
    """Run the JVM and wait for it; return (exit code, stdout, its peak
    RSS in MB). A JVM that outlives the deadline is killed."""
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        timer = threading.Timer(max(0.0, deadline - time.monotonic()),
                                os.killpg, (p.pid, signal.SIGKILL))
        timer.start()
        try:
            stdout = p.stdout.read()
            _, status, usage = os.wait4(p.pid, 0)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            timer.cancel()
            p.stdout.close()
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, stdout, usage.ru_maxrss / 1024.0


def ensure_registry_data(home):
    """graft.ScaleGen output at REGISTRY_SF, made once per checkout."""
    data = os.path.join(WORK, f"registry-sf{REGISTRY_SF}")
    if os.path.exists(os.path.join(data, "_COMPLETE")):
        return data
    tmp = data + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    code, _, _ = run_jvm(java_cmd(home, tmp, "gen-registry", "--cores", cores(), "--work", tmp,
                                  "--sf", REGISTRY_SF, "--sf-dir", os.path.join(tmp, "data")),
                         tmp, time.monotonic() + 600)
    if code != 0:
        sys.exit("perfbench: registry data generation failed")
    shutil.rmtree(data, ignore_errors=True)
    os.rename(os.path.join(tmp, "data"), data)
    shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(data, "_COMPLETE"), "w").close()
    return data


def main():
    ap = argparse.ArgumentParser(description="JDE medallion warehouse benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    home = spark_home()
    os.makedirs(WORK, exist_ok=True)
    build(dict(os.environ, SPARK_HOME=home))
    data = ensure_registry_data(home)
    start = time.monotonic()  # building and data generation happen once per checkout
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--cores", cores(), "--work", work, "--sf-dir", data, "--expected", EXPECTED]
        if a.pin:
            with open(EXPECTED) as f:
                queries = sorted(json.load(f)["queries"])
            code, _, _ = run_jvm(java_cmd(home, work, "pin", *args, "--sf", REGISTRY_SF,
                                          "--dest", EXPECTED, *queries),
                                 work, time.monotonic() + 900)
            sys.exit(code)
        units = max(1, round(a.seconds / UNIT_SECONDS))
        if a.workload == "daily_increments":
            landing.generate(os.path.join(work, "landing"), a.seed, INITIAL_ORDERS, CUSTOMERS,
                             units, DAILY_ORDERS)
            args += ["--landing", os.path.join(work, "landing")]
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        args += ["--workload", a.workload, "--seed", a.seed, "--units", units,
                 "--trace", a.trace,
                 "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
        code, stdout, rss_mb = run_jvm(java_cmd(home, work, "run", *args), work,
                                       start + DEADLINE_S)
        lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if code != 0 or not lines:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"perfbench: benchmark JVM failed (exit {code})")
        result = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        if not a.trace:
            result["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
        print(json.dumps({"detail": result["detail"]}))
        print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
