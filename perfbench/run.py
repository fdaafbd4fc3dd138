#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 5 --trace 0

Builds the engine and the runner from source on first use (build.py) and
then, once per build and before any measured JVM, writes a class data
sharing archive of the classes that a set-up of each workload loads; every
measured JVM maps it, so all of them start the same way. Then runs the
workload in one JVM. With --trace 0 it first starts SETUP_JVMS further JVMs
that only set up, cold, and reports as setup_s the median of their set-up
times and the measuring JVM's. The last stdout line is the
result object {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. The lines before
it are the run report (resolved Spark conf, sample count, output digest)
and the set-up times. The JVMs' logs go to .bench_build/logs/. Exits
non-zero, printing no result, if the build or the run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import build

WORKLOADS = ("curation_service", "corpus_batch")
SETUP_JVMS = 1
RUN_TIMEOUT_S = 170
ARCHIVE_TIMEOUT_S = 600
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def ready():
    """Builds if needed, and writes the build's class data sharing archive
    if it has none; returns the classpath and the archive."""
    cp = build.classpath()
    archive = os.path.join(build.OUT, "classes", "cds.jsa")
    if not os.path.exists(archive):
        _java(cp, [f"-XX:ArchiveClassesAtExit={archive}"], ["--mode", "archive"],
              "archive.log", ARCHIVE_TIMEOUT_S)
        if not os.path.exists(archive):
            raise RuntimeError("the JVM wrote no class data sharing archive")
    return cp, archive


def jvm(runner_args, log_name, timeout=RUN_TIMEOUT_S):
    """Runs perfbench.Main with `runner_args`; returns its stdout lines."""
    cp, archive = ready()
    return _java(cp, [f"-XX:SharedArchiveFile={archive}"], runner_args, log_name, timeout)


def _java(cp, flags, runner_args, log_name, timeout):
    out = build.OUT
    tmp = os.path.join(out, "tmp")
    logs = os.path.join(out, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = ["java"] + flags
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the young generation has a fixed size, so peak RSS does not swing with
    # the collector's pause-time sizing of eden; what the program keeps
    # (pinned blocks, broadcast tables) grows the old generation and shows
    cmd += ["-Xmx3g", "-Xmn512m", "-XX:-UsePerfData",
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--data", os.path.join(build.BENCH, "data"),
            "--work", os.path.join(out, "work"),
            "--golden", os.path.join(build.BENCH, "golden.json")] + runner_args
    log_path = os.path.join(logs, log_name)
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                           timeout=timeout, cwd=out)
    if r.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise RuntimeError(f"runner exited with {r.returncode}; log at {log_path}")
    return r.stdout.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    name = f"{a.workload}-{a.seed}"
    try:
        ready()
        # one time limit for all of the run's JVMs, from the end of the build
        deadline = time.monotonic() + RUN_TIMEOUT_S

        def left():
            return max(1.0, deadline - time.monotonic())

        setups = [] if a.trace else [
            json.loads(jvm(["--mode", "setup", "--workload", a.workload, "--seed", str(a.seed)],
                           f"{name}-setup{i}.log", left())[-1])["setup_s"]
            for i in range(SETUP_JVMS)]
        lines = jvm(["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)],
                    f"{name}-trace{a.trace}.log", left())
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        if setups:
            setups.append(result["metrics"]["setup_s"]["value"])
            result["metrics"]["setup_s"]["value"] = statistics.median(setups)
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired,
            json.JSONDecodeError, AssertionError, IndexError, KeyError) as e:
        sys.exit(f"perfbench: {e}")
    for line in lines[:-1]:
        print(line)
    if setups:
        print(json.dumps({"setup_runs_s": setups}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
