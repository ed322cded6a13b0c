#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage, from the repository root:

  python3 perfbench/run.py --workload <etl_curation|snapshot_sink>
                           --seed <n> --seconds <s> --trace <0|1>

The first call builds the program and the harness (perfbench/build.py).
The run then generates its inputs from the seed, sets up, warms up, runs
the timed loop for about `--seconds`, checks every output, and prints one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` a
traced loop follows the untraced one and the metrics are the per-layer
ones. A line `perfbench detail {...}` before it carries the workload's own
figures (per-kind medians, amplification, op count).

Options for the benchmark's own tests: `--size tiny` shrinks the inputs,
`--fault` alters one row of the first checked result. `--record` prints
the ETL digests of every corpus variant (the content of expected_etl.tsv).

Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import os
import shutil
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_curation", "snapshot_sink")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--fault", action="store_true")
    p.add_argument("--record", action="store_true")
    return p.parse_args()


def main():
    a = parse()
    try:
        classes, jars = build.build()
        java = build.java()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_dir = os.path.join(build.OUT, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f"{a.workload}-{a.seed}-{a.trace}.log")
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", a.size, "--work-dir", work,
            "--expected", os.path.join(HERE, "expected_etl.tsv")]
    cmd += ["--fault"] if a.fault else []
    cmd += ["--record"] if a.record else []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            proc.kill()
            proc.wait()
            print(f"perfbench: run did not finish; log in {log_path}", file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if a.record:
        print("\n".join(lines))
        return proc.returncode
    results = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or not results:
        print(f"perfbench: run failed (exit {proc.returncode}); log in {log_path}",
              file=sys.stderr)
        return 1
    for l in lines:
        if l.startswith("perfbench detail"):
            print(l)
    print(results[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
