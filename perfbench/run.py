#!/usr/bin/env python3
"""The graft benchmark: one command per (workload, seed) run.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), then starts one
JVM that generates the seed's inputs, sets up GraftSession.local with
every core, runs repeated passes through the program's public entry
points for S seconds and checks every pass's output. The last stdout
line is the result object; the line before it is a summary with the
sample count, the failure ratio and the host calibration triple.
With --trace 1 the run also decomposes one pass into its layers and
reports the per-layer metrics instead of the end-to-end ones; the
spans are written under <build dir>/records/.

Everything the run writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build) of the current directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("match-catalog", "dataprep")
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    base = build.build_dir()
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    records = os.path.join(base, "records")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(records, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    log_file = os.path.join(work, "jvm.log")
    here = os.path.dirname(os.path.abspath(__file__))

    cmd = ["java", "-Xss8m", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={here}/log4j2.properties",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--result", result_file,
        "--record", os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
    ]
    with open(log_file, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0 or not os.path.exists(result_file):
        with open(log_file, errors="replace") as f:
            sys.stderr.write(f.read()[-8000:])
        why = "timed out" if code is None else f"exited with code {code}"
        sys.stderr.write(f"run: benchmark JVM {why}\n")
        return 1
    with open(result_file) as f:
        summary, result = f.read().strip().split("\n")[-2:]
    json.loads(result)
    shutil.rmtree(work, ignore_errors=True)
    print(summary)
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
