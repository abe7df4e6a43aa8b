"""Layered lake benchmark: one command per run.

    python3 lakebench/run.py --workload <scan_analytics|lake_reads|ingest_merge>
        --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (see build.py), then runs one JVM with `local[N]`,
N = --cores or the number of processors. All files the run writes stay
under the build directory ($CARGO_TARGET_DIR, default .bench_build). The
last line of standard output is the result object; a traced run also
leaves its spans in <build dir>/lakebench/trace-<workload>-<seed>.jsonl.
Exits non-zero without a result when the build or the run fails.
"""

import argparse
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("scan_analytics", "lake_reads", "ingest_merge")
RUN_TIMEOUT_S = 170
# the module openings Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    a = ap.parse_args()

    out = build.build_dir()
    try:
        classes = build.build(out)
        jars = build.spark_jars()
        java = build.java()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"lakebench: build failed: {e}", file=sys.stderr)
        return 2

    work = out / "lakebench"
    tmp = work / f"tmp-{a.workload}"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes), str(jars / "*")]), "lakebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--work", str(work)]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as jvm:
        # a terminated runner takes its JVM with it
        def stop(signum, _frame):
            jvm.kill()
            jvm.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = jvm.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            print(f"lakebench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
            return 3
    lines = stdout.strip().splitlines()
    if jvm.returncode != 0 or not lines:
        print(f"lakebench: run failed with exit code {jvm.returncode}", file=sys.stderr)
        return 4
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print(f"lakebench: last line is not a result: {lines[-1]!r}", file=sys.stderr)
        return 4
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
