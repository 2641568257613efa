"""Benchmark entry point (see perfbench/README.md and BENCHMARK.json).

    python3 perfbench/run.py --workload full_golden --seed 1 --seconds 10 --trace 0

Builds the engine and harness from source if needed, starts one benchmark
JVM sized to this machine (local[nproc], heap = half of RAM clamped to
2-8 GB), checks every operation's output and prints the metrics. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. All scratch files live in a temporary directory under the build
directory and are removed on exit, also after a failed run.
"""

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import build  # noqa: E402
import judge  # noqa: E402

WORKLOADS = ("full_golden", "wap_ingest", "drift_requests")
# every run, build included, must end well inside this many seconds
JVM_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Half of physical memory, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return max(2, min(8, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(classes, args, work: pathlib.Path) -> dict:
    jars = build.spark_jars()
    report = work / "report.json"
    log = work / "jvm.log"
    (work / "tmp").mkdir()
    cmd = ["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", str(work), "--report", str(report)]
    with open(log, "w") as lf:
        try:
            proc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not report.exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"benchmark JVM failed (exit {proc.returncode}):\n{tail}")
    return json.loads(report.read_text())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still kills its JVM (subprocess.run does on any
    # exception) and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classes = build.build()
        runs = build.build_dir() / "runs"
        runs.mkdir(parents=True, exist_ok=True)
        work = pathlib.Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs))
        try:
            report = run_jvm(classes, args, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        result, lines = judge.evaluate(report)
    except (build.BuildError, RuntimeError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
