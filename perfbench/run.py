"""Benchmark of the MergeExtractor engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (see build.py), then runs
one workload in a fresh JVM. The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The exit code is non-zero when the build fails, the run fails, or any
output check fails. Workloads, metrics and their meaning are described in
perfbench/README.md and perfbench/meta.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("deal_batches", "corpus_curate")
RESULT_TAG = "PERFBENCH_RESULT "
# a run must end within 180 s; leave room to stop the JVM
RUN_TIMEOUT_S = 170
HEAP = "2g"
LOG_CONFIG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")

# Spark on JDK 17 needs these opens outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classes, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    return [build.java(), *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={LOG_CONFIG}",
            "-cp", cp, main, *args]


def run_jvm(cmd, timeout_s):
    """Runs the JVM in its own process group; returns (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {timeout_s} s and was stopped", file=sys.stderr)
        return 124, []
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = build.BUILD_DIR / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        if a.selftest:
            code, lines = run_jvm(jvm_command(classes, "perfbench.SelfTest", [], tmp),
                                  RUN_TIMEOUT_S)
            print("\n".join(lines))
            return code
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work-dir", str(work)]
        t0 = time.monotonic()
        code, lines = run_jvm(jvm_command(classes, "perfbench.Main", args, tmp),
                              RUN_TIMEOUT_S)
        results = [l[len(RESULT_TAG):] for l in lines if l.startswith(RESULT_TAG)]
        for l in lines:
            if not l.startswith(RESULT_TAG):
                print(l, file=sys.stderr)
        if not results:
            print(f"perfbench: no result (exit {code})", file=sys.stderr)
            return code or 1
        result = json.loads(results[-1])
        print(f"perfbench: {a.workload} run took {time.monotonic() - t0:.1f} s",
              file=sys.stderr)
        print(json.dumps(result))
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
