#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage, from the repository root:
  python3 perfbench/run.py --workload {rag_build,rag_serve,crawl_curate}
      --seed N --seconds S --trace {0,1}

Builds the program from source first (see build.py), then runs the
workload in one JVM on local[nproc] inside a run-private directory under
.bench_run/, which is removed at exit. Stdout ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics and writes the spans
to .bench_run/traces/. The lines before it record the environment and
per-operation details.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("rag_build", "rag_serve", "crawl_curate")
TIME_LIMIT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def stop(signum, frame):
    raise SystemExit(128 + signum)


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = p.parse_args()

    try:
        classes = build.build()
    except RuntimeError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(build.ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graft.perfbench.PerfBench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", run_dir]
    log_path = os.path.join(run_dir, "jvm.log")
    signal.signal(signal.SIGTERM, stop)
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIME_LIMIT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
                return 1
        lines = [l for l in out.splitlines() if l.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
            print("\n".join(lines), file=sys.stderr)
            with open(log_path) as f:
                print("".join(f.readlines()[-60:]), file=sys.stderr)
            print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        # a failed output check still prints its result, without metrics
        print("\n".join(lines))
        return 0 if proc.returncode == 0 and result["correct"] else 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
