"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload release --seed 1 --seconds 8 --trace 0

Workloads: release, analytics, corpus (see perfbench/workloads.py). With
--trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a separate traced run.

The Spark work runs in a child process (perfbench/harness.py) whose stdout
and stderr go to a log file, so JVM warnings, stage progress bars and
anything a Python worker prints never reach the stream that carries the
result. This process prints two lines on stdout: the run stamp (host,
versions, load before and after) and, last, the result object. Every
process the child started is killed and waited for before exit. All files
are written under .perfbench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("release", "analytics", "corpus")
CHILD_TIMEOUT_S = 170
DRIVER_MEMORY = "2g"


def spark_submit_args(work: str, trace: int) -> str:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        # The event log is read back for per-stage counts. Uncompressed
        # and not rolling: Spark 4 defaults to zstd, which cannot be read
        # without a module that is not installed.
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def child_env(work: str, trace: int) -> dict[str, str]:
    env = dict(os.environ)
    # Python workers import the program by name (the multimodal kernels
    # fail with ModuleNotFoundError without it).
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_SUBMIT_ARGS"] = spark_submit_args(work, trace)
    env["TMPDIR"] = f"{work}/tmp"
    env["SPARK_LOCAL_DIRS"] = f"{work}/local"
    env["SPARK_GRAFT_WAREHOUSE"] = f"{work}/warehouse"
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    env.pop("OMP_NUM_THREADS", None)
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(proc: subprocess.Popen) -> None:
    """Kill everything in the child's process group (JVM, Python workers)
    and wait until none is left."""
    pgid = proc.pid
    if proc.poll() is None or _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.time() + 30
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "gtec_etl_spark")):
        print("perfbench: gtec_etl_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    result_path, log_path = os.path.join(work, "result.json"), os.path.join(work, "harness.log")
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", work, "--result", result_path,
    ]
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=child_env(work, args.trace), stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)

    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: harness {why}; log above", file=sys.stderr)
        return 1
    with open(result_path) as f:
        out = json.load(f)
    for line in out["failures"]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"stamp": out["stamp"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
