"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Runs one workload in a child process with
its own TMPDIR and SPARK_LOCAL_DIRS under ``.bench_build/perfbench/``,
removes both afterwards, stops every process the child left behind, and
prints the child's report line and then the result as the last line of
standard output. Exits non-zero, printing no result, when the engine
package is missing or the run fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def _reap_group(pgid: int) -> None:
    """Kill whatever is left in the child's process group (the Spark JVM)
    and wait for it; orphans are re-parented here by the subreaper flag."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "parquet_exporter_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    work = os.path.join(CACHE, f"run-{args.workload}-{os.getpid()}")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    result = os.path.join(work, "result.json")
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local)
    # the JVMs' temp files and perf-data files stay in the run directory too
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cache", CACHE, "--result", result,
    ]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = None
    try:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                 start_new_session=True, text=True)
        try:
            out, _ = child.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            return 3
        if child.returncode != 0 or not os.path.isfile(result):
            sys.stderr.write(out)
            print(f"perfbench: worker exited with {child.returncode}", file=sys.stderr)
            return 1
        with open(result) as f:
            res = json.load(f)
    finally:
        if child is not None:
            _reap_group(child.pid)
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
