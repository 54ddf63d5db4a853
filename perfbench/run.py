"""Benchmark entry point.

    python3 perfbench/run.py --workload summary_reads --seed 1 --seconds 8 --trace 0

Run it from the root of a source checkout.  It builds a private scratch
directory under the checkout, starts one worker process (which starts
Spark) with every temporary path pointed inside that directory, relays the
worker's output, prints one JSON result as its last line, then stops every
process the worker left behind and removes the scratch directory.

Exits non-zero, printing no result, when the engine sources are missing or
the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import uuid

WORKLOADS = ("summary_reads", "event_ingest", "corpus_funnel")
SCRATCH = ".perfbench-tmp"
DRIVER_MEM_CAP_GB = 4
WORKER_TIMEOUT_S = 160  # leaves room to stop the process group and clean up within 180 s


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_mem() -> str:
    """A quarter of host RAM, capped: the engine's 16g default exceeds
    small hosts."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        gb = max(1, min(DRIVER_MEM_CAP_GB, kb // (4 << 20)))
    except (OSError, StopIteration):
        gb = 2
    return f"{gb}g"


def worker_env(root: str, scratch: str) -> dict[str, str]:
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    # both JVMs spark-submit starts (its launcher and the driver) keep
    # their temporary files in the scratch directory
    jvm_opts = f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        env[var] = " ".join(p for p in (env.get(var), jvm_opts) if p)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def stop_group(pgid: int) -> None:
    """Kill whatever is left in the worker's process group (the JVM,
    Python workers) and wait until the group is empty.  A worker that
    exits normally has stopped Spark and written its result, so nothing
    left has work worth waiting for (a JVM exiting on SIGTERM takes ~2 s)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main(argv=None) -> int:
    t0 = time.time()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "streamsum_spark", "__init__.py")):
        print("perfbench: no streamsum_spark sources under the current directory", file=sys.stderr)
        return 2
    scratch = os.path.join(root, SCRATCH, uuid.uuid4().hex[:12])
    os.makedirs(scratch)
    result_path = os.path.join(scratch, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", repr(args.seconds), "--trace", str(args.trace),
        "--t0", repr(t0), "--scratch", scratch, "--out", os.path.join(root, ".perfbench-out"),
    ]
    # SIGTERM unwinds through the finally below, so the worker's process
    # group is stopped even when this launcher is
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    proc = subprocess.Popen(cmd, cwd=scratch, env=worker_env(root, scratch), start_new_session=True)
    code = None
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker still running after {WORKER_TIMEOUT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        stop_group(proc.pid)
        result = None
        if os.path.isfile(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    if code != 0 or result is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
