"""Benchmark entry point.

    python3 perfbench/run.py --workload xes_selective --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. It generates the input lake under
``perfbench/.work/``, pins the environment the benchmark owns, runs
``perfbench.bench`` in a process session of its own, waits until every
process of that session has ended, and prints two lines: the run's detail
(host state, sample counts, failures) and, last, the result

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see ``BENCHMARK.json``). Without the engine package next
to ``perfbench/`` it exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, procfs, workloads  # noqa: E402

#: The bench process must end within this; the whole run within 180 s.
CHILD_TIMEOUT_S = 165
#: Files of the engine the benchmark imports.
REQUIRED = ("mobsos_event_log_generator_spark/api.py", "tools/check_parity.py")


def pinned_env(work: str) -> dict[str, str]:
    """The environment the benchmark owns. Each entry removed a measured
    failure or noise source:

    * ``SPARK_GRAFT_CPUS`` - the engine defaults to ``local[32]``;
    * ``PYTHONPATH`` - Python workers import the engine (Arrow queries fail
      with ``ModuleNotFoundError`` without it);
    * ``SPARK_LOCAL_DIRS``, ``TMPDIR``, ``JAVA_TOOL_OPTIONS`` - shuffle and
      scratch files stay in the run's own directory, and no JVM writes
      ``/tmp/hsperfdata_*``;
    * ``TZ`` - naive request datetimes become UTC literals;
    * ``PYSPARK_PYTHON`` - workers run the same interpreter as the driver;
    * ``SPARK_GRAFT_DRIVER_MEM`` - a 1 GB heap limit instead of the engine's
      8 GB default. With room to grow to 8 GB the JVM's resident set varied
      by 45% between runs (2.1-3.1 GB on ``lake_batch``).
    """
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(procfs.host_cpus()),
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    return env


def stop_session(sid: int, grace_s: float = 20.0) -> None:
    """Terminate every process left in session ``sid`` and wait until all
    have ended (the JVM's Python daemons move to process groups of their
    own, so the session, not the group, holds them all)."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = procfs.session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(datagen.SCALES), default="bench",
                   help="input lake size (tiny: the self-test's)")
    p.add_argument("--corrupt", action="store_true",
                   help="truncate one artifact before the checks (self-test)")
    args = p.parse_args()

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=work_root)
    try:
        lake = os.path.join(work, "lake")
        datagen.generate(lake, args.scale)
        result_file = os.path.join(work, "result.json")
        cmd = [sys.executable, "-m", "perfbench.bench",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--scale", args.scale, "--lake", lake, "--work", work, "--result", result_file]
        if args.corrupt:
            cmd.append("--corrupt")
        env = pinned_env(work)
        env["PERFBENCH_T_SPAWN"] = repr(time.time())
        child = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        finally:
            stop_session(child.pid)
            child.wait()
        if rc != 0 or not os.path.exists(result_file):
            print(f"perfbench: bench process failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result_file) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": result.pop("detail")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
