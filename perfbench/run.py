"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs the measured process ``perfbench/worker.py`` on the tables in
``perfbench/data/sf0.01/`` (the sf0.01 test tables) in its own process group,
with a per-run warehouse, Spark local dir, temp dir and index root under
``perfbench/work/``, and relays its output. Spark's "was locally checkpointed" WARN lines
are dropped from the relayed log. The last stdout line is the result JSON;
the full report of the run is kept in ``perfbench/out/``. Exits non-zero, and
prints no result, when the run fails or overruns its deadline.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DROPPED_LOG = ("was locally checkpointed",)


def run_env(work: str) -> dict[str, str]:
    """Environment of a run: temp and Spark local dirs under ``work``, Spark
    on local[nproc], and a driver heap sized for a shared host."""
    return dict(
        os.environ,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="4g",
    )


def relay_stderr(stream) -> None:
    for line in iter(stream.readline, b""):
        if not any(p.encode() in line for p in DROPPED_LOG):
            sys.stderr.buffer.write(line)
            sys.stderr.buffer.flush()


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait until it is
    gone (the JVM and its Python workers are not our children)."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()  # reap the worker first: a zombie still counts as a member
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    # on SIGTERM, unwind through the finally blocks that stop the worker's
    # process group and remove the run directory
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(run_env(work), PYTHONUNBUFFERED="1")
    report = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    deadline = time.time() + DEADLINE_S
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--data", DATA_DIR,
             "--work", work, "--report", report],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, start_new_session=True,
        )
        out: list[bytes] = []
        readers = [
            threading.Thread(target=relay_stderr, args=(proc.stderr,), daemon=True),
            threading.Thread(target=lambda: out.append(proc.stdout.read()), daemon=True),
        ]
        for t in readers:
            t.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
            return 1
        finally:
            stop_group(proc)
            for t in readers:
                t.join(timeout=5)
        if proc.returncode != 0:
            print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        lines = b"".join(out).decode().strip().splitlines()
        if not lines:
            print("perfbench: worker printed no result", file=sys.stderr)
            return 1
        print(lines[-1], flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
