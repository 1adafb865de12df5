"""Benchmark entry point for mgspark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Prepares a hermetic environment (``PYTHONPATH`` at the repo root so
Spark's Python workers import ``mgspark``; a private ``SPARK_LOCAL_DIRS``
and ``TMPDIR`` under ``.perfbench/``), runs ``perfbench/engine.py`` in a
child process, relays its output, and stops and reaps every process the
run started.  The last line of standard output is the result JSON.

    python3 perfbench/run.py --self-test    # the gates trip on bad estimates
    python3 perfbench/run.py --smoke ...    # same code at a tiny input size

See ``perfbench/README.md`` for workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TIMEOUT_S = 170  # a run must end within 180 s
FIRST_RUN_TIMEOUT_S = 880  # the first run in a checkout may take 900 s
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    """Pids whose parent is this process (orphans re-parent here)."""
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            pids.append(int(entry))
    return pids


def _reap_all(grace_s: float = 10.0) -> None:
    """Terminate and wait for every remaining descendant process."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        pids = _children()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    parser = argparse.ArgumentParser(description="mgspark benchmark")
    parser.add_argument("--workload")
    parser.add_argument("--seed", type=int)
    parser.add_argument("--seconds", type=float)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true", help="tiny inputs, same code")
    parser.add_argument("--self-test", action="store_true", help="check that the gates can fail")
    args = parser.parse_args()

    sys.path.insert(0, ROOT)
    if args.self_test:
        from perfbench.gates import self_test

        problems = self_test()
        for problem in problems:
            print(f"self-test: {problem}", file=sys.stderr)
        print("self-test: " + ("FAILED" if problems else "ok"))
        return 1 if problems else 0
    if args.workload is None or args.seed is None or args.seconds is None:
        parser.error("--workload, --seed and --seconds are required")
    if not os.path.isfile(os.path.join(ROOT, "mgspark", "__init__.py")):
        print(f"perfbench: no mgspark package under {ROOT}; nothing to benchmark", file=sys.stderr)
        return 2

    first_run = not os.path.isdir(WORK)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": os.path.join(WORK, "tmp"),
            # The JVM that spark-submit starts to build the driver's command
            # line would otherwise write under /tmp.
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "MGSPARK_DRIVER_MEM": "1g",
            "PYTHONHASHSEED": "0",
        }
    )
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    cmd = [
        sys.executable,
        "-m",
        "perfbench.engine",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ] + (["--smoke"] if args.smoke else [])

    # Become the reaper of every orphaned descendant (the JVM, Python
    # workers), so none outlives the run.
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    timeout = FIRST_RUN_TIMEOUT_S if first_run else TIMEOUT_S
    last = None
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    killer = threading.Timer(timeout, proc.kill)
    killer.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        killer.cancel()
        _reap_all()
    if proc.returncode != 0 or last is None:
        print(f"perfbench: engine failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    result = json.loads(last)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
