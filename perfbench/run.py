#!/usr/bin/env python3
"""Benchmark command for the watermark cycle and the registry queries.

    python3 perfbench/run.py --workload cycle_trickle --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The workload runs single-process on
``local[<cores available>]`` as a closed loop with one client.  This
runner pins the environment, gives the run a fresh scratch directory
under ``.perfbench/`` (inputs, target tables, Spark local dirs; deleted
afterwards), starts ``perfbench/worker.py`` in a session of its own,
and waits for every process of that session to end.

Standard output ends with two JSON lines: the run's details (pinned
environment, sample counts, tail percentile, error rate and wrong
results), then the result ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones.  A failed run prints no result and
exits non-zero.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 160  # leaves time to end the session within 180 s


def pinned_env(work: str) -> dict[str, str]:
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, phys_mb // 2)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PYTHONPATH": ROOT,
    }


def _session_pids(sid: int) -> list[int]:
    """Processes of session ``sid`` that have not ended (zombies excluded)."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(pid))
    return pids


def _end_session(proc: subprocess.Popen) -> None:
    """Kill every process of the worker's session and wait until each has
    ended.  The session, unlike the process group, also holds PySpark's
    Python workers, which its daemon moves into a group of their own."""
    deadline = time.monotonic() + 30
    while (pids := _session_pids(proc.pid)) and time.monotonic() < deadline:
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        proc.poll()
        time.sleep(0.1)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=WORK_ROOT)
    out = work + ".json"
    env = pinned_env(work)
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work-dir", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, env={**os.environ, **env},
                            stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
        code = None
    finally:
        _end_session(proc)
        shutil.rmtree(work, ignore_errors=True)
    try:
        if code != 0:
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            payload = json.load(f)
    finally:
        if os.path.exists(out):
            os.remove(out)
    payload["info"]["env"] = {k: v for k, v in env.items() if k != "PYTHONPATH"}
    print(json.dumps(payload["info"]))
    print(json.dumps(payload["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
