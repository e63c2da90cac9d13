"""One benchmark run in its own process: generate the inputs, start the
session, run one workload and write its result as JSON.

Started by ``perfbench/run.py``, which pins the environment and owns
the run's scratch directory; see that file for the arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time

from . import cycle, headline
from .common import cpu_ticks, steal_pct, tail
from .spans import Tracer

WORKLOADS = {"cycle_trickle": cycle, "registry_headline": headline}

# every per-layer metric, reported as 0 by a workload that never enters the layer
PER_LAYER = (
    "setup.session_s", "setup.warmup_s", "setup.preload_s", "process.peak_rss_mb",
    "jvm.gc_s", "trace.overhead_s",
    "cycle.traced_s", "cycle.other_s", "cycle.jobs", *cycle.LAYERS,
    "merge.bytes_written_mb", "merge.rewrite_ratio",
    *(f"q.{q}.{m}" for q in headline.QUERIES for m in ("build_s", "exec_s", "jobs")),
    *(f"family.{f}_s" for f in headline.FAMILIES),
)


def _unit(name: str) -> str:
    if name.endswith("jobs"):
        return "count"
    if name.endswith("_ratio"):
        return "ratio"
    return "MB" if name.endswith("_mb") else "s"


def _peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from etl_pipe_spark.session import get_spark

    workload = WORKLOADS[args.workload]
    data_dir = os.path.join(args.work_dir, "data")
    workload.prepare(data_dir, args.seed)

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    tracer = Tracer() if args.trace else None
    ticks = cpu_ticks()
    try:
        out = workload.run(spark, data_dir, args.work_dir, args.seed, args.seconds, tracer)
        cpu_steal_pct = steal_pct(ticks, cpu_ticks())
        rss_mb = _peak_rss_mb("self") + _peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        _stop(spark)

    setup = {"session_s": session_s, **out.setup}
    op_s = out.op_s
    if args.trace:
        layers = {**dict.fromkeys(PER_LAYER, 0.0), **out.layers,
                  **{f"setup.{k}": v for k, v in setup.items()},
                  "process.peak_rss_mb": rss_mb}
        metrics = {k: (layers[k], _unit(k)) for k in PER_LAYER}
        spans_path = f"spans-{args.workload}-{args.seed}.json"
        tracer.dump(os.path.join(os.path.dirname(args.out), spans_path))
        out.info["spans"] = spans_path
    else:
        metrics = {
            "setup_s": (sum(setup.values()), "s"),
            "op_p50_s": (statistics.median(op_s), "s"),
            "rows_per_s": (out.rows / sum(op_s), "rows/s"),
        }
    op_tail = tail(op_s)
    info = {
        **out.info, "op_s": op_s, "setup": setup,
        "op_tail": {"percentile": op_tail[0], "s": op_tail[1]} if op_tail else None,
        "error_rate": out.failed / out.attempted, "wrong_results": out.wrong,
        "peak_rss_mb": rss_mb, "cpu_steal_pct": cpu_steal_pct,
    }
    result = {
        "correct": out.wrong == 0, "attempted": out.attempted, "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.out, "w") as f:
        json.dump({"info": info, "result": result}, f)


if __name__ == "__main__":
    main()
