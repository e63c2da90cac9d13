"""Command-line entry point (the reference's scheduler.py / setup_target.py
surface, reference Dockerfile:13 CMD).

    python -m etl_pipe_spark list
    python -m etl_pipe_spark run <query> [--sf-dir DIR] [--limit N]
    python -m etl_pipe_spark explain <query> [--sf-dir DIR]
    python -m etl_pipe_spark cycle --target DIR [--sf-dir DIR] [--loops N] [--interval S]
    python -m etl_pipe_spark bench [query ...]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="etl_pipe_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    p_run = sub.add_parser("run", help="run one registered query")
    p_run.add_argument("query")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_run.add_argument("--limit", type=int, default=20)

    p_exp = sub.add_parser("explain", help="show a query's physical plan")
    p_exp.add_argument("query")
    p_exp.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    p_cyc = sub.add_parser("cycle", help="run incremental ETL cycles (reference scheduler)")
    p_cyc.add_argument("--target", required=True)
    p_cyc.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_cyc.add_argument("--loops", type=int, default=1)
    p_cyc.add_argument("--interval", type=float, default=0.0)

    p_bench = sub.add_parser("bench", help="run the benchmark harness")
    p_bench.add_argument("names", nargs="*", help="queries to time (default: all)")

    args = ap.parse_args(argv)

    if args.cmd == "bench":
        import bench  # repo-root script

        return bench.main(args.names)

    from .operators import scope
    from .plans.catalog import queries
    from .session import get_spark

    qs = queries()
    if args.cmd == "list":
        from .plans.catalog import oracle_sql

        oracles = oracle_sql()
        for name in sorted(qs):
            marker = "oracle" if name in oracles else "rows-only"
            print(f"{name}  [{marker}]")
        return 0

    if args.cmd in ("run", "explain"):
        if args.query not in qs:
            print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
            return 2
        spark = get_spark(f"etl-pipe-{args.cmd}")
        if args.cmd == "explain":
            # built under inspect(): a checkpointing query shows its
            # operator tree, not a scan of the checkpointed RDD
            with scope.inspect():
                df = qs[args.query](spark, args.sf_dir)
            df.explain("formatted")
        else:
            qs[args.query](spark, args.sf_dir).show(args.limit, truncate=False)
        spark.stop()
        return 0

    if args.cmd == "cycle":
        from .streaming.incremental import IncrementalPipeline
        from .streaming.scheduler import CycleScheduler

        spark = get_spark("etl-pipe-cycle")
        pipe = IncrementalPipeline(spark, args.sf_dir, args.target)
        sched = CycleScheduler(pipe.run_cycle, interval_sec=args.interval)
        # one line per flow and cycle with run_cycle's value: the batch
        # rows the flow merged this cycle, or -1 when the flow failed
        while sched.cycles_run < args.loops:
            counts = sched.run_once()
            for name, n in (counts or {}).items():
                status = "rows_merged" if n >= 0 else "FAILED code"
                print(f"[etl_pipe_spark] cycle={sched.cycles_run} flow={name} {status}={n}")
            if sched.cycles_run < args.loops and args.interval:
                sched.sleep(args.interval)
        print(f"cycles={sched.cycles_run} consecutive_failures={sched.consecutive_failures}")
        spark.stop()
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
