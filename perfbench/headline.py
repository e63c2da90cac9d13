"""The ``registry_headline`` workload: registered queries from the
headline set of ``bench.py``, one per operator family, each built
through its registry function and executed into the noop sink.

It is read-only and never touches the watermark store or the merge
sinks, so it is the control for changes to the cycle layers.  Set-up
runs every query once (the warm-up pass) and compares its rows with the
DuckDB oracle; the timed region then runs whole passes in a seeded
order.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

import pyarrow.parquet as pq

from . import datagen
from .common import JobCounter, Outcome, gc_seconds, mean
from .spans import Tracer

SF = 0.01
DATA_SEED = 42
NOMINAL_PASS_S = 5.0  # as NOMINAL_CYCLE_S in cycle.py; a pass took 3.5 s to 7.5 s

# query -> (operator family, source tables it reads)
QUERIES = {
    "run_summary_rollup": ("relational", ("orders", "lineitem")),
    "json_flatten_props": ("json", ("events",)),
    "session_window_agg": ("window", ("events",)),
    "dedup_simhash": ("dedup", ("documents",)),
    "similarity_ann_ivf": ("similarity", ("embeddings",)),
    "tfidf_top_terms": ("text", ("documents",)),
    "pandas_group_zscore": ("python_udf", ("documents",)),
}
FAMILIES = ("relational", "json", "window", "dedup", "similarity", "text", "python_udf")


def prepare(data_dir: str, seed: int) -> None:
    datagen.generate(data_dir, SF, DATA_SEED)


def query_order(seed: int) -> list[str]:
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return order


class _Collected:
    """Rows already collected from a query, in the shape
    ``oracle_utils.compare`` reads from a DataFrame."""

    def __init__(self, df) -> None:
        self.columns, self.schema = df.columns, df.schema
        self._rows = df.collect()

    def collect(self):
        return self._rows


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run(spark, data_dir: str, work_dir: str, seed: int, seconds: float,
        tracer: Tracer | None) -> Outcome:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tests"))
    import oracle_utils

    from etl_pipe_spark.plans.catalog import oracle_sql, queries

    registry, oracles = queries(), oracle_sql()
    order = query_order(seed)
    table_rows = {t: pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows
                  for t in datagen.ALL_TABLES}
    input_rows = {q: sum(table_rows[t] for t in QUERIES[q][1]) for q in order}
    attempted = failed = wrong = 0

    # warm-up pass: every query once, rows checked against the oracle
    con = oracle_utils.duckdb_connect(data_dir)
    warmup_s = 0.0
    t0 = time.perf_counter()
    _noop(spark.range(10))
    warmup_s += time.perf_counter() - t0
    for name in order:
        attempted += 1
        try:
            t0 = time.perf_counter()
            rows = _Collected(registry[name](spark, data_dir))
            warmup_s += time.perf_counter() - t0
        except Exception as exc:  # one failing query must not hide the others
            print(f"perfbench: {name} failed: {exc!r}", flush=True)
            failed += 1
            continue
        try:
            oracle_utils.compare(rows, con, oracles[name], name)
        except AssertionError as exc:
            print(f"perfbench: {name} differs from its oracle: {exc}", flush=True)
            wrong += 1
    con.close()

    jobs = JobCounter(spark) if tracer else None
    plain: dict[str, list[float]] = {q: [] for q in order}
    traced: dict[str, list[dict]] = {q: [] for q in order}
    pass_s: list[float] = []
    rows = 0  # input rows of the queries that completed
    gc0 = gc_seconds(spark)
    # two passes at least: their mean is steadier than one pass, and a
    # traced run then has each query traced once and untraced once
    for p in range(max(2, round(seconds / NOMINAL_PASS_S))):
        t_pass = time.perf_counter()
        for i, name in enumerate(order):
            attempted += 1
            trace_this = tracer is not None and (i + p) % 2 == 0
            try:
                if trace_this:
                    tracer.op = f"{name}-{p}"
                    jobs.start(tracer.op)
                    try:
                        with tracer.span("query"):
                            with tracer.span("build"):
                                df = registry[name](spark, data_dir)
                            with tracer.span("exec"):
                                _noop(df)
                    finally:
                        n_jobs = jobs.stop()
                    _, spans = tracer.durations(tracer.op)
                    traced[name].append({**spans, "jobs": n_jobs})
                else:
                    t0 = time.perf_counter()
                    _noop(registry[name](spark, data_dir))
                    plain[name].append(time.perf_counter() - t0)
            except Exception as exc:
                print(f"perfbench: {name} failed: {exc!r}", flush=True)
                failed += 1
                continue
            rows += input_rows[name]
        pass_s.append(time.perf_counter() - t_pass)
    gc_s = gc_seconds(spark) - gc0
    n_timed = len(pass_s) * len(order)

    layers: dict[str, float] = {}
    if tracer:
        family_s = dict.fromkeys(FAMILIES, 0.0)
        overhead = []
        for name in order:
            runs = traced[name]
            build, execute = mean(r["build"] for r in runs), mean(r["exec"] for r in runs)
            layers[f"q.{name}.build_s"] = build
            layers[f"q.{name}.exec_s"] = execute
            layers[f"q.{name}.jobs"] = mean(r["jobs"] for r in runs)
            family_s[QUERIES[name][0]] += build + execute
            if runs and plain[name]:
                overhead.append(build + execute - mean(plain[name]))
        layers.update({f"family.{f}_s": s for f, s in family_s.items()})
        layers["trace.overhead_s"] = mean(overhead)
        layers["jvm.gc_s"] = gc_s / n_timed

    # one operation is one pass: the median of seven queries of unequal
    # cost jumps between them, the pass time does not
    query_s = [t for q in order for t in plain[q]]
    return Outcome(
        setup={"preload_s": 0.0, "warmup_s": warmup_s},
        op_s=pass_s, rows=rows,
        attempted=attempted, failed=failed, wrong=wrong, layers=layers,
        info={"query_order": order, "passes": len(pass_s),
              "query_p50_s": statistics.median(query_s),
              "query_p50_s_by_name": {q: statistics.median(plain[q]) for q in order if plain[q]},
              "jvm_gc_s": gc_s},
    )
