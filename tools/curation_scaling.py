"""Scaling sweep for the corpus-curation batch-4 operators.

Reuses the dedup_scaling synthetic corpora (boilerplate-heavy: 30% of
docs share an 8-word preamble — exactly the repeated "paragraph" the
segment dedup must collapse) and times the REGISTERED implementations
(the corpora expose the same `documents.parquet` layout the plans
read, so `sf_dir=/tmp/dedup_scale/nN` drives the real code), plus an
md5-vs-raw window-key differential for the paragraph dedup.

Measurement notes (learned the hard way in r8):

* The first expression-heavy pipeline of a session pays JVM/codegen
  warmup — measured 76 s for a job that runs in 4 s warm.  The sweep
  burns one untimed warmup pass before any timed leg.
* The r8 sweep's FIRST run of the curriculum leg at 1M rows caught a
  real correctness bug (duplicate global ranks out of the two-phase
  rank under AQE-divergent shuffle reads — see operators/ordering.py);
  the permutation assert below is load-bearing, keep it.

Usage:  python tools/curation_scaling.py [--scales 250000,1000000]
Prints one JSON line per (op, N) with wall seconds + result invariants.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tools.dedup_scaling import gen_corpus  # same corpus, same seed


def para_window_variant(docs, key_md5: bool):
    """The paragraph-dedup pipeline with a switchable window key —
    the md5-vs-raw differential only; the timed op is the registered
    plan."""
    from etl_pipe_spark.functions.text import ws_tokens
    from etl_pipe_spark.plans.corpus_plans4 import _SEG

    toks = ws_tokens(F.col("text"))
    n_segs = F.ceil(F.size(toks) / F.lit(float(_SEG))).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * _SEG + 1, _SEG)),
    )
    segs = docs.select("doc_id", F.posexplode(seg_arr).alias("seg_no", "seg_text"))
    key = F.md5("seg_text") if key_md5 else F.col("seg_text")
    w = W.partitionBy(key).orderBy("doc_id", "seg_no")
    marked = segs.withColumn("rn", F.row_number().over(w))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        )
        .agg(
            F.sum("n_segs").alias("segs"),
            F.sum("n_kept").alias("kept"),
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="250000,1000000")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from etl_pipe_spark.operators import scope
    from etl_pipe_spark.plans.catalog import REGISTRY, _load_all
    from etl_pipe_spark.session import get_spark

    _load_all()
    spark = get_spark(
        "curation-scaling", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    para = REGISTRY["paragraph_dedup_reassemble"].fn
    curr = REGISTRY["curriculum_quantile_interleave"].fn
    nov = REGISTRY["ngram_novelty_score"].fn

    # JVM/codegen warmup: one untimed expression-heavy pass.
    warm_dir = gen_corpus(scales[0])
    para(spark, warm_dir).agg(F.count(F.lit(1))).collect()

    for n in scales:
        sf_dir = gen_corpus(n)

        t0 = time.time()
        out = para(spark, sf_dir)
        row = out.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_segs").alias("segs"),
            F.sum("n_kept").alias("kept"),
        ).collect()[0]
        print(json.dumps({
            "op": "paragraph_dedup", "n_docs": n,
            "wall_s": round(time.time() - t0, 2),
            "segs": row["segs"], "kept": row["kept"],
        }), flush=True)

        # md5-vs-raw window-key differential (same corpus, warm JVM)
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")).repartition(64).persist()
        docs.count()
        for key_md5 in (False, True):
            t0 = time.time()
            row = para_window_variant(docs, key_md5).collect()[0]
            print(json.dumps({
                "op": "paragraph_key_variant", "n_docs": n,
                "key": "md5" if key_md5 else "raw",
                "wall_s": round(time.time() - t0, 2), "kept": row["kept"],
            }), flush=True)
        docs.unpersist()

        t0 = time.time()
        out = curr(spark, sf_dir)
        chk = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("schedule_pos").alias("pos_sum"),
            F.countDistinct("bucket").alias("buckets"),
        ).collect()[0]
        wall = round(time.time() - t0, 2)
        assert chk["pos_sum"] == n * (n + 1) // 2, "schedule_pos not a permutation"
        print(json.dumps({
            "op": "curriculum", "n_docs": n, "wall_s": wall,
            "rows": chk["rows"], "buckets": chk["buckets"],
        }), flush=True)
        scope.release()

        t0 = time.time()
        out = nov(spark, sf_dir)
        chk = out.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_grams").alias("grams"),
            F.sum("n_novel").alias("novel"),
        ).collect()[0]
        print(json.dumps({
            "op": "novelty", "n_docs": n, "wall_s": round(time.time() - t0, 2),
            "docs": chk["docs"], "grams": chk["grams"], "novel": chk["novel"],
        }), flush=True)


if __name__ == "__main__":
    main()
