"""Dedup/LSH scaling stress: synthetic sf1/sf5-scale corpora.

The driver testdata tops out at sf0.1 (5,000 documents), so this tool
generates boilerplate-heavy corpora at 1x/10x/50x that size (= sf0.1 /
sf1 / sf5 document counts) and times the dedup family on them,
verifying (a) near-linear runtime scaling and (b) the hot-shingle df
cap keeping candidate counts sub-quadratic when 30% of the corpus
shares a boilerplate preamble.

Corpus recipe (deterministic, numpy PCG64 seed 7):
  * ~50-word docs over a 2,000-word vocabulary (random docs share
    almost no 3-gram, like real text);
  * 30% of docs open with the same 8-word boilerplate phrase — every
    boilerplate shingle has df ~ 0.3N, thousands of times the cap;
  * 1% of docs are near-duplicates (a copy with one word changed) —
    the real pairs dedup must still find under the cap.

Usage:  python tools/dedup_scaling.py [--scales 5000,50000,250000]
Writes /tmp/dedup_scale/n{N}/documents.parquet and prints a table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOILER = "all rights reserved unauthorized reproduction strictly prohibited worldwide"
OUT_ROOT = "/tmp/dedup_scale"


def gen_corpus(n: int, seed: int = 7) -> str:
    out_dir = os.path.join(OUT_ROOT, f"n{n}")
    path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(path):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = np.array([f"w{i:04d}" for i in range(2000)])
    texts: list[str] = []
    n_base = n - n // 100  # last 1% are near-dups of earlier docs
    for i in range(n_base):
        words = list(vocab[rng.integers(0, len(vocab), size=50)])
        if i % 10 < 3:  # 30% boilerplate-headed
            text = BOILER + " " + " ".join(words)
        else:
            text = " ".join(words)
        texts.append(text)
    for j in range(n - n_base):  # near-dup: one word swapped
        src = texts[j * 97 % n_base].split()
        src[len(src) // 2] = "wXXXX"
        texts.append(" ".join(src))
    sources = [f"src{i % 3}" for i in range(n)]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, path)

    # Matching embeddings table (16 clusters + noise, unit-normalized)
    # so the vector family (semantic_dedup / IVF / k-means) sweeps too.
    centers = rng.normal(size=(16, 64)).astype(np.float32)
    vecs = centers[rng.integers(0, 16, size=n)] + 0.3 * rng.normal(
        size=(n, 64)
    ).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array((np.arange(n) % 16).astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def gen_embeddings(n: int, seed: int = 7) -> str:
    """Embeddings-only corpus for the vector-family sweep (1M vectors
    is ~256 MB of float32; generating the matching text corpus would
    dominate setup time and isn't read by the vector operators)."""
    out_dir = os.path.join(OUT_ROOT, f"v{n}")
    path = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(path):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    centers = rng.normal(size=(16, 64)).astype(np.float32)
    vecs = centers[rng.integers(0, 16, size=n)] + 0.3 * rng.normal(
        size=(n, 64)
    ).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array((np.arange(n) % 16).astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(emb, path)
    return out_dir


def gen_embeddings_zipf(n: int, seed: int = 11, hot_frac: float = 0.10,
                        hot_jitter: float = 0.01, tag: str = "z") -> str:
    """Zipf-clustered corpus: ONE hot direction holds ``hot_frac`` of
    the corpus, the rest follows a 1/rank Zipf over 255 other centers
    with the uniform sweep's 0.3 jitter.  Two stress shapes:

    * ``hot_jitter`` = 0.01 (tag 'z'): a dense-but-distinct hot
      region.  Finding: the density-proportional sampled centroid
      seed SUBDIVIDES it (~hot_frac of the sampled centroids are hot
      members), so the hot region self-shards across ~k x hot_frac
      near-identical cells — max cell measured ~6x the mean, not
      hot_frac x N.
    * ``hot_jitter`` = 0.0 (tag 's'): an EXACT-duplicate spike —
      byte-identical vectors tie-break into one cell by cent_id, so a
      single cell really does hold hot_frac of the corpus.  This is
      the case semantic_dups_blas's exact-dup pre-collapse exists for.
    """
    out_dir = os.path.join(OUT_ROOT, f"{tag}{n}")
    path = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(path):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    centers = rng.normal(size=(256, 64)).astype(np.float32)
    n_hot = int(n * hot_frac)
    ranks = np.arange(1, 256)
    probs = (1.0 / ranks) / (1.0 / ranks).sum()
    cold_cluster = rng.choice(255, size=n - n_hot, p=probs) + 1
    cluster = np.concatenate([np.zeros(n_hot, np.int64), cold_cluster])
    cluster = cluster[rng.permutation(n)]  # interleave ids across clusters
    jitter = np.where(cluster == 0, hot_jitter, 0.3).astype(np.float32)
    vecs = centers[cluster] + jitter[:, None] * rng.normal(
        size=(n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(cluster.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(emb, path)
    return out_dir


def zipf_sweep(scales: list[int], corpora_tags: list[str] | None = None) -> None:
    """Hot-cell stress: run the production vector kernels on the
    Zipf-clustered corpus, reporting the realized max cell size along
    with wall time — the quantity that would go quadratic/OOM if the
    blocked kernels regressed to materializing m x m."""
    import time as _t

    from pyspark.sql import functions as F

    from etl_pipe_spark.operators.ann import centroid_matrix, ivf_assign_vectorized
    from etl_pipe_spark.operators.similarity import ivf_centroids_for_corpus
    from etl_pipe_spark.plans.dedup_plans import (
        _emb_with_norms, ann_ivf_scaled, semantic_dedup_scaled)
    from etl_pipe_spark.session import get_spark

    spark = get_spark("zipf-scaling")
    corpora = tuple(
        c for c in (
            ("zipf-hot10pct", dict(hot_jitter=0.01, tag="z")),
            ("dup-spike10pct", dict(hot_jitter=0.0, tag="s")),
        )
        if corpora_tags is None or c[1]["tag"] in corpora_tags
    )
    for n in scales:
        for corpus, gen_kw in corpora:
            sf_dir = gen_embeddings_zipf(n, **gen_kw)
            row: dict = {"n_vecs": n, "corpus": corpus}
            emb = _emb_with_norms(spark, sf_dir)
            k = ivf_centroids_for_corpus(n)
            cent_ids, cent_mat = centroid_matrix(emb, k)
            # ONE assignment pass serves both the cell-size stats
            # (rn = 1) and the ADC search probes (rn <= 2), cached so
            # neither consumer recomputes the matmul
            ranked = ivf_assign_vectorized(
                emb, cent_ids, cent_mat, nprobe=2).cache()
            cells = (
                ranked.filter("rn = 1").groupBy("cent_id").count()
                .agg(F.max("count"), F.count(F.lit(1))).first()
            )
            row["k"] = k
            row["max_cell"] = cells[0]
            row["n_cells_hit"] = cells[1]
            t0 = _t.time()
            row["ann_ivf_scaled_rows"] = ann_ivf_scaled(spark, sf_dir).count()
            row["ann_ivf_scaled"] = round(_t.time() - t0, 2)
            t0 = _t.time()
            row["semantic_dedup_scaled_rows"] = semantic_dedup_scaled(
                spark, sf_dir).count()
            row["semantic_dedup_scaled"] = round(_t.time() - t0, 2)
            # IVFADC under the same hot cell: the score_cell group for
            # the hot centroid holds max_cell x m int64 codes — must
            # stay flat-ish, never corpus x corpus.  encode + ranked
            # are cached and MATERIALIZED before the timer (same
            # isolation as vector_sweep) so the reported time is the
            # search stage, not lineage recompute.
            from etl_pipe_spark.operators import pq as PQ

            vecs = emb.select("vec_id", "v")
            cb = PQ.pq_codebooks_deterministic(vecs)
            enc = PQ.pq_encode(vecs, cb).cache()
            enc.count()
            ranked.count()
            queries_df = (vecs.filter(F.col("vec_id") % 1000 == 0)
                          .withColumnRenamed("vec_id", "query_id"))
            t0 = _t.time()
            row["ivfpq_search_rows"] = PQ.ivfpq_adc_topk(
                enc, ranked, queries_df, cb, k=5, nprobe=2).count()
            row["ivfpq_search"] = round(_t.time() - t0, 2)
            enc.unpersist()
            ranked.unpersist()
            print(json.dumps(row), flush=True)


def corpus6_sweep(scales: list[int]) -> None:
    """Scale the round-6 corpus quartet on the boilerplate-heavy corpus.

    The adversarial bits per op: substring_dedup_windows sees ONE
    8-gram window (the boilerplate opener) with df = 0.3N — the window
    index groupBy must partial-aggregate it, and the dup-index join
    must not blow up; domain_cap_sampling sees THREE mega-domains of
    N/3 docs each — the rank must stay a WindowGroupLimit pre-filter,
    never a full per-domain sort of N/3 rows beyond the cap;
    bpe_pair_stats must collapse the token stream to the 2,001-word
    vocabulary BEFORE exploding pairs (cost flat in N after the word
    count); sq8 is two linear passes + a 64-row broadcast.
    """
    import time as _t

    from etl_pipe_spark.plans.catalog import queries
    from etl_pipe_spark.session import get_spark

    spark = get_spark("corpus6-scaling")
    qs = queries()
    results = []
    for n in scales:
        sf_dir = gen_corpus(n)
        row: dict = {"n_docs": n}
        for name in ("substring_dedup_windows", "domain_cap_sampling",
                     "bpe_pair_stats", "sq8_embedding_quantization"):
            t0 = _t.time()
            cnt = qs[name](spark, sf_dir).count()
            row[name] = round(_t.time() - t0, 2)
            row[f"{name}_rows"] = cnt
        results.append(row)
        print(json.dumps(row), flush=True)
    base = results[0]
    print("\nscaling ratios vs first row:")
    for r in results:
        k = r["n_docs"] / base["n_docs"]
        ratios = " ".join(
            f"{name}={r[name] / max(base[name], 0.01):.1f}x"
            for name in ("substring_dedup_windows", "domain_cap_sampling",
                         "bpe_pair_stats", "sq8_embedding_quantization")
        )
        print(f'{r["n_docs"]:7d} (x{k:.0f} docs): {ratios}')


def round6b_sweep(scales: list[int]) -> None:
    """Scale the late-round-6 additions on the boilerplate corpus.

    The adversarial bits per op: pagerank_neardup_graph runs 8 exact
    power iterations over the SimHash pair graph — per-iteration cost
    must track |E| (sparse by construction), and the near-dup tail
    (1% one-word-swapped clones) guarantees a non-trivial edge set;
    bpe_train_merges must collapse to the 2,001-word vocabulary ONCE
    and keep every merge round vocab-sized (wall flat in N after the
    word count); dsir_importance_select's model is B=1024 buckets
    whatever the corpus; temperature_mixture_select sees THREE
    mega-sources of N/3 docs; exact_global_quantiles is the two-phase
    rank — one range shuffle, no single-task window.
    """
    import time as _t

    from etl_pipe_spark.plans.catalog import queries
    from etl_pipe_spark.session import get_spark

    spark = get_spark("round6b-scaling")
    qs = queries()
    names = ("pagerank_neardup_graph", "bpe_train_merges",
             "dsir_importance_select", "temperature_mixture_select",
             "exact_global_quantiles")
    results = []
    import gc as _gc

    for n in scales:
        sf_dir = gen_corpus(n)
        row: dict = {"n_docs": n}
        for name in names:
            best = None
            for _ in range(2):  # best-of-2: drop JIT/IO warm-up noise
                t0 = _t.time()
                cnt = qs[name](spark, sf_dir).count()
                el = _t.time() - t0
                best = el if best is None else min(best, el)
                # Release localCheckpoint blocks (pagerank/BPE hold 8+
                # checkpointed tables each); without this the NEXT
                # query's shuffles spill against dead storage memory
                # and the sweep reads 3-4x worse than isolation.
                _gc.collect()
                spark.sparkContext._jvm.System.gc()
            row[name] = round(best, 2)
            row[f"{name}_rows"] = cnt
        results.append(row)
        print(json.dumps(row), flush=True)
    base = results[0]
    print("\nscaling ratios vs first row:")
    for r in results:
        k = r["n_docs"] / base["n_docs"]
        ratios = " ".join(
            f"{name}={r[name] / max(base[name], 0.01):.1f}x"
            for name in names
        )
        print(f'{r["n_docs"]:7d} (x{k:.0f} docs): {ratios}')


def gen_events(n: int, seed: int = 13) -> str:
    """Synthetic 30-day event stream at n rows (~n/67 users, the
    testdata ratio).  Deterministic; written once per size."""
    out_dir = os.path.join(OUT_ROOT, f"ev{n}")
    path = os.path.join(out_dir, "events.parquet")
    if os.path.exists(path):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    users = max(1, n // 67)
    base = np.datetime64("2024-01-01T00:00:00.000000")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = base + rng.integers(0, span_us, size=n).astype("timedelta64[us]")
    ts.sort()
    types = np.array(["view", "click", "purchase", "signup", "error"])
    tbl = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.uniform(0, 100, size=n), 2)),
        "props": pa.array(["{}"] * n),
    })
    pq.write_table(tbl, path)
    return out_dir


def session6c_sweep(scales: list[int]) -> None:
    """Scale the end-of-round-6 additions.

    Events trio on synthetic 30-day streams (gen_events):
    timeseries_gapfill's spine is span-hours x users and its rollup is
    map-side partial — wall must track users, not events;
    event_funnel_conversion is three co-partitioned user aggregates —
    linear in events; hive_partition_pruning pays the partitioned
    WRITE (the read prunes 29/30 days regardless of size).

    Docs trio on the boilerplate corpus (gen_corpus, 1% near-dup
    tail): unicode_nfc_normalize is one shuffle-free Arrow map pass;
    weighted_priority_sample is TakeOrdered (k-row heaps); triangle_
    clustering_coeff's wedge work is bounded by the VERIFIED near-dup
    graph (~n/100 edges from the clone tail), so the MinHash pipeline
    dominates and wall must track the dedup family's.
    """
    import gc as _gc
    import time as _t

    from etl_pipe_spark.plans.catalog import queries
    from etl_pipe_spark.session import get_spark

    spark = get_spark("session6c-scaling")
    qs = queries()
    ev_names = ("timeseries_gapfill", "event_funnel_conversion",
                "hive_partition_pruning")
    doc_names = ("unicode_nfc_normalize", "weighted_priority_sample",
                 "triangle_clustering_coeff")
    results = []
    for n in scales:
        ev_dir = gen_events(n)
        doc_dir = gen_corpus(max(n // 20, 5000))  # events:docs ~ testdata ratio
        row: dict = {"n_events": n, "n_docs": max(n // 20, 5000)}
        for name, sf_dir in [(x, ev_dir) for x in ev_names] + [
                (x, doc_dir) for x in doc_names]:
            best = None
            for _ in range(2):
                t0 = _t.time()
                cnt = qs[name](spark, sf_dir).count()
                el = _t.time() - t0
                best = el if best is None else min(best, el)
                _gc.collect()
                spark.sparkContext._jvm.System.gc()
            row[name] = round(best, 2)
            row[f"{name}_rows"] = cnt
        results.append(row)
        print(json.dumps(row), flush=True)
    base = results[0]
    print("\nscaling ratios vs first row (doc ops keyed to n_docs — "
          "the doc corpus is clamped at 5k below 100k events, so "
          "event-keyed ratios there would fake 1.0x linearity):")
    for r in results:
        ke = r["n_events"] / base["n_events"]
        kd = r["n_docs"] / base["n_docs"]
        ev_r = " ".join(f"{n}={r[n] / max(base[n], 0.01):.1f}x"
                        for n in ev_names)
        doc_r = " ".join(f"{n}={r[n] / max(base[n], 0.01):.1f}x"
                         for n in doc_names)
        print(f'{r["n_events"]:9d} ev (x{ke:.0f}): {ev_r}')
        print(f'{r["n_docs"]:9d} docs (x{kd:.0f}): {doc_r}')


def vector_sweep(scales: list[int], families: list[str]) -> None:
    """Time the production vector paths at each scale; one JSON row per
    scale.  kmeans_fit reports time-to-converge (k=16 matching the
    generated cluster count, tol=1e-3) plus the iteration count."""
    import time as _t

    from etl_pipe_spark.operators.ann import kmeans_fit
    from etl_pipe_spark.plans.dedup_plans import (
        _emb_with_norms, ann_ivf_scaled, semantic_dedup_scaled)
    from etl_pipe_spark.session import get_spark

    spark = get_spark("vector-scaling")
    for n in scales:
        sf_dir = gen_embeddings(n)
        row: dict = {"n_vecs": n}
        if "ann" in families:
            t0 = _t.time()
            row["ann_ivf_scaled_rows"] = ann_ivf_scaled(spark, sf_dir).count()
            row["ann_ivf_scaled"] = round(_t.time() - t0, 2)
        if "semantic" in families:
            t0 = _t.time()
            row["semantic_dedup_scaled_rows"] = semantic_dedup_scaled(
                spark, sf_dir).count()
            row["semantic_dedup_scaled"] = round(_t.time() - t0, 2)
        if "kmeans" in families:
            emb = _emb_with_norms(spark, sf_dir)
            t0 = _t.time()
            fit = kmeans_fit(emb, k=16, max_iters=10, tol=1e-3)
            row["kmeans_fit_assign_rows"] = fit.assignment.count()
            row["kmeans_fit"] = round(_t.time() - t0, 2)
            row["kmeans_fit_iters"] = fit.n_iters
        if "ivfpq" in families:
            # the COMBINED production index at scale: fitted PQ
            # codebooks (per-subspace fused Lloyd), Arrow-batched
            # encode, vectorized IVF assignment, then the cell-grouped
            # ADC search — each stage timed separately so a future
            # wall is attributable
            from pyspark.sql import functions as F

            from etl_pipe_spark.operators import pq as PQ
            from etl_pipe_spark.operators.ann import (
                centroid_matrix, ivf_assign_vectorized)
            from etl_pipe_spark.operators.similarity import (
                ivf_centroids_for_corpus)
            from etl_pipe_spark.plans.dedup_plans import _emb_with_norms

            # the index's raw storage (vectors + precomputed norms) is
            # persisted in production; cache it so every stage below
            # measures its own cost, not a repeated norm-fold scan
            emb = _emb_with_norms(spark, sf_dir).cache()
            emb.count()
            vecs = emb.select("vec_id", "v")
            t0 = _t.time()
            fit = PQ.pq_fit(vecs, max_iters=5)
            row["pq_fit"] = round(_t.time() - t0, 2)
            row["pq_fit_iters"] = fit.n_iters
            t0 = _t.time()
            enc = PQ.pq_encode(vecs, fit.codebooks).cache()
            row["pq_encode_rows"] = enc.count()
            row["pq_encode"] = round(_t.time() - t0, 2)
            t0 = _t.time()
            cent_ids, cent_mat = centroid_matrix(
                emb, ivf_centroids_for_corpus(n))
            ranked = ivf_assign_vectorized(
                emb, cent_ids, cent_mat, nprobe=2).cache()
            row["ivf_assign_rows"] = ranked.count()
            row["ivf_assign"] = round(_t.time() - t0, 2)
            queries_df = (vecs.filter(F.col("vec_id") % 1000 == 0)
                          .withColumnRenamed("vec_id", "query_id"))
            t0 = _t.time()
            res = PQ.ivfpq_adc_topk(
                enc, ranked, queries_df, fit.codebooks, k=5, nprobe=2)
            row["ivfpq_search_rows"] = res.count()
            row["ivfpq_search"] = round(_t.time() - t0, 2)
            # exact rerank stage (IndexRefineFlat): ADC top-15 shortlist
            # re-scored from raw vectors — queries x 15 exact cosines
            from pyspark.sql import Window as W

            shortlist = PQ.ivfpq_adc_topk(
                enc, ranked, queries_df, fit.codebooks, k=15, nprobe=2
            ).select("query_id", "neighbor_id").cache()
            shortlist.count()  # the ADC pass is timed above, not here
            q_side = emb.select(F.col("vec_id").alias("query_id"),
                                F.col("v").alias("qv"),
                                F.col("v_norm").alias("qn"))
            n_side = emb.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("v").alias("nv"),
                                F.col("v_norm").alias("nn"))
            from etl_pipe_spark.functions import vectors as VX
            cos = VX.safe_div(VX.dot(F.col("qv"), F.col("nv")),
                              F.col("qn") * F.col("nn"))
            w = W.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id"))
            t0 = _t.time()
            row["ivfpq_rerank_rows"] = (
                n_side.join(F.broadcast(
                    q_side.join(F.broadcast(shortlist), "query_id")),
                    "neighbor_id")
                .withColumn("cosine", cos)
                .withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= 5).count()
            )
            row["ivfpq_rerank"] = round(_t.time() - t0, 2)
            shortlist.unpersist()
            enc.unpersist()
            ranked.unpersist()
            emb.unpersist()
        if "pca" in families:
            from pyspark.sql import functions as F

            from etl_pipe_spark.operators.linalg import pca_top_component
            emb = spark.read.parquet(
                os.path.join(sf_dir, "embeddings.parquet")
            ).select(F.col("embedding").cast("array<double>").alias("v"))
            t0 = _t.time()
            res = pca_top_component(emb)
            row["pca_top_component"] = round(_t.time() - t0, 2)
            row["pca_n"] = res.n
            row["pca_proj_rel_err"] = float(
                abs(res.proj_sumsq - res.lam1) / max(abs(res.lam1), 1.0))
        print(json.dumps(row), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="5000,50000,250000")
    ap.add_argument("--uncapped-at", type=int, default=5000,
                    help="also count uncapped candidates at this scale (expensive)")
    ap.add_argument("--vector-scales", default=None,
                    help="run ONLY the vector-family sweep at these sizes "
                         "(e.g. 50000,250000,1000000)")
    ap.add_argument("--vector-families", default="ann,semantic,kmeans")
    ap.add_argument("--zipf-scales", default=None,
                    help="run ONLY the Zipf hot-cell stress sweep at these "
                         "sizes (e.g. 250000,1000000)")
    ap.add_argument("--zipf-corpora", default="z,s",
                    help="which zipf corpora to run: z (hot cluster), "
                         "s (exact-dup spike), or z,s")
    ap.add_argument("--corpus6-scales", default=None,
                    help="run ONLY the round-6 corpus-quartet sweep at these "
                         "sizes (e.g. 5000,50000,250000)")
    ap.add_argument("--round6b-scales", default=None,
                    help="run ONLY the late-r6 sweep (pagerank/bpe/dsir/"
                         "temperature/quantiles) at these sizes")
    ap.add_argument("--session6c-scales", default=None,
                    help="run ONLY the end-r6 sweep (gapfill/funnel/hive/"
                         "nfc/priority-sample/triangle) at these EVENT "
                         "counts (docs = events/20)")
    args = ap.parse_args()
    if args.session6c_scales:
        session6c_sweep([int(s) for s in args.session6c_scales.split(",")])
        return
    if args.round6b_scales:
        round6b_sweep([int(s) for s in args.round6b_scales.split(",")])
        return
    if args.corpus6_scales:
        corpus6_sweep([int(s) for s in args.corpus6_scales.split(",")])
        return
    if args.zipf_scales:
        zipf_sweep([int(s) for s in args.zipf_scales.split(",")],
                   corpora_tags=args.zipf_corpora.split(","))
        return
    if args.vector_scales:
        vector_sweep([int(s) for s in args.vector_scales.split(",")],
                     args.vector_families.split(","))
        return
    scales = [int(s) for s in args.scales.split(",")]

    from etl_pipe_spark.operators import dedup as DD
    from etl_pipe_spark.plans.catalog import queries
    from etl_pipe_spark.session import get_spark

    spark = get_spark("dedup-scaling")
    qs = queries()
    results = []
    for n in scales:
        sf_dir = gen_corpus(n)
        row: dict = {"n_docs": n}

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        sharr = DD.shingle_arrays(docs.repartition(32), n=3)

        # candidate counts (pairs sharing >= 1 indexed shingle, i.e. the
        # Jaccard operator at threshold 0): capped always; uncapped (a
        # cap no df can exceed) only at the small scale
        t0 = time.time()
        row["cand_capped"] = DD.jaccard_pairs_capped(sharr, 0.0, DD.MAX_DF).count()
        row["cand_capped_sec"] = round(time.time() - t0, 2)
        if n <= args.uncapped_at:
            t0 = time.time()
            row["cand_uncapped"] = DD.jaccard_pairs_capped(sharr, 0.0, n).count()
            row["cand_uncapped_sec"] = round(time.time() - t0, 2)
        n_boiler = int(0.3 * n)
        row["uncapped_lower_bound"] = n_boiler * (n_boiler - 1) // 2

        for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh",
                     "corpus_curation_pipeline", "dedup_clusters",
                     "contamination_check", "quality_repetition_filter",
                     "sequence_packing", "kmeans_update_step",
                     # r5: span boilerplate removal is the op this
                     # corpus's 30%-boilerplate preamble stresses most
                     "boilerplate_span_removal", "token_budget_selection",
                     # late r5: the batch-vs-history probe must track
                     # the batch-mode LSH cost, not the corpus square
                     "incremental_neardup_lsh"):
            t0 = time.time()
            cnt = qs[name](spark, sf_dir).count()
            row[name] = round(time.time() - t0, 2)
            row[f"{name}_rows"] = cnt

        # Vector family: the PRODUCTION entrypoints (numpy-matmul
        # assignment, sqrt(N) cells).  The registered pinned-k=32
        # expression forms are the oracle surface, not the scale path —
        # they were measured once going quadratic here (505 s ANN at
        # 250k) and that finding lives in docs/BENCH_COMPARE.md.
        from etl_pipe_spark.plans.dedup_plans import (
            ann_ivf_scaled, semantic_dedup_scaled)
        for name, fn in (("ann_ivf_scaled", ann_ivf_scaled),
                         ("semantic_dedup_scaled", semantic_dedup_scaled)):
            t0 = time.time()
            cnt = fn(spark, sf_dir).count()
            row[name] = round(time.time() - t0, 2)
            row[f"{name}_rows"] = cnt
        results.append(row)
        print(json.dumps(row))

    print("\nscaling ratios vs first row (runtime multiple at Nx docs):")
    base = results[0]
    names = ("dedup_ngram_jaccard", "dedup_minhash_lsh",
             "corpus_curation_pipeline", "dedup_clusters",
             "contamination_check", "quality_repetition_filter",
             "sequence_packing", "semantic_dedup_scaled", "ann_ivf_scaled",
             "kmeans_update_step")
    for r in results:
        k = r["n_docs"] / base["n_docs"]
        ratios = " ".join(
            f"{name.split('_')[0][:8]}={r[name] / max(base[name], 0.01):.1f}x"
            for name in names
        )
        print(f'{r["n_docs"]:7d} (x{k:.0f} docs, cand_capped={r["cand_capped"]}): {ratios}')


if __name__ == "__main__":
    main()
