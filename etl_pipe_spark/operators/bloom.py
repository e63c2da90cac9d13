"""Distributed Bloom filter: build via bit_or OR-reduce, probe via
broadcast join — the incremental-dedup index for a corpus too large to
join against.

The 100 TB problem this solves: deduplicating a NEW ingest batch
against an existing multi-petabyte corpus must not shuffle the
historical corpus per batch.  A Bloom filter compresses the historical
membership set into a fixed-size bit array built ONCE with a single
aggregation (k hash positions per key, OR-reduced into m/64 int64
words — ordinary map-side-combining groupBy), persisted like any other
dimension table, and probed map-side by every future batch through a
broadcast join.  No historical row is ever touched again; false
positives (bounded by the m/n sizing) cost only a redundant downstream
check, false negatives are impossible — which is exactly the property
the registered query's invariant-boolean oracle pins.

Everything here is native Catalyst expressions — xxhash64 positions,
shiftleft masks, bit_or aggregation, a broadcast hash join for the
probe.  No UDF, no driver-side bitmap: the filter LIVES as a
(word_idx, word) DataFrame, so it scales past driver memory and
serializes through the ordinary broadcast machinery (2 MiB per 2^24
bits).  xxhash64 is partition- and run-deterministic, so a filter
built today answers identically forever.

Sizing: m >= 10 bits per key for k=4 puts the theoretical
false-positive rate (1 - e^(-kn/m))^k under 1.2%.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

BLOOM_K = 4  # hash functions; fp ~ (1 - e^(-k*n/m))^k


def _positions(col: Column, m_bits: int) -> Column:
    """Array of BLOOM_K bit positions in [0, m_bits) for a key."""
    return F.array(*[
        F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m_bits))
        for seed in range(BLOOM_K)
    ])


def bloom_build(keys: DataFrame, key_col: str, m_bits: int) -> DataFrame:
    """OR-reduce the key set into (word_idx, word) int64 rows.

    One explode (k rows per key) + one groupBy: partial bit_or runs
    map-side, the shuffle carries at most m/64 rows per map task.  The
    result has <= m/64 rows regardless of key count — broadcastable by
    construction once m is chosen.
    """
    pos = (
        keys.select(F.explode(_positions(F.col(key_col), m_bits)).alias("pos"))
        .select(
            F.expr("CAST(pos DIV 64 AS BIGINT)").alias("word_idx"),
            # SQL form: the DataFrame shiftleft only takes a literal count
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))")
            .alias("mask"),
        )
    )
    return pos.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))


def bloom_probe(batch: DataFrame, key_col: str, words: DataFrame,
                m_bits: int, hit_name: str = "bloom_hit") -> DataFrame:
    """Attach ``hit_name``: TRUE iff all k bits for the key are set.

    The words table joins broadcast (it is <= m/64 rows); a position
    whose word is absent entirely means bit unset.  Per input row the
    probe explodes to k rows and folds back with bool_and — linear,
    map-side, no shuffle of the batch beyond the k-row fan.
    """
    pos = batch.select(
        key_col,
        F.explode(_positions(F.col(key_col), m_bits)).alias("pos"),
    ).select(
        key_col,
        F.expr("CAST(pos DIV 64 AS BIGINT)").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))")
        .alias("mask"),
    )
    hit = (
        pos.join(F.broadcast(words), "word_idx", "left")
        .select(
            key_col,
            (F.col("word").isNotNull()
             & (F.col("word").bitwiseAND(F.col("mask")) != 0)).alias("__bit"),
        )
        .groupBy(key_col)
        .agg(F.bool_and("__bit").alias(hit_name))
    )
    return batch.join(hit, key_col)


def bloom_words_dense(words: DataFrame, m_bits: int) -> list[int]:
    """Driver-side dense int64 word array from the sparse build output.

    BOUNDED by construction: m_bits/64 longs whatever the key count
    (2^18 bits -> 4096 longs, 32 KB) — the same bounded-state class as
    the centroid and codebook collects in operators/ann.py.  Use with
    :func:`bloom_hit_expr` when the probe side is a fact table that
    must NOT be shuffled: the expression form filters rows inside the
    scan stage, where :func:`bloom_probe`'s explode+groupBy would cost
    a fact-table-wide exchange.
    """
    dense = [0] * (m_bits // 64)
    for r in words.collect():
        dense[int(r["word_idx"])] = int(r["word"])
    return dense


def bloom_words_column(spark, dense_words: list[int],
                       col_name: str = "__bloom_words") -> DataFrame:
    """One-row frame carrying the dense word array as a single array
    column — crossJoin(broadcast(...)) it onto the probe side (the
    repo's scalar-broadcast pattern) so :func:`bloom_hit_expr` can
    reference the array by name.  A literal array inlined per probe
    would repeat m/64 longs k times in the plan (codegen bloat at
    realistic m); the broadcast column ships the words ONCE."""
    from ..functions.frames import local_frame
    return local_frame(spark, [(dense_words,)], f"{col_name} array<bigint>")


def bloom_hit_expr(key_sql: str, m_bits: int,
                   words_col: str = "__bloom_words") -> Column:
    """Pure-expression membership test: AND over the k bit probes,
    each an element_at into the broadcast word-array column — no
    per-key join, no shuffle, evaluates map-side inside whole-stage
    codegen (the shiftleft count is a column, so the SQL form is
    required: the DataFrame ``shiftleft`` only takes literal counts,
    same note as bloom_build).  This is the hand-rolled form of
    Spark's own runtime bloom pruning
    (spark.sql.optimizer.runtime.bloomFilter.*), with the filter
    reusable across queries instead of rebuilt per plan.  ``key_sql``
    is the key's SQL expression (e.g. a column name)."""
    probes = []
    for seed in range(BLOOM_K):
        pos = f"pmod(xxhash64({key_sql}, {seed}), {m_bits})"
        word = f"element_at({words_col}, CAST({pos} DIV 64 AS INT) + 1)"
        mask = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({pos}, 64) AS INT))"
        probes.append(f"(({word} & {mask}) != 0)")
    return F.expr(" AND ".join(probes))
