"""Distributed global ordering: rank + running sum without the
single-task window.

A window with ``orderBy`` and no ``partitionBy`` is the classic
100 TB trap: Spark moves EVERY row into one task to satisfy the
global frame.  The scalable equivalent is the textbook two-phase
prefix sum:

1. assign every row a contiguous range bucket ``__pid`` — a PURE
   FUNCTION of the row's order-key values against boundary literals
   sampled once at plan-build time (NOT ``spark_partition_id``, see
   below);
2. rank / running-sum WITHIN each bucket (ordinary partitioned
   window — parallel);
3. aggregate one (count, sum) row per bucket, prefix-scan that tiny
   table (b rows for b buckets — driver-scale by construction, like
   the centroid tables in operators/ann.py), and broadcast the
   per-bucket offsets back.

The result is identical to the global window for any TOTAL order
(make the last order key a tiebreaker-unique column): every row's
rank/prefix is (rows before my bucket) + (my rank within it), and
that decomposition does not depend on where the bucket boundaries
fall, so the output is boundary- and partition-count independent and
safe to hash-check against a sequential oracle.

Why value-derived buckets instead of ``repartitionByRange`` +
``spark_partition_id`` (the r1–r8 form): the bucketed frame feeds TWO
consumers (the row output and the per-bucket offsets aggregate).
``spark_partition_id`` is a property of the PHYSICAL reader, and when
the range exchange is evaluated once per consumer the two evaluations
need not agree — AQE gives every read stage its own coalesced shuffle
reader (identical map output, different reducer grouping), and a
duplicated exchange re-samples range boundaries with an
RDD-id-derived seed.  Either way the offsets join mis-keys and ranks
collide — observed at 1M rows/local[32] as 989,558 distinct ranks of
1,000,000 (sub-window scales coalesce both branches identically,
which is why sf0.01 parity never caught it for seven rounds).  The r8
fix was a load-bearing ``persist()`` with a caller-discipline release
contract; this form removes the hazard STRUCTURALLY: ``__pid`` is
computed from the row's own values against frozen literals, so any
number of independent (re-)evaluations agree, the persist below is a
pure performance cache, and releasing it early merely recomputes —
never diverges.  It also drops a full-data shuffle: the old plan paid
a range exchange AND the window's hash exchange; this plan pays one
hash exchange on ``__pid`` (the boundary sample is a map-side
aggregate capped at :data:`_SAMPLE_BUCKETS` rows).

Order-key contract: pass plain ASCENDING value expressions — express
a descending key by negating it (every caller's descending keys are
numeric).  ``Column.desc()``/``.asc()`` markers are rejected rather
than silently mis-bucketed, because a SortOrder cannot be evaluated
as a value.  Keys must be deterministic and NaN-free; NULL keys sort
first (struct-ordering semantics, matching the window's default
``ASC NULLS FIRST``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from . import scope

# Upper bound on the boundary-sample size: one min_by row per hash
# bucket -> at most this many rows ever reach the driver, regardless
# of corpus size.
_SAMPLE_BUCKETS = 4096

def _sorted_sample(df: DataFrame, key: Column) -> list[tuple]:
    """Collect <= _SAMPLE_BUCKETS order-key tuples, uniformly spread
    over the key population, sorted ascending (None first).

    min_by(key, secondary-hash) per primary-hash bucket picks, within
    each uniformly-random slice of the keys, an element UNCORRELATED
    with key order — a plain min-per-bucket would cluster every pick
    at the low end.  One map-side-combining aggregate job; the collect
    is bounded at _SAMPLE_BUCKETS rows by construction.
    """
    rows = (
        df.select(key.alias("__key"))
        .groupBy(F.pmod(F.hash("__key"), F.lit(_SAMPLE_BUCKETS)).alias("__hb"))
        .agg(F.min_by("__key", F.hash("__key", F.lit(17))).alias("__key"))
        .select("__key")
        .collect()
    )
    vals = [tuple(r["__key"]) for r in rows]
    # None-first tuple sort: mirrors the struct ordering the bucket
    # comparison uses (ASC NULLS FIRST), so boundary placement and
    # row-side bucketing agree.
    vals.sort(key=lambda t: tuple((v is not None, v) for v in t))
    return vals


#: Working columns the rank path adds to the caller's frame and drops
#: again; a caller column of the same name would be overwritten.
_RESERVED = ("__bkey", "__pid", "__rn_in", "__sum_in", "__cnt_off", "__sum_off")


def _reject_reserved(df: DataFrame) -> None:
    for c in df.columns:
        # Spark resolves column names case-insensitively by default
        if c.lower() in _RESERVED:
            raise ValueError(
                f"ranked_running_sum: input column {c!r} collides with a "
                f"working column of the rank path; rename it first")


def _bucket_by_boundaries(
    df: DataFrame, key: Column, bnd_lits: list[Column]
) -> DataFrame:
    """Attach ``__pid`` = number of boundary literals sorting strictly
    below ``key`` (struct ordering, NULLS FIRST) — a branchless binary
    search over the frozen boundary array.

    The r9 form was a linear fold of ``len(bnd_lits)`` struct
    comparisons per row, with the key expression and one struct
    literal embedded per comparison: O(buckets) per row AND an
    O(buckets) expression tree (at cluster shuffle widths — thousands
    of partitions — both blow up; measured locally as every rank
    consumer running faster on 8 cores than 32).  This form probes a
    single literal array log2(b) times: each step keeps its candidate
    index iff the candidate's boundary still sorts below the key.
    ``F.get`` (0-indexed) returns NULL past the end instead of the
    ANSI-mode error ``element_at`` would raise, and the ``cand <= n``
    conjunct makes the NULL case unreachable anyway.  Each step lands
    in its own projection (the CaseWhen result is referenced several
    times, so Catalyst does not collapse/re-inline them) and
    whole-stage codegen fuses the chain into straight-line code.

    Tiny boundary sets keep the linear fold — the search's array and
    guard setup only pays for itself past a handful of comparisons.
    """
    n = len(bnd_lits)
    if n == 0:
        return df.withColumn("__pid", F.lit(0))
    if n <= 4:
        pid: Column = F.lit(0)
        for b in bnd_lits:
            pid = pid + (key > b).cast("int")
        return df.withColumn("__pid", pid)
    arr = F.array(*bnd_lits)
    out = df.withColumn("__bkey", key).withColumn("__pid", F.lit(0))
    kcol = F.col("__bkey")
    step = 1 << (n.bit_length() - 1)  # largest power of two <= n
    while step >= 1:
        cand = F.col("__pid") + F.lit(step)
        out = out.withColumn(
            "__pid",
            F.when(
                (cand <= F.lit(n)) & (kcol > F.get(arr, cand - 1)), cand
            ).otherwise(F.col("__pid")),
        )
        step >>= 1
    return out.drop("__bkey")


def _reject_sort_markers(order: list[Column]) -> None:
    for c in order:
        s = str(c)
        if " DESC" in s or " ASC" in s:
            raise ValueError(
                "ranked_running_sum: order must be plain ascending value "
                "expressions (got a SortOrder column: %s). Express a "
                "descending numeric key by negating it." % s
            )


def ranked_running_sum(
    df: DataFrame,
    order: list[Column],
    sum_col: str | None,
    rank_name: str = "rnk",
    before_name: str = "sum_before",
    buckets: int | None = None,
) -> DataFrame:
    """Attach global ``rank_name`` (row_number over ``order``) and
    ``before_name`` (exclusive running sum of ``sum_col`` in that
    order) — distributed via value-derived range buckets + offset
    merge.

    ``order`` must define a TOTAL order (include a unique tiebreaker)
    with plain ASCENDING value expressions — negate numeric keys for
    descending order (see module docstring).  ``sum_col`` should be an
    exact type (integer/decimal) so the partial sums are
    order-insensitive; its type is preserved in ``before_name`` (no
    silent integer cast).  NULLs in ``sum_col`` contribute 0 to the
    running sum — the global window instead PROPAGATES null into the
    prefix of later rows only if every prior value is null; callers
    needing window-exact null semantics should pre-``coalesce`` the
    column (the repo's callers have non-null counts).

    Pass ``sum_col=None`` for RANK-ONLY mode: the per-row prefix
    window, the per-bucket sum aggregate, and the offset merge for
    the sum all drop out of the plan (callers that discard the prefix
    column would otherwise pay a full running-sum pass for nothing).

    ``buckets`` bounds the boundary count (default: the session's
    ``spark.sql.shuffle.partitions``) — the parallelism dial.  The
    bucket assignment is a binary search over the frozen boundary
    array (log2(buckets) struct probes per row —
    :func:`_bucket_by_boundaries`); at cluster scale raise it with
    the shuffle width (each bucket is one window task).

    An input column named like one of the working columns in
    :data:`_RESERVED` raises ``ValueError`` rather than being
    overwritten and dropped.
    """
    _reject_sort_markers(order)
    _reject_reserved(df)
    spark = df.sparkSession
    nb = buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    # Performance cache on the INPUT (round 9, guide §5): the boundary
    # sample below is an EAGER pass over ``df``, and the bucketed
    # window re-derives ``df`` again when it materializes — for call
    # sites whose input is an unpersisted derivation (zorder's
    # interleave, curriculum's phase frames) the whole upstream
    # pipeline executed twice.  Caching it runs the derivation once
    # (query lifetime, operators/scope.py).  Skipped when the caller
    # already persisted the input (round 10, ADVICE r9): stacking a
    # second corpus-scale cache on an already-cached frame doubles
    # memory pressure for zero reuse benefit.
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        df = scope.cache(df)

    key = F.struct(*[c.alias(f"k{i}") for i, c in enumerate(order)])
    key_fields = df.select(key.alias("__key")).schema["__key"].dataType.fields

    # Boundary literals: sampled ONCE here, frozen into the plan —
    # every later (re-)evaluation of any consumer buckets identically.
    # Any boundary placement is CORRECT (the offset decomposition is
    # boundary-independent); sampling only balances the buckets.
    sample = _sorted_sample(df, key)
    n_s = len(sample)
    bnds: list[tuple] = []
    for i in range(1, min(nb, n_s + 1)):
        b = sample[(i * n_s) // min(nb, n_s + 1)]
        if not bnds or b != bnds[-1]:
            bnds.append(b)

    def _lit_key(t: tuple) -> Column:
        return F.struct(*[
            F.lit(v).cast(fld.dataType).alias(f"k{i}")
            for i, (v, fld) in enumerate(zip(t, key_fields))
        ])

    # __pid = how many boundaries sort strictly below my key (struct
    # comparison = lexicographic with NULLS FIRST — verified semantics;
    # ties land in the lower bucket, keeping ranges contiguous).
    bucketed = _bucket_by_boundaries(df, key, [_lit_key(b) for b in bnds])

    w_in = W.partitionBy("__pid").orderBy(*order)
    within = bucketed.withColumn("__rn_in", F.row_number().over(w_in))
    if sum_col is not None:
        within = within.withColumn(
            "__sum_in",
            F.sum(sum_col).over(w_in.rowsBetween(W.unboundedPreceding, 0)),
        )
    # Performance cache (NOT correctness-bearing — __pid is a pure
    # function of row values, so the two consumers below agree even
    # when each re-evaluates the plan from scratch): `within` feeds
    # the row output and the per-bucket offsets aggregate; without the
    # cache the upstream scan + window shuffle run twice.  Query
    # lifetime (operators/scope.py); early release only recomputes.
    within = scope.cache(within)
    # one row per bucket; prefix-scan this b-row table (b = bucket
    # count, never data-scale) and broadcast the offsets back.  The
    # single-partition window is INTENTIONAL here — correct precisely
    # because the input is b rows.  The partition key must be a
    # non-foldable constant: Catalyst folds `lit(0)` into an EMPTY
    # partition spec (Spark 4 fires its "No Partition Defined" warning
    # on every run), while `__pid - __pid` survives optimization as a
    # real single-valued key, keeping the plan self-documenting and
    # the runtime log clean.
    w_parts = (
        W.partitionBy(F.col("__pid") - F.col("__pid"))
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    part_aggs = [F.count(F.lit(1)).alias("__cnt")]
    off_cols = ["__pid",
                F.coalesce(F.sum("__cnt").over(w_parts), F.lit(0))
                .alias("__cnt_off")]
    if sum_col is not None:
        part_aggs.append(F.sum(sum_col).alias("__sum"))
        off_cols.append(
            F.coalesce(F.sum("__sum").over(w_parts), F.lit(0))
            .alias("__sum_off"))
    offsets = within.groupBy("__pid").agg(*part_aggs).select(*off_cols)
    out = (
        within.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_name, (F.col("__cnt_off") + F.col("__rn_in")).cast("bigint"))
    )
    if sum_col is not None:
        out = out.withColumn(
            before_name,
            F.col("__sum_off") + F.coalesce(F.col("__sum_in"), F.lit(0))
            - F.coalesce(F.col(sum_col), F.lit(0)),
        ).drop("__sum_in", "__sum_off")
    return out.drop("__pid", "__rn_in", "__cnt_off")
