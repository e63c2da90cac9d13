"""Scan-width gate: spread a narrow scan across the compute width.

Text pipelines multiply bytes after the scan (shingling, token
explodes), so a table that fits in one input split would run its whole
expansion serially.  :func:`spread_for_compute` adds one round-robin
exchange only when the planned scan is narrower than the shuffle
width; the estimate comes from file listings and parquet footers, with
no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _parse_byte_conf(raw: str, default: int) -> int:
    """Spark size confs come back as '134217728b' / '128m' / '64mb'
    style.  Two-letter suffixes MUST be tried before the bare 'b',
    or '64mb' strips to '64m' in the 'b' branch and fails to parse."""
    s = raw.strip().lower()
    for suffix, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                         ("tb", 1 << 40), ("pb", 1 << 50),
                         ("b", 1), ("k", 1 << 10), ("m", 1 << 20),
                         ("g", 1 << 30), ("t", 1 << 40), ("p", 1 << 50)):
        if s.endswith(suffix):
            try:
                return int(float(s[: -len(suffix)]) * mult)
            except ValueError:
                return default
    try:
        return int(s)
    except ValueError:
        return default


def _planned_scan_width(spark: SparkSession, df: DataFrame) -> int:
    """Estimate the file scan's planned partition count WITHOUT the
    ``df.rdd`` conversion (which forces a full plan translation to RDD
    — measurable on a 100k-file table).  For file-backed frames this
    mirrors Spark's own FilePartition sizing: split budget =
    min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism))
    over the relation's catalog size (driver-side metadata from the
    already-materialized file index — no job, no RDD translation).
    Non-file inputs (memory relations, post-shuffle frames) fall back
    to the RDD probe; the gate's call sites are all scan-rooted, so
    the fallback is the rare path, and the gate is only meaningful for
    scan-rooted frames anyway — a post-shuffle input reports its
    static shuffle width, which is exactly the "already wide" answer.
    Caveat that goes with the scan-rooted contract: the optimized
    plan's sizeInBytes is scaled down by column pruning, so a narrow
    projection over a wide table UNDER-estimates the true split count
    and may spread an already-wide scan (one redundant exchange, never
    a wrong result); call the gate on the raw loaded table, as every
    in-repo call site does.
    """
    try:
        files = df.inputFiles()
        total = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        files = []
    if not files:
        try:
            return df.rdd.getNumPartitions()
        except Exception:
            return 1  # un-plannable input: assume narrow, spread it
    max_pb = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"),
        128 << 20)
    open_cost = _parse_byte_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b"),
        4 << 20)
    parallelism = max(1, spark.sparkContext.defaultParallelism)
    padded = total + len(files) * open_cost
    split = min(max_pb, max(open_cost, padded // parallelism or 1))
    width = max(1, -(-padded // split))
    # A parquet SPLIT can never be finer than a ROW GROUP: a fat
    # single-row-group file (pyarrow's default writes up to 1M rows
    # per group) reports a healthy size-based width while every split
    # except one comes back empty — measured 10x wall time on a 260 MB
    # one-group corpus whose "33 planned splits" ran as one task.
    # Clamp by the actual group count when the footers are cheap to
    # stat (few local files; remote/non-parquet inputs skip).
    rg = _parquet_total_row_groups(files)
    if rg is not None:
        width = min(width, rg)
    return width


_ROW_GROUP_CACHE: dict[tuple[str, ...], int | None] = {}
_ROW_GROUP_CAP_FILES = 64


def _parquet_total_row_groups(files: list[str]) -> int | None:
    """Sum of row-group counts across the scan's parquet files, or
    None when the input isn't all-LOCAL-parquet or has too many files
    to stat cheaply.

    Scheme allowlist, not duck-typing: pyarrow can open s3://, gs://,
    and hdfs:// URIs when the matching filesystem package is present,
    so "rely on the open failing" would turn every spread gate into
    up to ``_ROW_GROUP_CAP_FILES`` synchronous remote footer GETs on the
    driver —
    the per-file RPC storm this module's size estimator exists to
    avoid.  Results are memoized per file list (footers are immutable
    for a given listing; a rewritten table produces new file names)."""
    if not files or len(files) > _ROW_GROUP_CAP_FILES:
        return None
    if not all(f.endswith(".parquet") for f in files):
        return None
    if not all(f.startswith(("/", "file:")) for f in files):
        return None  # object-store / remote input: skip the clamp
    key = tuple(files)
    if key in _ROW_GROUP_CACHE:
        return _ROW_GROUP_CACHE[key]
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            local = f[7:] if f.startswith("file://") else f
            local = local[5:] if local.startswith("file:") else local
            total += pq.ParquetFile(local).metadata.num_row_groups
        result: int | None = max(1, total)
    except Exception:
        result = None
    if len(_ROW_GROUP_CACHE) > 256:  # bounded: a long session's tables
        _ROW_GROUP_CACHE.clear()
    _ROW_GROUP_CACHE[key] = result
    return result


def spread_for_compute(
    spark: SparkSession, df: DataFrame, min_ratio: float = 0.5
) -> DataFrame:
    """Round-robin ``df`` across the session's shuffle width — but only
    when the scan is narrower than the compute width.

    The small-input / heavy-expansion idiom: text pipelines (shingling,
    token explodes) multiply bytes 10-100x AFTER the scan, so a table
    that fits in one input split runs its entire expansion serially.
    One cheap exchange of the raw rows buys full-width CPU parallelism
    for every downstream narrow stage.  On a real multi-file 100 TB
    table the scan is already wide, so the exchange would be a full
    extra shuffle of the corpus that buys nothing: it is SKIPPED when
    the planned scan partition count is already >= ``min_ratio`` of
    the shuffle width.  The width estimate is file-listing/stats based
    (see _planned_scan_width) — no job and no RDD-plan translation.
    Two consumers of the same spread share the exchange
    (ReuseExchange).
    """
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    planned = _planned_scan_width(spark, df)
    if planned >= max(1, int(width * min_ratio)):
        return df
    return df.repartition(width)
