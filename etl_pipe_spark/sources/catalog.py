"""Table loaders for the parquet test catalog (and, in production, JDBC).

The reference reads its source tables by shipping SELECT strings to
PostgreSQL (reference db.py:54-59, extract.py:52-419).  Here a source
is a lazy DataFrame: ``spark.read.parquet`` in the test environment,
``spark.read.format("jdbc")`` against a live database — either way
Catalyst pushes filters/projections into the scan, so downstream
operators stay source-agnostic.

Postgres resolves a SELECT's columns from its catalog without reading
data; Spark's parquet reader instead infers the schema from a file
footer, and that inference is a Spark job.  :func:`file_schema` is the
one schema resolver: it memoizes each file's schema in the process,
keyed by the footer's bytes and the confs the schema conversion reads,
so after a table's first load every later load of the unchanged file
builds its plan without a job.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..session import pin_conf

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: StructField metadata key marking the column that exists verbatim in
#: the parquet file (predicates on it push down to the scan; predicates
#: on the derived twin do not).
RAW_TS_META = "etl_pipe_raw_source_column"


def _events_normalize(df: DataFrame) -> DataFrame:
    """Present events with BOTH a ``ts`` TIMESTAMP_NTZ and a ``ts_ns``
    int64-nanos column regardless of the file's physical layout.

    Two layouts exist in the wild: TIMESTAMP(NANOS), which Spark reads
    (under nanosAsLong) as int64, and plain TIMESTAMP(MICROS).  Either
    way the derived twin is exact — micros*1000 and nanos-div-1000 are
    lossless for micro-aligned data — and the column that is verbatim
    in the file is tagged with RAW_TS_META so watermark predicates can
    target the pushable one (see :func:`watermark_predicate`).
    """
    from pyspark.sql import types as T

    raw_meta = {RAW_TS_META: True}
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # TIMESTAMP(NANOS) layout: int64 nanos is the file column.
        df = (
            df.withColumnRenamed("ts", "ts_ns")
            .select(
                "event_id",
                F.timestamp_micros(F.expr("ts_ns div 1000"))
                .cast("timestamp_ntz").alias("ts"),
                "user_id", "event_type", "value", "props",
                F.col("ts_ns").alias("ts_ns", metadata=raw_meta),
            )
        )
    else:
        # TIMESTAMP(MICROS) layout: ts is the file column; derive exact
        # nanos for the ns-based watermark API (UTC session tz pinned,
        # so the ntz->tz cast inside unix_micros is value-preserving).
        # The raw tag is earned ONLY when the read type is already NTZ
        # (the cast simplifies away, so predicates on ts reach the
        # scan).  A file surfacing as TIMESTAMP (isAdjustedToUTC) would
        # make the cast real and unpushable — don't lie about it; the
        # watermark predicate then falls back to ts_ns (correct values,
        # full scan) and the layout needs its own raw predicate if it
        # ever appears in production.
        from pyspark.sql import types as T2

        is_ntz = isinstance(df.schema["ts"].dataType, T2.TimestampNTZType)
        ts_meta = raw_meta if is_ntz else {}
        df = df.select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts", metadata=ts_meta),
            "user_id", "event_type", "value", "props",
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
            .cast("bigint").alias("ts_ns"),
        )
    return df


def _table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: The SQL confs Spark's parquet schema conversion reads (the eight
#: flags of Spark 4.1's ``ParquetToSparkSchemaConverter``): with the
#: footer, they determine the inferred schema.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)
_MEMO_SIZE = 256  # footers kept; a source rewritten each cycle adds one per cycle
_memo: OrderedDict[tuple, StructType] = OrderedDict()
_memo_lock = threading.Lock()


def _footer_digest(path: str) -> bytes | None:
    """Digest of a local parquet file's footer, or None when ``path``
    is not one (a directory, a remote URI, an encrypted or truncated
    file).  The file ends with the footer, its 4-byte little-endian
    length and the magic ``PAR1``."""
    if not os.path.isfile(path):
        return None
    try:
        with open(path, "rb") as f:
            f.seek(-8, os.SEEK_END)
            tail = f.read(8)
            if tail[4:] != b"PAR1":
                return None
            size = int.from_bytes(tail[:4], "little")
            f.seek(-8 - size, os.SEEK_END)
            return hashlib.sha256(f.read(size)).digest()
    except OSError:
        return None


def _infer(spark: SparkSession, path: str) -> StructType:
    return spark.read.parquet(path).schema


def file_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The table's schema as its files store it, before any
    normalization.  Treat the result as read-only: it is shared.

    Inference reads a footer in a Spark job, so the schema is memoized
    in the process.  The key is a digest of the file's parquet footer
    bytes plus the values of :data:`_SCHEMA_CONFS`; the inferred schema
    is a function of exactly those, so a hit is exact.  (A key from
    ``stat()`` would not be: an in-place rewrite keeps the inode, and
    mtime is coarse.)  A path that is not a single local parquet file
    (a directory, a remote URI) is inferred on every call.
    """
    pin_conf(spark)
    path = _table_path(sf_dir, name)
    digest = _footer_digest(path)
    if digest is None:
        return _infer(spark, path)
    key = (digest, *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    with _memo_lock:
        schema = _memo.get(key)
        if schema is not None:
            _memo.move_to_end(key)
            return schema
    schema = _infer(spark, path)
    with _memo_lock:
        _memo[key] = schema
        if len(_memo) > _MEMO_SIZE:
            _memo.popitem(last=False)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a lazy DataFrame.

    The schema comes from :func:`file_schema` (which also pins the
    session's correctness confs), so only a table's first load infers
    it; the files are still listed on every load.  ``events`` is
    normalized to carry both ``ts`` (TIMESTAMP_NTZ) and ``ts_ns``
    (int64 nanos) whatever the file's timestamp layout — see
    :func:`_events_normalize`.
    """
    schema = file_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(_table_path(sf_dir, name))
    if name == "events":
        df = _events_normalize(df)
    return df


def since_to_ns(since) -> int:
    """Watermark datetime -> int64 nanos, the single conversion point.

    Microsecond-exact (timestamp() floats are rounded at the micro
    digit before scaling); callers compare against the raw ts_ns
    column so the parquet scan can prune row groups.
    """
    import datetime as dt

    if isinstance(since, str):
        since = dt.datetime.fromisoformat(since)
    return round(since.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000


def _is_raw_column(events: DataFrame, col: str) -> bool:
    try:
        return bool(events.schema[col].metadata.get(RAW_TS_META, False))
    except Exception:
        return False


def watermark_predicate(events: DataFrame, since) -> Column:
    """Watermark predicate that PUSHES DOWN to the parquet scan.

    A predicate on a *derived* timestamp column is an expression, so
    parquet gets PushedFilters: [] — a full scan per micro-batch at
    scale.  The loader tags whichever of ``ts``/``ts_ns`` is verbatim
    in the file (RAW_TS_META); comparing that column is exactly
    equivalent for whole-microsecond watermarks
    (floor(ns/1000) >= since_us  <=>  ns >= since_us*1000) and reaches
    the scan for row-group skipping.
    """
    ns = since_to_ns(since)
    if _is_raw_column(events, "ts_ns") or not _is_raw_column(events, "ts"):
        return F.col("ts_ns") >= F.lit(ns)
    us = ns // 1000
    iso = _us_to_iso(us)
    return F.col("ts") >= F.expr(f"TIMESTAMP_NTZ '{iso}'")


def _us_to_iso(us: int) -> str:
    import datetime as dt

    base = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return base.isoformat(sep=" ")


def events_since(events: DataFrame, since) -> DataFrame:
    """Watermark filter on the events table (pushdown-preserving)."""
    return events.filter(watermark_predicate(events, since))


def rows_since(sf_dir: str, name: str, since) -> int | None:
    """Rows of table ``name`` in the row groups that the watermark
    predicate ``ts >= since`` (:func:`watermark_predicate`) cannot prune,
    read from the parquet footer alone: no Spark job, no data page.

    A row group is pruned when the footer's max of ``ts`` lies below
    ``since``, compared in nanoseconds so that both timestamp layouts
    (TIMESTAMP(MICROS) and TIMESTAMP(NANOS)) count alike.  A row group
    whose statistics are missing counts as unpruned.  None when the
    table is not a single local parquet file (a directory, a remote
    URI, an unreadable footer): its size is unknown.
    """
    import json

    import pyarrow.parquet as pq

    path = _table_path(sf_dir, name)
    if not os.path.isfile(path):
        return None
    try:
        footer = pq.read_metadata(path)
        j = footer.schema.names.index("ts")
        unit = json.loads(footer.schema.column(j).logical_type.to_json()).get("timeUnit")
    except (OSError, ValueError):
        return None
    # nanoseconds per unit of the parquet TIMESTAMP logical type
    scale = {"milliseconds": 1_000_000, "microseconds": 1_000, "nanoseconds": 1}.get(unit)
    since_ns = since_to_ns(since)
    rows = 0
    for i in range(footer.num_row_groups):
        group = footer.row_group(i)
        stats = group.column(j).statistics
        if (scale is None or stats is None or not stats.has_min_max
                or not isinstance(stats.max_raw, int) or stats.max_raw * scale >= since_ns):
            rows += group.num_rows
    return rows


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batchsize: int = 500,
    num_partitions: int | None = None,
    **options,
) -> None:
    """JDBC sink (reference db.py:68-76 S3: execute_values page_size=500).

    ``batchsize`` maps directly onto the reference's write page size;
    ``num_partitions`` bounds concurrent connections the way its
    connection pool did (db.py:14-30).  For upsert semantics, stage
    through a temp table and MERGE server-side, or use the set-based
    merges in operators/merge.py against a lakehouse table.
    """
    writer = (
        df.coalesce(num_partitions) if num_partitions else df
    ).write.format("jdbc").option("url", url).option("dbtable", table) \
        .option("batchsize", str(batchsize)).mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def load_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    *,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
    **options,
) -> DataFrame:
    """Production-path JDBC source (reference db.py:54-59 equivalent).

    With ``partition_column`` + bounds the scan parallelizes across
    ``num_partitions`` executor-side connections; Catalyst pushes
    predicates into the remote engine (pushDownPredicate default on).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_or_query)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_execute(spark: SparkSession, url: str, statements: list[str],
                 driver: str | None = None,
                 transactional: bool = False) -> list[int]:
    """Server-side statement execution over one short-lived connection
    (reference db.py:33-51 S2: cursor.execute against the target).
    Returns the update count per statement.

    ``transactional=True`` wraps the statements in ONE transaction
    (autocommit off, commit at the end, rollback on any failure) — the
    multi-statement paths (upsert fallback, SCD-2 close-version) need
    all-or-nothing semantics: a crash between an UPDATE and its paired
    INSERT must not leave the target half-applied (r7 ADVICE)."""
    jvm = spark.sparkContext._jvm
    if driver:
        jvm.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        if transactional:
            conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            counts = [st.executeUpdate(s) for s in statements]
            if transactional:
                conn.commit()
            return counts
        except Exception:
            if transactional:
                conn.rollback()
            raise
        finally:
            st.close()
    finally:
        conn.close()


def _q(name: str) -> str:
    """Quote an identifier the way Spark's JDBC dialect did at CREATE
    TABLE time (double quotes), so hand-written statements hit the
    same case-sensitive column names."""
    return '"' + name.replace('"', '""') + '"'


_IDENT_RE = None


def _safe_table(name: str) -> str:
    """Validate a possibly schema-qualified table name against a plain
    identifier grammar before it reaches statement text (r7 ADVICE:
    names were interpolated raw and unchecked).  Validation, not
    quoting: Spark's JDBC writer passes ``dbtable`` unquoted at CREATE
    time, so the server stored the dialect's case-folded form — a
    late exact-case quote (``"upsert_m"`` vs Derby's ``UPSERT_M``)
    would stop matching the very table the stage write just created."""
    global _IDENT_RE
    if _IDENT_RE is None:
        import re
        _IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)?$")
    if not _IDENT_RE.match(name):
        raise ValueError(
            f"unsafe table identifier {name!r}: only plain "
            f"(optionally schema-qualified) identifiers may reach "
            f"server-side statement text"
        )
    return name


def jdbc_upsert(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    update_cols: list[str],
    *,
    staging: str | None = None,
    batchsize: int = 500,
    use_merge: bool = True,
    driver: str | None = None,
) -> None:
    """Batched set-based UPSERT into a JDBC target — the reference's
    ``INSERT ... ON CONFLICT (key) DO UPDATE SET <mutable cols>``
    (db.py:68-76 execute_values + load.py:30-79), re-expressed for
    engines without Postgres' ON CONFLICT:

    1. stage the batch through the batched JDBC writer (one temp
       table, ``batchsize``-paged inserts — the execute_values leg);
    2. one server-side ``MERGE INTO target USING staging`` updating
       ONLY ``update_cols`` on match (the reference updates just the
       mutable fields, never the whole row) and inserting full rows
       when absent;
    3. where the dialect lacks MERGE (``use_merge=False`` — the
       max-portability path), the same semantics as two set-based
       statements: a correlated UPDATE of the matched rows' mutable
       columns, then an INSERT of the staging anti-join
       (``NOT EXISTS``) — insert-if-absent, operators/merge.py's L4
       contract on the server side.

    The batch must be key-unique (dedupe with
    operators.merge._latest_per_key first): both MERGE and Postgres'
    ON CONFLICT reject a statement that touches the same target row
    twice, so replay dedup happens BEFORE the sink, identically to
    the reference pipeline's per-key latest-wins collapse.
    """
    table = _safe_table(table)
    staging = _safe_table(staging or f"{table}_stage")
    write_jdbc(df, url, staging, mode="overwrite", batchsize=batchsize,
               **({"driver": driver} if driver else {}))
    cols = df.columns
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in keys)
    if use_merge:
        sets = ", ".join(f"t.{_q(c)} = s.{_q(c)}" for c in update_cols)
        ins_cols = ", ".join(_q(c) for c in cols)
        ins_vals = ", ".join(f"s.{_q(c)}" for c in cols)
        jdbc_execute(spark, url, [
            f"MERGE INTO {table} t USING {staging} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
        ], driver=driver)
    else:
        exists = (f"SELECT 1 FROM {staging} s WHERE {on}")
        set_subqs = ", ".join(
            f"{_q(c)} = (SELECT s.{_q(c)} FROM {staging} s WHERE {on})"
            for c in update_cols
        )
        ins_cols = ", ".join(_q(c) for c in cols)
        sel_cols = ", ".join(f"s.{_q(c)}" for c in cols)
        anti = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in keys)
        # one transaction: a failure between the two statements must
        # not leave the target updated but missing the new rows
        jdbc_execute(spark, url, [
            f"UPDATE {table} t SET {set_subqs} WHERE EXISTS ({exists})",
            f"INSERT INTO {table} ({ins_cols}) SELECT {sel_cols} "
            f"FROM {staging} s WHERE NOT EXISTS "
            f"(SELECT 1 FROM {table} t WHERE {anti})",
        ], driver=driver, transactional=True)


def jdbc_scd2_close_version(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    ts_col: str,
    *,
    end_col: str = "version_ended_at",
    current_col: str = "is_current_version",
    staging: str | None = None,
    batchsize: int = 500,
    use_merge: bool = True,
    driver: str | None = None,
    end_sql_type: str = "TIMESTAMP",
) -> None:
    """Server-side SCD-2 version flip (reference load.py:50-83 L2/L5),
    the in-order loader path: each staged row is a NEW version of its
    key, so the target's current row is CLOSED (``end_col`` := the new
    version's start, ``current_col`` := FALSE) and the new version is
    inserted open — two set-based statements in ONE transaction, so a
    failure can never close history without inserting its successor.

    ``df`` carries the key columns, ``ts_col`` (version start) and the
    payload — NOT the end/current columns; those are derived here
    (inserted versions start open).  The batch must hold at most one
    version per key (collapse with the Spark-side
    ``scd2_apply_versions`` when a batch can carry version chains or
    out-of-order history — this function is the fast path for the
    ordinary one-new-version-per-key increment).

    Replay-idempotent: a version already present (same key + start) is
    neither re-inserted nor allowed to re-close anything — re-running
    the same batch is a no-op, matching the engine's replay contract.

    ``use_merge=False`` runs the close as a correlated UPDATE instead
    of MERGE (max-portability, the jdbc_upsert convention); both
    variants share the transactional INSERT tail.
    """
    table = _safe_table(table)
    staging = _safe_table(staging or f"{table}_stage")
    write_jdbc(df, url, staging, mode="overwrite", batchsize=batchsize,
               **({"driver": driver} if driver else {}))
    cols = df.columns
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in keys)
    qts, qend, qcur = _q(ts_col), _q(end_col), _q(current_col)
    # only a strictly NEWER version closes the current row — a replayed
    # batch row (t.ts = s.ts on the now-current row) matches nothing,
    # which is the whole idempotence argument
    newer = f"{on} AND t.{qts} < s.{qts}"
    ins_cols = ", ".join([_q(c) for c in cols] + [qend, qcur])
    sel_cols = ", ".join(f"s.{_q(c)}" for c in cols)
    insert = (
        f"INSERT INTO {table} ({ins_cols}) "
        f"SELECT {sel_cols}, CAST(NULL AS {end_sql_type}), TRUE "
        f"FROM {staging} s WHERE NOT EXISTS "
        f"(SELECT 1 FROM {table} t WHERE {on} AND t.{qts} = s.{qts})"
    )
    if use_merge:
        close = (
            f"MERGE INTO {table} t USING {staging} s "
            f"ON {newer} AND t.{qcur} = TRUE "
            f"WHEN MATCHED THEN UPDATE SET "
            f"{qend} = s.{qts}, {qcur} = FALSE"
        )
    else:
        close = (
            f"UPDATE {table} t SET "
            f"{qend} = (SELECT s.{qts} FROM {staging} s WHERE {newer}), "
            f"{qcur} = FALSE "
            f"WHERE t.{qcur} = TRUE AND EXISTS "
            f"(SELECT 1 FROM {staging} s WHERE {newer})"
        )
    jdbc_execute(spark, url, [close, insert], driver=driver,
                 transactional=True)
