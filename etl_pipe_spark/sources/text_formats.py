"""Text-format ingestion: JSONL and CSV with explicit schemas, a
corrupt-record quarantine, and the safe-coercion ladder.

The reference only ever reads PostgreSQL (reference db.py:54-59), but
a corpus pipeline's raw inputs arrive overwhelmingly as JSONL shards
(web-scrape exports) and CSV drops.  The scale rules this module
encodes:

* **Never infer schemas.**  ``spark.read.json``/``csv`` without a
  schema runs a full extra pass over the data just to guess types —
  at 100 TB that doubles the ingest cost.  Every reader here demands
  an explicit ``StructType``.
* **PERMISSIVE + corrupt-record capture, not FAILFAST.**  One
  malformed line among billions must not kill the job; it must land
  in a quarantine (dead-letter) frame the operator can count, sample,
  and re-drive.  ``read_jsonl``/``read_csv`` append a
  ``_corrupt_record`` column; ``quarantine`` splits good from bad.
* **Single-line JSON stays splittable.**  JSONL is line-delimited, so
  executors split files on newlines; ``multiLine=true`` (whole-file
  JSON, or CSV with embedded newlines) forces one task per file —
  the readers here default to splittable single-line mode and say so.
* **Read strings, then coerce.**  CSV carries no types; parsing
  numerics inside the reader hides failures.  ``coerce_columns``
  applies the engine's safe_* ladder (functions/coercion.py — the
  reference's transform.py:20-78 semantics) column by column, so a
  bad cell becomes NULL, never an exception, and the rejects are
  countable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions.coercion import safe_bool, safe_int, safe_numeric

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    """Schema plus the string corrupt-record column (required by the
    PERMISSIVE parser to surface unparseable lines instead of
    silently nulling every field)."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_jsonl(spark: SparkSession, path: str,
               schema: T.StructType) -> DataFrame:
    """Line-delimited JSON with an explicit schema.

    PERMISSIVE mode: a parseable line fills its typed columns and
    leaves ``_corrupt_record`` NULL; a malformed line lands verbatim
    in ``_corrupt_record`` with every typed column NULL.  Single-line
    mode keeps the files splittable on executors.
    """
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True) -> DataFrame:
    """CSV with an explicit schema and corrupt-record capture.

    For untrusted drops, pass an ALL-STRING schema and run
    ``coerce_columns`` afterwards: the CSV parser then only fails on
    structural damage (wrong column count, broken quoting) while
    value-level junk flows into the coercion ladder as NULLs.
    ``multiLine`` stays off — embedded newlines would cost
    splittability; quoted newline-free fields round-trip fine.
    """
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("header", "true" if header else "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad): bad keeps the FULL row — any fields that did parse
    plus the raw line — the dead-letter frame a production job writes
    aside and re-drives.

    Keeping all columns is also what Spark requires: a query whose
    only referenced column is the internal corrupt-record column is
    disallowed on raw JSON/CSV scans (SPARK-21610).  Corollary:
    ``bad.count()`` is ILLEGAL too — column pruning strips it down to
    a corrupt-only scan.  Materialize the frame first, which is what
    a production flow does anyway: write the dead letters aside
    (``bad.write...``, all columns referenced, legal) and count the
    written table, or cache the parsed frame before splitting.
    """
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return good, bad


_COERCERS = {
    "bool": safe_bool,
    "int": safe_int,
    "numeric": safe_numeric,
    # lenient temporal parses: junk -> NULL, never an ANSI error.
    # try_cast accepts ISO dates/timestamps (the formats the engine's
    # own writers emit); non-ISO drops should parse explicitly with
    # F.try_to_timestamp(col, format) before coercion.
    "timestamp": lambda c: c.try_cast("timestamp_ntz"),
    "date": lambda c: c.try_cast("date"),
}


def coerce_columns(df: DataFrame, spec: dict[str, str]) -> DataFrame:
    """Apply the safe_* ladder to string columns: ``spec`` maps column
    name -> 'bool' | 'int' | 'numeric' | 'timestamp' | 'date' |
    'decimal(p,s)'.  Unknown or junk values become NULL (the
    reference's transform.py contract) — all native expressions, no
    Python in the row path.

    The decimal branch uses ``try_cast``, not ``cast``: the session
    runs ANSI mode, where a plain cast on junk raises instead of
    nulling — the exact one-bad-cell-kills-the-job failure this
    module exists to prevent.
    """
    unknown = set(spec) - set(df.columns)
    if unknown:
        raise ValueError(f"coerce_columns: spec names absent from the "
                         f"DataFrame: {sorted(unknown)}")
    out: list[Column] = []
    for fld in df.columns:
        kind = spec.get(fld)
        if kind is None:
            out.append(F.col(fld))
        elif kind.startswith("decimal"):
            out.append(F.col(fld).try_cast(kind).alias(fld))
        else:
            out.append(_COERCERS[kind](F.col(fld)).alias(fld))
    return df.select(*out)


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro module is on the classpath.

    Avro has been "built-in but external" since Spark 2.4
    (org.apache.spark:spark-avro must be deployed alongside the app);
    this sandbox ships only the avro core jars, so the data source is
    absent and the avro round-trip tests skip.
    """
    try:
        # Resolve through Spark's own data-source registry — some
        # avro CLASSES ship in the bundled catalyst jars even when the
        # spark-avro module (and its DataSourceRegister service entry)
        # is absent, so Class.forName is a false positive here.
        spark.read.format("avro").schema("probe long").load(
            "/nonexistent-avro-probe-path")
        return True
    except Exception as exc:  # noqa: BLE001 — the failure KIND decides
        # FAIL CLOSED: the ONLY failure that proves the source RESOLVED
        # is the probe path itself not existing (PATH_NOT_FOUND — the
        # analysis error Spark raises after the avro DataSource lookup
        # succeeded).  Everything else — the avro-specific
        # _LEGACY_ERROR_TEMP_1139 ("Failed to find data source: avro…"),
        # the standard Spark 4 DATA_SOURCE_NOT_FOUND, or any transient
        # Py4J/session error mid-probe — reports avro as absent, so
        # downstream write_avro callers skip instead of erroring on a
        # source the probe never actually confirmed.
        cond = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None)
        name = cond() if callable(cond) else None
        if name and "PATH_NOT_FOUND" in name:
            return True
        msg = str(exc)
        return "Path does not exist" in msg


def write_avro(df, path: str, mode: str = "overwrite") -> None:
    """Avro shard write (splittable row format — the Kafka-adjacent
    interchange leg of the source matrix).  Raises where the module is
    absent; gate with :func:`avro_available`."""
    df.write.mode(mode).format("avro").save(path)


def read_avro(spark: SparkSession, path: str, avro_schema: str | None = None):
    """Avro read; pass ``avro_schema`` (JSON) to pin reader schema for
    schema-evolution reads, mirroring read_csv/read_jsonl's
    explicit-schema stance."""
    reader = spark.read.format("avro")
    if avro_schema is not None:
        reader = reader.option("avroSchema", avro_schema)
    return reader.load(path)
