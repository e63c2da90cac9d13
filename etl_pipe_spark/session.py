"""SparkSession construction and per-session correctness pinning.

The engine is designed for a multi-executor cluster; locally we run
``local[N]`` (one JVM, N threads).  Two session settings are
load-bearing for correctness and are (re-)pinned at read time even on
externally-provided sessions (see :func:`pin_conf`):

* ``spark.sql.session.timeZone=UTC`` — all test data carries naive
  timestamps; pinning UTC makes TIMESTAMP <-> TIMESTAMP_NTZ casts
  value-preserving so results compare 1:1 with DuckDB's naive
  TIMESTAMP.
* ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events``
  table stores TIMESTAMP(NANOS) which vanilla Spark refuses to read;
  with this flag the column arrives as int64 nanos and the loader
  derives an exact micro-truncated timestamp (matching DuckDB's
  nanos->micros truncation).

:func:`get_spark` also switches off two defaults:

* ``spark.python.sql.dataFrameDebugging.enabled=false`` — PySpark 4
  wraps every DataFrame and ``functions`` call to capture its Python
  call site for the JVM, about five extra py4j round trips per call.
  Plans and results are unchanged.  What an error loses is the call site: the ``== DataFrame
  ==`` context of, say, a division by zero says ``"divide" was called
  from`` a JVM frame instead of ``"__truediv__" was called from
  job.py:13``; the error class, message and Python traceback stay.
  PySpark reads the flag once per process, at the first wrapped call
  made while a session is active.  To get call sites back, build your
  own session without this setting (it defaults to true) before that
  call.  :func:`pin_conf` leaves the flag alone, so a session someone
  else built keeps its own choice.
* ``spark.ui.showConsoleProgress=false`` — the progress bar's
  ``\r``-terminated lines on stderr would otherwise splice into a
  tool's stdout lines when both streams go to one log.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every session needs for parity with the
# DuckDB oracle. ANSI mode is left as-is (Spark 4 default: on); all
# lenient coercion paths use try_* expressions instead.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def pin_conf(spark: SparkSession) -> SparkSession:
    """Idempotently apply the correctness-critical runtime confs."""
    for k, v in _RUNTIME_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    return spark


def get_spark(app_name: str = "etl_pipe_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a tuned local session.

    Shuffle partitions are sized to the core count rather than the
    200 default — right for local mode; on a real cluster this knob
    (and AQE coalescing, which is enabled) is sized to the data.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: driver heap is the only memory knob; an undersized
        # heap shows up as 5-10x query-time variance from GC pauses
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return pin_conf(spark)
