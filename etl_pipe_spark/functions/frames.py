"""Driver-built tiny DataFrames without the default-parallelism tax.

``spark.createDataFrame(local_list)`` slices the list into
``defaultParallelism`` pickled partitions (32 on the bench box).
Every downstream action — a noop write of an invariant row, building
a broadcast relation from a dimension list, a coalesce(1) single-file
write — then evaluates every one of those partitions through a
Python-worker round trip: 32 tasks for one row, and a ``coalesce(1)``
funnels them SERIALLY through one task (~6 s measured for a 32-row
dimension-table write on local[32]; the index store's former parquet
dimension tables were the first site this bit).

For driver-computed data the parallelism is pure overhead at any
cluster size — the data already sits on the driver and is at most a
few thousand rows by construction.  One slice makes every such action
one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, data: list, schema) -> DataFrame:
    """Single-slice DataFrame from driver-local rows (invariant-row
    results, dimension lists, query sets).  Same rows, same schema,
    one partition end to end."""
    return spark.createDataFrame(spark.sparkContext.parallelize(data, 1),
                                 schema)
