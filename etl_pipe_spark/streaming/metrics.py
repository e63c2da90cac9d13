"""Log/metrics sink (SURVEY §2.1 S10; reference scheduler.py:21-28).

The reference logs per-cycle, per-flow row counts through a logging
sink.  Spark-first, ``EtlMetricsListener`` is a
``StreamingQueryListener`` attached to the session: every
structured-streaming micro-batch reports (query name, batch id, input
rows, duration) with zero extra jobs, the streaming twin of the
reference's per-cycle log lines.  The watermark cycle reports its
per-flow counts itself (``IncrementalPipeline.run_cycle``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class EtlMetricsListener(StreamingQueryListener):
    """Session-wide streaming metrics collector + log sink.

    Records one dict per micro-batch progress event; ``log`` (default:
    print) receives the reference-shaped one-liner.  Attach with
    :func:`attach_metrics_listener`; detach via ``detach``.
    """

    def __init__(self, log: Callable[[str], None] | None = None):
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []
        self._log = log if log is not None else (lambda msg: print(msg))

    # -- listener callbacks (called from Spark's listener bus) ----------
    def onQueryStarted(self, event) -> None:
        self.started.append(event.name or str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "name": p.name or str(p.id),
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "timestamp": p.timestamp,
        }
        self.progress.append(rec)
        self._log(
            f"[etl_pipe_spark] stream={rec['name']} batch={rec['batch_id']} "
            f"rows={rec['num_input_rows']}"
        )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing dependent
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    # -- management -----------------------------------------------------
    def rows_for(self, name: str) -> int:
        return sum(r["num_input_rows"] for r in self.progress if r["name"] == name)

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)


def attach_metrics_listener(
    spark: SparkSession, log: Callable[[str], None] | None = None
) -> EtlMetricsListener:
    listener = EtlMetricsListener(log)
    spark.streams.addListener(listener)
    return listener
