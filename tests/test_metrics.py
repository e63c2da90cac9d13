"""S10 log/metrics sink (reference scheduler.py:21-28): the
StreamingQueryListener on structured streams."""

from __future__ import annotations

import time

from etl_pipe_spark.streaming.metrics import attach_metrics_listener
from etl_pipe_spark.streaming.structured import read_events_stream, windowed_counts


def test_listener_reports_stream_batches(spark, sf_dir):
    logged: list[str] = []
    listener = attach_metrics_listener(spark, log=logged.append)
    try:
        stream = read_events_stream(spark, sf_dir)
        agg = windowed_counts(stream)
        name = "etl_metrics_test"
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        # listener-bus delivery is async: poll briefly for the events
        deadline = time.time() + 30
        while time.time() < deadline and not listener.progress:
            time.sleep(0.2)
    finally:
        listener.detach(spark)

    assert name in listener.started
    batches = [p for p in listener.progress if p["name"] == name]
    assert batches, "no progress events delivered"
    assert listener.rows_for(name) > 0  # events table is non-empty
    assert any(name in line for line in logged)  # log sink got the line
