"""Cycle scheduler (reference scheduler.py:35-69 S8/S10).

The reference drives the ETL with an infinite 30 s sleep loop, a
consecutive-failure counter that alerts at 10, and a reset on any
success.  Same control shape here, parameterized for tests
(max_cycles, injectable clock/sleep); in the streaming variant this
responsibility moves to ``trigger(processingTime=...)`` +
``StreamingQueryListener`` (streaming/structured.py).
"""

from __future__ import annotations

import time
from collections.abc import Callable

POLL_INTERVAL_SEC = 30      # reference config.py:28
MAX_CONSECUTIVE_FAILURES = 10  # reference scheduler.py:43


class CycleScheduler:
    def __init__(
        self,
        run_cycle: Callable[[], dict[str, int]],
        interval_sec: float = POLL_INTERVAL_SEC,
        max_consecutive_failures: int = MAX_CONSECUTIVE_FAILURES,
        alert: Callable[[str], None] | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.run_cycle = run_cycle
        self.interval_sec = interval_sec
        self.max_consecutive_failures = max_consecutive_failures
        self.alert = alert or (lambda msg: print(f"[etl_pipe_spark] ALERT: {msg}"))
        self.sleep = sleep
        self.consecutive_failures = 0
        self.cycles_run = 0

    def run_once(self) -> dict[str, int] | None:
        """One cycle with the reference's failure accounting: any flow
        reporting -1 (see IncrementalPipeline.run_cycle) or a raised
        error bumps the counter; success resets it; threshold alerts.
        Returns the cycle's per-flow counts, the batch rows each flow
        merged, or None when the cycle raised."""
        self.cycles_run += 1
        try:
            counts = self.run_cycle()
            failed = any(v < 0 for v in counts.values())
        except Exception as exc:
            counts, failed = None, True
            print(f"[etl_pipe_spark] cycle error: {exc}")
        if failed:
            self.consecutive_failures += 1
            # latch: one page per incident, at the moment the threshold
            # is crossed — not on every further failing cycle
            if self.consecutive_failures == self.max_consecutive_failures:
                self.alert(
                    f"{self.consecutive_failures} consecutive failed cycles"
                )
        else:
            self.consecutive_failures = 0
        return counts

    def run_forever(self, max_cycles: int | None = None) -> None:
        while max_cycles is None or self.cycles_run < max_cycles:
            self.run_once()
            self.sleep(self.interval_sec)
