"""Streaming observability — the reference's supervisor/alerting leg.

The reference wraps its daemon in ``monitor.sh`` (restart + SNS email
on crash, ``src/monitor.sh:12-24``) and logs every record decision
(``src/process_insert_update_weather_data.py:28-40``). Spark-natively
that's a ``StreamingQueryListener``: progress/termination callbacks on
the driver, with the terminated-with-exception hook being exactly the
supervisor's alert point.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener


class PipelineMonitor(StreamingQueryListener):
    """Collects per-batch progress and surfaces failures.

    Each progress record carries the batch's input rows, its
    ``duration_ms`` phase timings (``addBatch``, ``walCommit``, …, as
    the progress report's ``durationMs``) and ``state_rows``, the rows
    held across all its stateful operators (0 for a stateless query).

    ``on_failure`` is the alert hook (the reference published to SNS,
    ``src/ingest_weather_data.py:21-31``); default just records.
    """

    def __init__(self, on_failure=None):
        self.progress: list[dict] = []
        self.terminations: list[tuple[str, str | None]] = []
        self._on_failure = on_failure

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "id": str(p.id),
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        exc = event.exception
        self.terminations.append((str(event.id), exc))
        if exc is not None and self._on_failure is not None:
            self._on_failure(exc)
