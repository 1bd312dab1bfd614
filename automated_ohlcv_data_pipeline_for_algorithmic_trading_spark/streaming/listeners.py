"""Run-notification side channel (SURVEY.md S18/ST6): the reference
publishes success/failure stats to SNS after each ETL run
(etl/lightweight_etl.py:330-348); subscribers get email/SQS fan-out
(examples/stock_client.py:163-218).

Spark-side: a ``StreamingQueryListener`` observing progress/termination,
publishing run stats through an injected callable (stdout, a queue, an
SNS client — anything). Decoupled from the data plane; zero cost on the
executors.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql.streaming import StreamingQueryListener

Publisher = Callable[[str, dict], None]


def stdout_publisher(topic: str, payload: dict) -> None:
    print(f"[notify:{topic}] {json.dumps(payload, default=str)}")


class RunNotificationListener(StreamingQueryListener):
    """Publishes per-batch progress and terminal success/failure events —
    the SNS notification shape (run id, rows, status) as listener
    callbacks."""

    def __init__(self, publisher: Publisher = stdout_publisher):
        self.publisher = publisher
        self.events: list[dict] = []  # retained for inspection/tests

    def _emit(self, topic: str, payload: dict) -> None:
        self.events.append({"topic": topic, **payload})
        try:
            self.publisher(topic, payload)
        except Exception:  # noqa: BLE001 — notification must never kill the query
            pass

    def onQueryStarted(self, event) -> None:
        self._emit("query_started", {"id": str(event.id), "name": event.name})

    def onQueryProgress(self, event) -> None:
        """One payload per micro-batch: its phase durations (``durationMs``:
        queryPlanning, addBatch, walCommit, commitOffsets,
        triggerExecution, ...) and its state operators summed."""
        p = event.progress
        ops = p.stateOperators
        self._emit(
            "query_progress",
            {
                "id": str(p.id),
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_commit_ms": sum(s.commitTimeMs for s in ops),
                "state_rows": sum(s.numRowsTotal for s in ops),
                "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
                "state_partitions": sum(s.numShufflePartitions for s in ops),
            },
        )

    def onQueryTerminated(self, event) -> None:
        status = "failed" if event.exception else "completed"
        self._emit(
            "query_terminated",
            {"id": str(event.id), "status": status, "exception": event.exception},
        )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing dependent
        pass
