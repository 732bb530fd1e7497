"""Per-micro-batch metrics capture for streaming jobs.

The north rule requires the job to checkpoint "with per-partition
lineage and metrics so it resumes mid-stream": lineage rows (exact row
count per output partition, the micro-batch's event-time range) are
written by ``sinks/exactly_once.ExactlyOnceSink``; this module records the
METRICS side — one JSONL line per completed micro-batch with the
numbers an operator actually pages on: input rows, processing rate,
per-stateful-operator state rows/memory, and the event-time watermark.

Implemented as a ``StreamingQueryListener`` (the JVM pushes progress
events; zero overhead on the query's own execution path). The JSONL
file is append-only and survives restarts, so a resumed run's metrics
continue the same file — batch ids keep increasing from the
checkpoint, making gaps/restarts visible in the record.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class MetricsRecorder(StreamingQueryListener):
    """Append one JSON line per completed micro-batch to ``path``."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    # -- listener interface -------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        self._write({"event": "started", "query_id": str(event.id),
                     "run_id": str(event.runId), "name": event.name})

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec: dict[str, Any] = {
            "event": "progress",
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "input_rows_per_second": p.inputRowsPerSecond,
            "processed_rows_per_second": p.processedRowsPerSecond,
            "batch_duration_ms": p.batchDuration,
            "watermark": (p.eventTime or {}).get("watermark"),
            "state_operators": [
                {
                    "operator": so.operatorName,
                    "rows_total": so.numRowsTotal,
                    "rows_updated": so.numRowsUpdated,
                    "rows_removed": so.numRowsRemoved,
                    "memory_used_bytes": so.memoryUsedBytes,
                }
                for so in (p.stateOperators or [])
            ],
        }
        self._write(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self._write({"event": "terminated", "query_id": str(event.id),
                     "exception": event.exception})

    # -- helpers -------------------------------------------------------
    def _write(self, rec: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(rec, default=str) + "\n")


def attach_metrics(spark: SparkSession, path: str) -> MetricsRecorder:
    """Attach a recorder to the session; returns it for later
    ``spark.streams.removeListener``."""
    rec = MetricsRecorder(path)
    spark.streams.addListener(rec)
    return rec


def read_metrics(path: str) -> list[dict]:
    """Load the JSONL metrics record (progress events only)."""
    out = []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("event") == "progress":
                out.append(rec)
    return out
