"""Streaming metrics: a StreamingQueryListener that appends every
micro-batch's progress to a JSONL log (the engine's per-partition lineage
table covers data lineage; this covers engine-level rates/durations —
SURVEY §2.11, the reference's accumulator counters Constants.java:33-87).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.streaming import StreamingQueryListener


class ProgressLogListener(StreamingQueryListener):
    """Append one JSON line per event of the query named ``query_name``:
    started, then per QueryProgressEvent the query id, batchId,
    numInputRows, processedRowsPerSecond and batch duration, then
    terminated. A listener hears every query of its session, so it keeps
    the run ids of its own query (matched by name at start) and drops the
    rest. File appends are atomic per line (O_APPEND)."""

    def __init__(self, out_path: str, query_name: str):
        self.out_path = out_path
        self.query_name = query_name
        self._runs: set[str] = set()
        os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        if event.name != self.query_name:
            return
        self._runs.add(str(event.runId))
        self._write({"event": "started", "id": str(event.id), "runId": str(event.runId)})

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if str(p.runId) not in self._runs:
            return
        self._write(
            {
                "event": "progress",
                "id": str(p.id),
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "processedRowsPerSecond": p.processedRowsPerSecond,
                "durationMs": dict(p.durationMs) if p.durationMs else {},
                "timestamp": p.timestamp,
            }
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if str(event.runId) in self._runs:
            self._write({"event": "terminated", "id": str(event.id)})

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def _write(self, payload: dict) -> None:
        with open(self.out_path, "a") as f:
            f.write(json.dumps(payload) + "\n")
