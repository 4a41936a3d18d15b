"""A streaming query listener that keeps each micro-batch's progress."""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener


class ProgressListener(StreamingQueryListener):
    """Appends one record per micro-batch progress event to ``sink``,
    tagged with the pass that started the query."""

    def __init__(self, pass_no: int, sink: list):
        self.pass_no, self.sink = pass_no, sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        self.sink.append({
            "pass": self.pass_no,
            "query": str(p.id),
            "batch": p.batchId,
            "duration_ms": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in ops),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
