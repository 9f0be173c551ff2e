"""Streaming telemetry: per-micro-batch progress capture via
StreamingQueryListener.

The reference had zero observability (no metrics anywhere in
`SparkApplication.scala`; the only signal was the output file
mtime). Here every micro-batch's input volume, processing rate, and
state size are captured driver-side from the engine's own progress
events — the numbers an operator watches to size state stores and
detect backpressure. Events are tiny JSON-backed objects; recording
them costs nothing on the executor path.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressRecorder(StreamingQueryListener):
    """Collects one record per micro-batch progress event.

    Listener callbacks arrive on the listener-bus thread, so the
    record list is lock-guarded; `wait_for(n)` polls until at least
    n batches are visible (progress events are asynchronous — a
    terminated query's last event can land after awaitTermination
    returns).
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.records: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        state = p.stateOperators
        rec = {
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "rows_per_sec": p.processedRowsPerSecond,
            "batch_duration_ms": (p.durationMs or {}).get("triggerExecution"),
            "state_rows": sum(s.numRowsTotal for s in state) if state else 0,
            # the state width and the commit task time it costs
            "state_partitions": max(
                (s.numShufflePartitions for s in state), default=0
            ),
            "state_commit_ms": sum(s.commitTimeMs for s in state),
        }
        with self._lock:
            self.records.append(rec)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def wait_for(self, n_batches: int, timeout: float = 30.0) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if len(self.records) >= n_batches:
                    return True
            time.sleep(0.2)
        return False

    def summary(self) -> dict:
        with self._lock:
            recs = list(self.records)
        return {
            "n_batches": len(recs),
            "total_input_rows": sum(r["input_rows"] for r in recs),
            "max_state_rows": max(
                (r["state_rows"] for r in recs), default=0
            ),
        }


def attach(spark: SparkSession) -> ProgressRecorder:
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    return rec


def detach(spark: SparkSession, rec: ProgressRecorder) -> None:
    spark.streams.removeListener(rec)
