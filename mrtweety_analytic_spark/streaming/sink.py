"""The top-k JSON document sink — the reference's R10 output contract.

Per trigger, serialize the current top-k as
    {"items": [{"hashtag": str, "count": int}, ...], "datetime": ISO}
and atomically overwrite ONE result file
(≙ SparkApplication.scala:109-130 and the committed sample
web/analytic.json: at most 5 items, counts descending, datetime is the
batch wall-clock as an ISO-8601 offset string).

Driver-side by design: the sink collects each trigger's update-mode
pane rows (the (pane, key) counts that changed — a few hundred per
trigger on the flagship replay) and keeps the trailing window's panes
to sum them; the written payload is ≤ k rows.
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame

from .pipeline import WINDOW_DURATION, duration_seconds


def render_document(rows, now: datetime | None = None) -> str:
    """Serialize the reference's result document (web/analytic.json:
    items with count+hashtag keys, then an ISO-8601 offset datetime;
    UTC renders with the sample's millisecond+Z shape, matching Java's
    ISO_OFFSET_DATE_TIME at SparkApplication.scala:122)."""
    now = now or datetime.now(timezone.utc)
    if now.utcoffset() is not None and not now.utcoffset():
        stamp = (
            now.strftime("%Y-%m-%dT%H:%M:%S.")
            + f"{now.microsecond // 1000:03d}Z"
        )
    else:
        stamp = now.isoformat()
    items = [
        {"count": int(r["count"]), "hashtag": r["hashtag"]} for r in rows
    ]
    return json.dumps(
        {"items": items, "datetime": stamp}, ensure_ascii=False
    )


def write_result_file(path: str, payload: str) -> None:
    """Atomic overwrite: write-to-temp + rename (the reference's
    FileUtils.write at :125 is a plain overwrite; rename removes the
    torn-read window its 5 s web poller could hit).
    """
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".analytic-", suffix=".json")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class TopKFileSink:
    """foreachBatch hook writing the top-k of the trailing window each
    trigger ≙ the reference's per-batch foreachRDD(save)
    (SparkApplication.scala:92-95).

    Input: `windowed_counts` pane rows (w, key, count, hashtag) in
    update output mode. Two requirements drive the design (both found
    in the round-1 review):

    * **Window selection.** The reference's
      ``reduceByKeyAndWindow(Minutes(15))`` (SparkApplication.scala:88)
      reports the TRAILING window: the one ending at the slide boundary
      after the newest event, not a window that just opened. The
      boundary is the newest pane's ``w.end`` (the slide-grid floor of
      the newest event time plus the pane width the row carries), and
      the document sums the panes that start in
      ``[boundary - window, boundary)``. Empty slides leave no pane,
      so gaps in the pane grid need no special case.

    * **Delta merge.** In update output mode each micro-batch carries
      only the (pane, key) rows whose counts changed this trigger; a
      key with no new events would silently drop out of the top-k. The
      sink therefore merges the rows (each a pane's full count) into a
      pane cache across triggers and computes the top-k over the merged
      view — the same full-window counts the reference recomputes each
      batch.

    Scale envelope: the cache holds one count per (live pane, key) —
    O(window/slide × |distinct keys per pane|), never more than the
    distinct (key, event-slide) pairs of one window. Panes older than
    the trailing window are evicted each trigger. Per-trigger driver
    traffic is the update-mode row set: the (pane, key) pairs that
    received events this trigger, not the ≤ k-row document.
    """

    def __init__(self, path: str, k: int = 5, window: str = WINDOW_DURATION):
        self.path = path
        self.k = k
        self.window = timedelta(seconds=duration_seconds(window))
        # pane_start -> {key -> (count, display_hashtag)}
        self._panes: dict[datetime, dict[str, tuple[int, str]]] = {}
        self._boundary: datetime | None = None

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        for r in batch_df.collect():
            ps, pe = r["w"]
            self._panes.setdefault(ps, {})[r["key"]] = (
                int(r["count"]),
                r["hashtag"],
            )
            if self._boundary is None or pe > self._boundary:
                self._boundary = pe
        if self._boundary is None:
            return
        start = self._boundary - self.window
        self._panes = {p: c for p, c in self._panes.items() if p >= start}
        totals: dict[str, tuple[int, str]] = {}
        for pane in self._panes.values():
            for key, (n, disp) in pane.items():
                if key in totals:
                    total, shown = totals[key]
                    totals[key] = (total + n, min(shown, disp))
                else:
                    totals[key] = (n, disp)
        top = sorted(totals.items(), key=lambda kv: (-kv[1][0], kv[0]))
        items = [{"count": n, "hashtag": d} for _k, (n, d) in top[: self.k]]
        write_result_file(self.path, render_document(items))


class IdempotentParquetSink:
    """Exactly-once foreachBatch parquet sink via a batch-id
    transaction log.

    foreachBatch gives at-least-once delivery: after a crash between
    the write and the checkpoint commit, the SAME (epoch_id, data) is
    redelivered on restart. The standard fix (Structured Streaming
    docs' "use the batchId to deduplicate") is made concrete here:
    each batch lands in a `batch=<epoch>` subdirectory, written to a
    temp path first and promoted with an atomic rename, and an
    already-present directory means the batch committed previously —
    the redelivery is skipped, making the write path idempotent and
    the sink exactly-once end-to-end. At 100 TB the same pattern
    holds with a cloud-atomic commit (rename on HDFS, copy+manifest
    on object stores).
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import shutil
        import uuid

        final = os.path.join(self.path, f"batch={epoch_id}")
        if os.path.exists(final):
            # Redelivered batch after a sink-side commit: drop it.
            return
        tmp = os.path.join(self.path, f".tmp-{epoch_id}-{uuid.uuid4().hex[:8]}")
        batch_df.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            if os.path.exists(final):
                # Lost the promotion race to a concurrent redelivery
                # — that attempt committed the identical data.
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                # Genuine rename failure (permissions, missing parent,
                # …): swallowing it would let the checkpoint commit a
                # batch whose data was never promoted — the silent
                # data-loss case. Surface it so the query fails and
                # the batch is redelivered.
                raise
