"""Closed-loop replay of the flagship streaming chain.

The chain is the engine's own: `readStream.text` (maxFilesPerTrigger=1)
-> `pipeline.parse_hashtags` -> `pipeline.blacklist_filter` ->
`pipeline.windowed_counts` (15 min / 10 s, 1-minute watermark) ->
`sink.TopKFileSink` in update mode. The replay is a closed loop: the
feeder moves the next batch file into the source directory only after
the sink has written the previous result document, so each
micro-batch holds exactly one file and the system is never behind.

The only clock of an untraced run is the wall time at which each
`TopKFileSink` call returns. Next to each stamp the feeder reads the
host's CPU counters; a timed batch during which the hypervisor stole
more than `stats.STEAL_LIMIT_PCT` of the CPUs does not count towards
the timed batches, and the feeder releases a reserve file in its
place (at most `timed` of them). The traced run additionally times the
sink call, counts the Spark jobs inside it, and reads the query's
`StreamingQueryProgress` events and the status stores afterwards.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import spark_status
import stats
import tweets

# Batch 0 fills the window; batches 1-2 let the JVM's JIT settle (the
# per-batch time still falls by ~20% over them).
SETTLE_BATCHES = 3
REPLAY_TIMEOUT_S = 120


def files_needed(timed: int) -> int:
    """Batch files a replay of `timed` timed batches may release."""
    return SETTLE_BATCHES + 2 * timed


@dataclass
class Replay:
    stamps: list[tuple[int, float]] = field(default_factory=list)
    ticks: list = field(default_factory=list)   # stats.cpu_ticks() at each stamp
    released: int = 0
    finished: bool = False
    # (epoch, seconds inside the sink, job-id high-water before and
    # after the call, window-expansion rows of the batch)
    sink_calls: list[tuple[int, float, int, int, int]] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    error: str | None = None


def _run_query(spark, work_dir: str, paths: list[str], timed: int, trace: bool) -> Replay:
    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.streaming.pipeline import (
        blacklist_filter,
        parse_hashtags,
        windowed_counts,
    )
    from mrtweety_analytic_spark.streaming.sink import TopKFileSink

    spool = os.path.join(work_dir, "spool")
    os.makedirs(spool)
    pending = iter(paths)

    def release() -> None:
        path = next(pending)
        os.rename(path, os.path.join(spool, os.path.basename(path)))
        out.released += 1

    def returned(epoch_id) -> None:
        """Stamp the sink return of a data batch and release the next
        file while the timed batches are not complete."""
        if out.finished or epoch_id >= out.released:
            return
        out.stamps.append((epoch_id, time.perf_counter()))
        out.ticks.append(stats.cpu_ticks())
        clean = sum(
            not stats.stolen(stats.steal_pct(out.ticks[e - 1], out.ticks[e]))
            for e in range(SETTLE_BATCHES, len(out.ticks))
        )
        if out.released < len(paths) and clean < timed:
            release()
        else:
            out.finished = True

    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(spool)
    raw = raw.withColumn(
        "ts",
        F.timestamp_millis(F.get_json_object("value", "$.timestamp_ms").cast("long")),
    )
    counts = windowed_counts(
        blacklist_filter(parse_hashtags(raw)), watermark="1 minute"
    )
    sink = TopKFileSink(os.path.join(work_dir, "analytic.json"))
    out = Replay()

    def untraced(batch_df, epoch_id):
        sink(batch_df, epoch_id)
        returned(epoch_id)

    exec_seen = spark_status.max_execution_id(spark)

    def traced(batch_df, epoch_id):
        nonlocal exec_seen
        j0 = spark_status.max_job_id(spark)
        t0 = time.perf_counter()
        sink(batch_df, epoch_id)
        t1 = time.perf_counter()
        spark_status.settle(spark)
        x1 = spark_status.max_execution_id(spark)
        expand = spark_status.node_output_rows(spark, exec_seen, x1, "Expand")
        exec_seen = x1
        out.sink_calls.append((epoch_id, t1 - t0, j0, spark_status.max_job_id(spark), expand))
        returned(epoch_id)

    release()
    query = (
        counts.writeStream.outputMode("update")
        .foreachBatch(traced if trace else untraced)
        .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
        .start()
    )
    deadline = time.monotonic() + REPLAY_TIMEOUT_S
    try:
        while not out.finished and query.isActive:
            if time.monotonic() > deadline:
                out.error = f"replay did not finish within {REPLAY_TIMEOUT_S} s"
                break
            time.sleep(0.05)
        else:
            if query.exception() is None:
                query.processAllAvailable()
    finally:
        query.stop()
    exc = query.exception()
    if exc is not None:
        out.error = str(exc)[:500]
    out.progress = [json.loads(p.json) for p in query.recentProgress]
    return out


def run(spark, work_dir: str, paths: list[str], timed: int, trace: bool) -> dict:
    """Replay `paths` until `timed` batches after the SETTLE_BATCHES
    untimed ones ran with steal under the limit (or the files run
    out), check the final document, and return the result block for
    run.py. Timings come from the `timed` least-stolen timed batches;
    per-layer counts from the first `timed` timed batches, so they
    repeat exactly."""
    replay = _run_query(spark, work_dir, paths, timed, trace)
    done = dict(replay.stamps)
    n_done = sum(1 for e in range(replay.released) if e in done)
    failed = replay.released - n_done
    problems = []
    if replay.error:
        problems.append(f"query failed: {replay.error}")
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in replay.progress for op in p["stateOperators"]
    )
    if dropped:
        problems.append(f"{dropped} rows dropped by the watermark")
        failed = max(failed, 1)
    doc_path = os.path.join(work_dir, "analytic.json")
    got = None
    if os.path.exists(doc_path):
        with open(doc_path, encoding="utf-8") as fh:
            got = json.load(fh)["items"]
    released = [os.path.join(work_dir, "spool", os.path.basename(p)) for p in paths]
    want = tweets.expected_top([p for p in released if os.path.exists(p)])
    if got != want:
        problems.append(f"analytic.json {got} != expected {want}")
        failed = max(failed, 1)

    first = SETTLE_BATCHES - 1
    metrics: dict[str, tuple[float, str]] = {}
    diag: dict = {"problems": problems}
    if not replay.error and n_done == replay.released and replay.released > first + timed:
        ids = list(range(first + 1, replay.released))
        lat = [done[e] - done[e - 1] for e in ids]
        steal = [stats.steal_pct(replay.ticks[e - 1], replay.ticks[e]) for e in ids]
        keep = stats.least_stolen(steal, timed)
        lat = [lat[i] for i in keep]
        rows = {p["batchId"]: p["numInputRows"] for p in replay.progress}
        n_tweets = sum(rows.get(ids[i], 0) for i in keep)
        wall = sum(lat)
        pct, tail = stats.tail(lat)
        metrics = {
            "tweets_per_s": (n_tweets / wall, "tweets/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_tail_s": (tail, "s"),
            "pass_s": (wall, "s"),
        }
        diag.update(
            latency_samples_s=lat,
            latency_tail_percentile=pct,
            batch_steal_pct=steal,
            replaced_samples=len(ids) - timed,
        )
        if trace:
            metrics.update(_layers(spark, replay, first, first + timed, dropped))
    return {
        "attempted": replay.released,
        "failed": failed,
        "problems": problems,
        "metrics": metrics,
        "diag": diag,
    }


def _layers(spark, replay: Replay, first: int, last: int, dropped: int) -> dict:
    """Per-layer medians over the timed batches first < id <= last."""
    timed = [
        p for p in replay.progress
        if first < p["batchId"] <= last and p["numInputRows"] > 0
    ]
    n = len(timed)

    def med(values) -> float:
        return float(statistics.median(values))

    def dur(key: str) -> float:
        return med(p["durationMs"].get(key, 0) for p in timed)

    def state(key: str) -> float:
        return med(sum(op.get(key, 0) for op in p["stateOperators"]) for p in timed)

    spark_status.settle(spark)
    calls = {c[0]: c for c in replay.sink_calls}
    call_s, self_s = [], []
    for e in range(first + 1, last + 1):
        _e, seconds, j0, j1, _x1 = calls[e]
        call_s.append(seconds)
        self_s.append(seconds - spark_status.exec_totals(spark, j0, j1).job_ms / 1000.0)
    # The timed window's jobs: those started after the sink call that
    # closed batch `first`, up to the one that closed batch `last`.
    window = spark_status.exec_totals(spark, calls[first][3], calls[last][3])
    expand_rows = sum(calls[e][4] for e in range(first + 1, last + 1))
    tweets_in = sum(p["numInputRows"] for p in timed)
    return {
        "sources.latest_offset_ms": (dur("latestOffset"), "ms"),
        "sources.get_batch_ms": (dur("getBatch"), "ms"),
        "pipeline.query_planning_ms": (dur("queryPlanning"), "ms"),
        "pipeline.add_batch_ms": (dur("addBatch"), "ms"),
        "pipeline.input_rows": (med(p["numInputRows"] for p in timed), "count"),
        "pipeline.window_rows_per_tweet": (
            expand_rows / tweets_in if tweets_in else 0.0, "count"
        ),
        "checkpoint.wal_commit_ms": (dur("walCommit"), "ms"),
        "checkpoint.commit_offsets_ms": (dur("commitOffsets"), "ms"),
        "state.rows_total": (state("numRowsTotal"), "count"),
        "state.rows_updated": (state("numRowsUpdated"), "count"),
        "state.rows_removed": (state("numRowsRemoved"), "count"),
        "state.memory_bytes": (state("memoryUsedBytes"), "bytes"),
        "state.update_ms": (state("allUpdatesTimeMs"), "ms"),
        "state.commit_ms": (state("commitTimeMs"), "ms"),
        "state.dropped_by_watermark": (float(dropped), "count"),
        "sink.call_s": (med(call_s), "s"),
        "sink.self_s": (med(self_s), "s"),
        **{
            key: (getattr(window, attr) / n, unit)
            for key, attr, unit in spark_status.EXEC_METRICS
        },
    }
