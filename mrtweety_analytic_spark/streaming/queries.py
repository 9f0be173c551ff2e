"""Streaming operator queries (§2B s_* rows), runnable under the
batch driver contract.

Each runs a REAL Structured Streaming query over the events table as
a file-source stream (availableNow-style full replay via
processAllAvailable) into a memory sink, then returns the result as a
batch DataFrame. Because the replay covers the whole table, the
event-time aggregations equal their batch twins — which is exactly
what the DuckDB oracles check (batch/stream equivalence, SURVEY.md
§7.4). Complete output mode keeps every window (append would withhold
windows the final watermark hasn't passed).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.aggregates import (
    HQ_QS,
    _cdf_distance,
    _hist_bucket,
    _hist_quantiles,
    _hll_estimate,
    _hll_registers,
    _hll_sums,
)
from ..operators.quality import KS_A, KS_B
from ..operators.textops import _STOP_SQL
from ..registry import register
from ..sources import load_events_stream
from ..util import LastHandle, md5_int


def _drift_oracle() -> str:
    from ..operators.quality import _DRIFT_ORACLE

    return _DRIFT_ORACLE


def _fertility_oracle() -> str:
    from ..operators.textops import _FERTILITY_ORACLE

    return _FERTILITY_ORACLE


# _run_to_memory pins the memory-sink table on the DRIVER, so every
# caller's aggregate must be bounded: the registered streaming ops
# group by windows/sources/capped bucket spaces (the largest is
# s_minhash_dup_rate's 2^16 buckets). A future op with an unbounded
# group key must NOT silently collect a corpus-scale aggregate —
# fail loudly instead (VERDICT r10 item 5).
#
# What the budget counts: DISTINCT group keys when the caller passes
# `key_cols` (the true bounded-state claim — update mode re-emits
# every updated key per micro-batch, so raw sink rows scale with the
# micro-batch count, not the state size), else raw sink rows. The
# raw-row fallback is exact only under the single-batch availableNow
# replay these harness ops use; any caller whose replay can split
# into multiple micro-batches (maxFilesPerTrigger, checkpoint
# resume) must pass key_cols or the guard can fire spuriously on a
# correct bounded op (ADVICE r11 item 1).
_MEMORY_PIN_ROW_BUDGET = 100_000

# Shared plan helpers that sit between a registered operator and
# _run_to_memory on the call stack — the budget error should name
# the OPERATOR, not the helper (ADVICE r11 item 2).
_MEMORY_PIN_HELPERS = frozenset({"_run_to_memory", "_mdr_monitor"})


# Supersession holder for the pinned memory-sink frames (ADVICE r13:
# heavy checkpointed intermediates should be LastHandle-tracked).
# keep=2: the previous call's returned frame may still be acting when
# the next streaming query pins its own.
_LAST_SINK_PIN = LastHandle(keep=2)


def _run_to_memory(
    spark: SparkSession,
    df: DataFrame,
    mode: str,
    checkpoint: str | None = None,
    op: str | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Execute a streaming aggregation to completion; materialize the
    memory-sink table as a plain local DataFrame.

    availableNow trigger: process the whole replay then terminate —
    the batch-equivalence harness of SURVEY.md §7.4. The state stores
    take the session's stream width (`spark.sql.shuffle.partitions`,
    see session.py). Pass `checkpoint` to persist the run's state for
    post-hoc inspection (s_state_reader); the default temp checkpoint
    is discarded by Spark on clean stop.
    """
    name = f"s_{uuid.uuid4().hex[:12]}"
    writer = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    if not q.awaitTermination(timeout=600):
        q.stop()
        raise TimeoutError(f"streaming query {name} exceeded 600s")
    result = spark.table(name)
    # Pin the sink rows as an eagerly checkpointed frame BEFORE the
    # temp view is dropped. Round-14: this replaces
    # `createDataFrame(result.collect(), schema)` — which
    # round-tripped every sink row JVM -> Python pickle -> JVM
    # (guide §4: the boundary is the cost; nothing here needs
    # Python) — with a JVM-only materialization. The budget count
    # below then reads the already-materialized blocks instead of
    # re-planning the sink scan. Identical rows/schema either way.
    out = result.localCheckpoint(eager=True)
    _LAST_SINK_PIN.replace(out)
    # Budget the STATE the pin implies: distinct keys when the group
    # key is named, raw emissions otherwise (see _MEMORY_PIN_ROW_BUDGET
    # note for why raw rows over-count under multi-batch replays).
    n = (
        out.dropDuplicates(key_cols) if key_cols else out
    ).count()
    if n > _MEMORY_PIN_ROW_BUDGET:
        if op is None:
            import inspect

            # Name the registered operator, not a shared plan helper.
            op = next(
                (
                    fr.function
                    for fr in inspect.stack()[1:6]
                    if fr.function not in _MEMORY_PIN_HELPERS
                ),
                "<unknown>",
            )
        what = "distinct group keys" if key_cols else "sink rows"
        spark.catalog.dropTempView(name)
        raise RuntimeError(
            f"_run_to_memory: caller {op!r} produced {n} {what} "
            f"> budget {_MEMORY_PIN_ROW_BUDGET} — its streaming "
            "aggregate's group key is not bounded; cap the key space "
            "(bucket/window it) before pinning on the driver"
        )
    spark.catalog.dropTempView(name)
    return out


@register(
    "s_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def s_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window count (epoch-aligned 1-day buckets),
    run through the streaming engine and checked against the batch
    oracle.
    """
    events = load_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = _run_to_memory(spark, agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n"
    )


@register(
    "s_sliding",
    oracle="""
    SELECT time_bucket(INTERVAL '6 hours', ts)
               - k * INTERVAL '6 hours' AS window_start,
           event_type, count(*) AS n
    FROM events, (SELECT unnest(generate_series(0, 3)) AS k)
    GROUP BY 1, 2
    """,
)
def s_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 day long, advancing every 6 h — the scaled
    analogue of the reference's 15-min/10-s window
    (SparkApplication.scala:88,37). Incremental state-store update
    instead of the reference's re-reduce of every retained batch.
    The oracle expands each event into its 4 covering slides.
    """
    events = load_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 day", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = _run_to_memory(spark, agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n"
    )


@register(
    "s_session",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n
    FROM numbered GROUP BY user_id, sid
    """,
)
def s_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows by 30-minute inactivity gap per user — the
    streaming-native sessionization the reference never had; oracle is
    the classic gaps-and-islands SQL.
    """
    events = load_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = _run_to_memory(spark, agg, "complete")
    return out.select(
        "user_id", F.col("w.start").alias("session_start"), "n"
    )


@register(
    "s_session_dynamic",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               ts + CASE WHEN event_type = 'view'
                         THEN INTERVAL '10 minutes'
                         ELSE INTERVAL '30 minutes' END AS ends
        FROM events
    ),
    m AS (
        SELECT user_id, ts,
               max(ends) OVER (
                   PARTITION BY user_id ORDER BY ts, ends
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max_end
        FROM g
    ),
    s AS (
        SELECT user_id, ts,
               sum(CASE WHEN prev_max_end IS NULL OR ts > prev_max_end
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, ts
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def s_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC per-event gap (view events hold
    a session open 10 minutes, everything else 30) — engagement-
    weighted sessionization that a fixed gap can't express. Spark's
    session_window accepts a gap EXPRESSION evaluated per row; merge
    semantics are INCLUSIVE interval-overlap — an event at or before
    the session's running max end joins it; only ts strictly past the
    end opens a new session (boundary rule pinned by
    test_session_window_dynamic_gap_matches_reference). The oracle
    reproduces exactly that with a running-max-of-ends
    gaps-and-islands window.
    """
    events = load_events_stream(spark, sf_dir)
    gap = (
        F.when(F.col("event_type") == "view", F.lit("10 minutes"))
        .otherwise(F.lit("30 minutes"))
    )
    agg = events.groupBy(
        F.session_window("ts", gap).alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = _run_to_memory(spark, agg, "complete")
    return out.select(
        "user_id", F.col("w.start").alias("session_start"), "n"
    )


@register(
    "s_stream_join",
    oracle="""
    SELECT a.event_id AS event_id, count(*) AS n_follow
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '10 minutes'
    WHERE a.event_type = 'purchase'
    GROUP BY a.event_id
    """,
)
def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range bounds: for each
    purchase, count same-user events in the following 10 minutes.
    Watermarks on both sides bound the join state (Spark evicts rows
    once they can no longer match) — the stateful-join capability the
    reference's DStream model had no equivalent for. Full replay ≙
    the batch band join, which is what the oracle checks.
    """
    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    follows = (
        load_events_stream(spark, sf_dir)
        .select(
            F.col("user_id").alias("f_user_id"),
            F.col("ts").alias("f_ts"),
        )
        .withWatermark("f_ts", "1 hour")
    )
    joined = purchases.join(
        follows,
        (F.col("p_user_id") == F.col("f_user_id"))
        & (F.col("f_ts") > F.col("p_ts"))
        & (F.col("f_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    )
    # Aggregate the joined stream batch-side (append-mode join rows →
    # foreach-style count in the memory sink would need another
    # watermark pass; the join itself is the operator under test).
    out = _run_to_memory(spark, joined, "append")
    return (
        out.groupBy(F.col("p_event_id").alias("event_id"))
        .agg(F.count(F.lit(1)).alias("n_follow"))
    )


@register(
    "s_stream_join_outer",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    p AS (SELECT event_id AS p_event_id, user_id AS p_user_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    matched AS (
        SELECT p.p_event_id, count(*) AS n_follow
        FROM p JOIN events f
          ON p.p_user_id = f.user_id
         AND f.ts > p.p_ts
         AND f.ts <= p.p_ts + INTERVAL '10 minutes'
        GROUP BY p.p_event_id
    )
    SELECT p.p_event_id AS event_id,
           CAST(coalesce(m.n_follow, 0) AS BIGINT) AS n_follow
    FROM p LEFT JOIN matched m ON p.p_event_id = m.p_event_id, mx
    WHERE m.n_follow IS NOT NULL
       OR p.p_ts + INTERVAL '10 minutes' <= mx.m - INTERVAL '2 hours'
    """,
)
def s_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with event-time range bounds —
    the hard half of stateful stream joins: matched rows emit
    immediately, while an unmatched purchase emits null-extended only
    once the watermark proves no future follow can arrive, and its
    state is evicted at the same point (bounded state at 100 TB,
    where an unbounded outer-join buffer is fatal).

    Determinism note: exactly WHICH boundary rows flush in the final
    micro-batch depends on per-batch watermark arithmetic, so both
    the stream result and the oracle restrict null-extended rows to
    p_ts + 10 min <= max(ts) - 2 h — strictly inside the 1-hour-delay
    expiry boundary, so every margin-eligible row has provably been
    emitted by end of replay. Matched rows are exact on both sides.
    """
    from ..sources import load_table

    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    follows = (
        load_events_stream(spark, sf_dir)
        .select(
            F.col("user_id").alias("f_user_id"),
            F.col("ts").alias("f_ts"),
            F.col("event_id").alias("f_event_id"),
        )
        .withWatermark("f_ts", "1 hour")
    )
    joined = purchases.join(
        follows,
        (F.col("p_user_id") == F.col("f_user_id"))
        & (F.col("f_ts") > F.col("p_ts"))
        & (F.col("f_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    )
    out = _run_to_memory(spark, joined, "append")
    mx = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    if mx is None:  # empty replay: no rows, no margin to compute
        return out.groupBy(
            F.col("p_event_id").alias("event_id")
        ).agg(F.count("f_event_id").alias("n_follow"))
    safe = out.filter(
        F.col("f_event_id").isNotNull()
        | (
            F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")
            <= F.lit(mx) - F.expr("INTERVAL 2 HOURS")
        )
    )
    return safe.groupBy(F.col("p_event_id").alias("event_id")).agg(
        F.count("f_event_id").alias("n_follow")
    )


@register(
    "s_stateful_count",
    oracle="""
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    """,
)
def s_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count kept in the state store, emitted per batch.
    The arbitrary-state API is the escape hatch for operators Spark's
    built-in aggregations can't express (the DStream updateStateByKey
    successor). With the availableNow full replay this equals the
    batch count — which is what the oracle checks.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    events = load_events_stream(spark, sf_dir).select("user_id", "event_id")

    def update_count(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counted = events.groupBy("user_id").applyInPandasWithState(
        update_count,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(spark, counted, "update")
    # Update mode emits one row per (user, micro-batch); if the replay
    # splits into several batches the memory sink holds intermediate
    # counts too. The final running count is the max per user.
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@register(
    "s_state_reader",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def s_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store batch reader (Spark 4 `statestore` data source):
    run the checkpointed tumbling-window count to completion, then
    read the RAW persisted state back as a batch DataFrame and
    project it to (window_start, event_type, n). The oracle equality
    against the batch aggregate certifies the full state persistence
    path — encoder, commit, snapshot — not just the memory-sink
    output. Operationally this is the streaming debugger at 100 TB:
    inspect (or repair-audit) a job's state without touching the job,
    partition-parallel over the state files.
    """
    import shutil
    import tempfile

    events = load_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    ckpt = os.path.join(
        tempfile.gettempdir(), f"mrtweety_state_{uuid.uuid4().hex[:8]}"
    )
    try:
        _run_to_memory(spark, agg, "complete", checkpoint=ckpt)
        state = spark.read.format("statestore").load(ckpt)
        out = state.select(
            F.col("key.window.start").alias("window_start"),
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n"),
        )
        # Pin the rows on the driver: the statestore read is lazy
        # over the checkpoint files, which go away right after.
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _has_protobuf() -> bool:
    # transformWithStateInPandas speaks a protobuf protocol to the
    # JVM-side state server; without the protobuf package the Python
    # state worker crashes at startup. Gate registration so the
    # contract only advertises the operator where it can run.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@register(
    "s_transform_with_state",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           count(DISTINCT event_type) AS n_types,
           round(max(value), 6) AS max_value
    FROM events GROUP BY user_id
    """,
    enabled=_has_protobuf(),
)
def s_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via transformWithStateInPandas
    (Spark 4.x successor to applyInPandasWithState): per-user running
    stats kept in TYPED state-store primitives — a ValueState struct
    for (count, running max) and a MapState keyed by event_type for
    the distinct-type count. Unlike the single-blob state of
    applyInPandasWithState, each primitive is read/written
    independently (a MapState update touches one key, not the whole
    map), which is what bounds per-record state I/O when keys carry
    large state at 100 TB. Full availableNow replay ≙ the batch
    aggregate, which is what the oracle checks.
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    events = load_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n bigint, mx double")
            self._types = handle.getMapState(
                "types", "t string", "seen smallint"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, mx = (0, None)
            if self._agg.exists():
                pn, pmx = self._agg.get()
                n, mx = pn, pmx
            for pdf in rows:
                n += len(pdf)
                bmx = float(pdf["value"].max())
                mx = bmx if mx is None else max(mx, bmx)
                for t in pdf["event_type"].unique():
                    if not self._types.containsKey((t,)):
                        self._types.updateValue((t,), (1,))
            self._agg.update((n, mx))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_types": [n_types],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    stats = events.groupBy("user_id").transformWithStateInPandas(
        UserStats(),
        outputStructType=(
            "user_id bigint, n_events bigint, n_types bigint,"
            " max_value double"
        ),
        outputMode="update",
        timeMode="none",
    )
    out = _run_to_memory(spark, stats, "update")
    # Update mode emits one row per (user, micro-batch); the final
    # running values are the ones at the max event count.
    w_last = out.groupBy("user_id").agg(
        F.max_by(F.struct("n_events", "n_types", "max_value"), "n_events")
        .alias("s")
    )
    return w_last.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.n_types").alias("n_types"),
        F.round("s.max_value", 6).alias("max_value"),
    )


@register(
    "s_dedup_stream",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def s_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream dropDuplicates on (user_id, event_type): state-store
    dedup; which physical row survives is nondeterministic, so only
    the key columns are exposed — equal to batch DISTINCT. Multi-batch
    replays are safe: with no watermark the dedup state persists for
    the whole run, so each key appends exactly once across batches.
    """
    events = load_events_stream(spark, sf_dir)
    dedup = events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory(spark, dedup, "append")


@register(
    "s_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def s_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` — the BOUNDED-state streaming
    dedup (Spark 3.5+): dedup state for a key is evicted once the
    watermark passes its event time + delay, so state is
    O(keys in the dup horizon), not O(all keys ever) — the only
    dedup that survives an unbounded 100 TB ingest stream
    (s_dedup_stream's plain dropDuplicates keeps state forever).

    Replay determinism: the delay is set beyond the corpus's event-
    time span, so no state evicts and no row is late during the
    finite replay — output ≙ batch DISTINCT under any micro-batch
    split. In production the delay is the real duplicate horizon
    (e.g. '48 hours' for crawler re-fetches); semantics then become
    "exactly-once per key per horizon", which is the contract a
    dedup-at-ingest tier actually needs.
    """
    events = load_events_stream(spark, sf_dir)
    dedup = (
        events.withWatermark("ts", "3650 days")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(spark, dedup, "append")


@register(
    "s_topk_pipeline",
    oracle="""
    WITH counts AS (
        SELECT time_bucket(INTERVAL '6 hours', ts)
                   - k * INTERVAL '6 hours' AS window_start,
               event_type, count(*) AS n
        FROM events, (SELECT unnest(generate_series(0, 3)) AS k)
        GROUP BY 1, 2
    ),
    latest AS (SELECT max(window_start) AS ws FROM counts)
    SELECT window_start, event_type, n, rank
    FROM (
        SELECT window_start, event_type, n,
               CAST(row_number() OVER (ORDER BY n DESC, event_type)
                    AS INTEGER) AS rank
        FROM counts JOIN latest ON counts.window_start = latest.ws
    )
    WHERE rank <= 5
    """,
)
def s_topk_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full R1–R10 composition as one checked query:
    stream source → sliding windowed count (incremental state) →
    latest window → top-5 with deterministic tiebreak → {items,
    datetime} JSON document overwrite. Rank/limit and the file write
    stay driver-side exactly as in the reference (take(5) + save,
    SparkApplication.scala:92-95) — the only stage that is supposed
    to collect, because its input is already ≤ |keys| rows.
    """
    import os
    import tempfile

    from .sink import render_document, write_result_file

    events = load_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 day", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = _run_to_memory(spark, agg, "complete")
    counts = out.select(
        F.col("w.start").alias("window_start"), "event_type", "n"
    )
    latest = counts.agg(F.max("window_start").alias("ws"))
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("n"), "event_type")
    top5 = (
        counts.join(latest, counts.window_start == F.col("ws"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("window_start", "event_type", "n", "rank")
    )
    rows = [
        {"hashtag": r["event_type"], "count": r["n"]}
        for r in top5.orderBy("rank").collect()
    ]
    write_result_file(
        os.path.join(tempfile.gettempdir(), "analytic_stream.json"),
        render_document(rows),
    )
    return top5


@register(
    "s_chained_windows",
    oracle="""
    WITH m AS (SELECT max(ts) AS mx FROM events),
    cells AS (SELECT time_bucket(INTERVAL '1 day', ts) AS day,
                     time_bucket(INTERVAL '6 hours', ts) AS h6,
                     event_type, count(*) AS n
              FROM events GROUP BY 1, 2, 3)
    SELECT day,
           CAST(sum(n) AS BIGINT) AS n_events,
           count(*) AS n_cells
    FROM cells, m
    WHERE day + INTERVAL 1 DAY <= mx
    GROUP BY day
    """,
)
def s_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregations in ONE streaming query (Spark
    3.4+ multi-stateful support): 6-hour tumbling counts per
    event_type, re-aggregated to a daily rollup via window_time() —
    the streaming cube/rollup pattern where coarse grains derive from
    fine-grain state instead of re-reading the source. Append mode +
    zero-delay watermark: a window emits once the watermark passes its
    end, so the final (incomplete) day is withheld — the oracle
    applies the same cutoff (day end <= max event time).
    """
    events = load_events_stream(spark, sf_dir).withWatermark(
        "ts", "0 seconds"
    )
    lvl1 = events.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    lvl2 = lvl1.groupBy(
        F.window(F.window_time("w"), "1 day").alias("d")
    ).agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    out = _run_to_memory(spark, lvl2, "append")
    return out.select(
        F.col("d.start").alias("day"), "n_events", "n_cells"
    )



@register(
    "s_static_join",
    oracle="""
    WITH dim AS (SELECT user_id,
                        count(*) FILTER (WHERE event_type = 'purchase') > 13
                            AS is_buyer
                 FROM events GROUP BY user_id)
    SELECT e.event_type, dim.is_buyer, count(*) AS n
    FROM events e JOIN dim ON e.user_id = dim.user_id
    GROUP BY 1, 2
    """,
)
def s_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live stream enriched against a batch
    dimension (per-user heavy-buyer flag derived from the batch
    table; the >13 threshold sits at the corpus median so both flag
    values are populated).
    The static side is planned once and broadcast into every
    micro-batch — stateless, no watermark needed (unlike
    stream-stream joins), which is why dimension enrichment belongs
    on the static side at 100 TB.
    """
    from ..sources import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.count(F.when(F.col("event_type") == "purchase", 1)) > 13
            ).alias("is_buyer")
        )
    )
    stream = load_events_stream(spark, sf_dir).select(
        "event_type", "user_id"
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("event_type", "is_buyer").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = _run_to_memory(spark, agg, "complete")
    return out.select("event_type", "is_buyer", "n")


@register(
    "s_topk_update_sink",
    oracle="""
    WITH b AS (SELECT time_bucket(INTERVAL '6 hours', max(ts))
                          + INTERVAL '6 hours' AS boundary FROM events),
    counts AS (
        SELECT event_type AS hashtag, count(*) AS n
        FROM events, b
        WHERE ts >= boundary - INTERVAL '1 day' AND ts < boundary
        GROUP BY 1
    )
    SELECT rank, hashtag, n
    FROM (SELECT CAST(row_number() OVER (ORDER BY n DESC, hashtag)
                      AS INTEGER) AS rank,
                 hashtag, n
          FROM counts)
    WHERE rank <= 5
    """,
)
def s_topk_update_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The R10 document sink under UPDATE output mode, driver-certified:
    6-h pane counts of a 1-day window (the scaled 15 min / 10 s)
    stream through foreachBatch into TopKFileSink, which must (a) sum
    the TRAILING window's panes, not report the newest pane, and (b)
    merge update-mode deltas across triggers — the two round-1 review
    findings. The oracle recomputes the trailing window directly from
    the events table: greatest 6 h boundary past max(ts), window =
    [boundary - 1 day, boundary). The returned DataFrame is the parsed
    result document, so the certificate covers the whole
    stream → sink-file → document path.
    """
    import json
    import os
    import tempfile
    import uuid

    from ..sources import load_events_stream
    from .pipeline import windowed_counts
    from .sink import TopKFileSink

    events = load_events_stream(spark, sf_dir).select(
        "ts", F.col("event_type").alias("hashtag")
    )
    counts = windowed_counts(
        events, window="1 day", slide="6 hours", watermark="1 minute"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"analytic_upd_{uuid.uuid4().hex[:8]}.json"
    )
    sink = TopKFileSink(path, k=5, window="1 day")
    q = (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout=600):
        q.stop()
        raise TimeoutError("s_topk_update_sink exceeded 600s")
    if not os.path.exists(path):  # empty replay: sink never fired
        return spark.createDataFrame(
            [], "rank int, hashtag string, n long"
        )
    with open(path) as f:
        doc = json.load(f)
    os.unlink(path)
    rows = [
        (i + 1, item["hashtag"], item["count"])
        for i, item in enumerate(doc["items"])
    ]
    return spark.createDataFrame(
        rows, "rank int, hashtag string, n long"
    )


@register(
    "s_decayed_score",
    oracle="""
    WITH mx AS (SELECT max(ts) AS tmax FROM events)
    SELECT event_type,
           round(sum(value * exp(-date_diff('day', ts, tmax) / 30.0)), 4)
               AS decayed_sum,
           count(*) AS n_events
    FROM events, mx
    GROUP BY event_type
    """,
)
def s_decayed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exponentially-decayed score via applyInPandasWithState
    — the stateful-streaming twin of q_agg_decayed, and the decay
    upgrade of the reference's equal-weight sliding window
    (`SparkApplication.scala:88` forgets an event entirely the moment
    it leaves the 15-min window; exponential decay downweights it
    smoothly instead).

    Order-insensitivity is the design point: each event's contribution
    `value · exp(-(day_max - day) / 30)` is computed against a FIXED
    reference day (resolved before the stream starts; a live
    deployment would re-anchor per trigger), so the state update is a
    commutative monoid fold — correct under any batch split or
    arrival order, which is exactly what the replay harness plus
    batch oracle certify. Anchoring at the corpus horizon rather than
    the epoch also keeps the exponent small (no overflow for any
    corpus age). State per key is (sum, n): O(event types), emitted
    per batch in update mode; the final fold per key is the emission
    with the largest n (n grows monotonically, value does not have
    to).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..sources import load_table

    tmax = (
        load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    )
    if tmax is None:  # empty log: nothing to score (restart path)
        return spark.createDataFrame(
            [], "event_type string, decayed_score double, n_events long"
        )
    anchor = pd.Timestamp(tmax).normalize()

    events = load_events_stream(spark, sf_dir).select(
        "event_type", "ts", "value"
    )

    def update_score(key, pdf_iter, state):
        s, n = state.get if state.exists else (0.0, 0)
        for pdf in pdf_iter:
            days = (anchor - pdf["ts"].dt.normalize()).dt.days
            s += float((pdf["value"] * np.exp(-days / 30.0)).sum())
            n += len(pdf)
        state.update((s, n))
        yield pd.DataFrame(
            {"event_type": [key[0]], "decayed_raw": [s], "n_events": [n]}
        )

    scored = events.groupBy("event_type").applyInPandasWithState(
        update_score,
        outputStructType="event_type string, decayed_raw double, n_events long",
        stateStructType="s double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(spark, scored, "update")
    return (
        out.groupBy("event_type")
        .agg(
            F.max_by(
                F.struct("decayed_raw", "n_events"), "n_events"
            ).alias("b")
        )
        .select(
            "event_type",
            F.round("b.decayed_raw", 4).alias("decayed_sum"),
            F.col("b.n_events").alias("n_events"),
        )
    )


SHH_PHI = 500     # report terms with count > n / SHH_PHI
SHH_GROUPS = 8    # state-store key space (salt groups)
SHH_M = 250       # MG counters per group; recall needs n_g/SHH_M <= n/SHH_PHI


@register(
    "s_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT term, count(*) AS n_occ
    FROM toks, tot
    GROUP BY term, tot.n
    HAVING count(*) > tot.n / {SHH_PHI}.0
    """,
)
def s_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heavy hitters with BOUNDED state — the capability the
    reference's windowed count cannot have: its per-key state grows
    with the distinct-hashtag count, while this keeps O(SHH_GROUPS ×
    SHH_M) counters total no matter how large the vocabulary gets.

    Shape: tokens are salted into SHH_GROUPS state keys by term hash
    (a term lives in exactly ONE group, so no cross-group merge);
    each group folds its token stream through a Misra-Gries summary
    of SHH_M counters inside applyInPandasWithState. MG's guarantee
    is ORDER-INDEPENDENT — any term with group count > n_g/SHH_M is
    in the final summary under every batch split and arrival order —
    so with SHH_M ≥ SHH_PHI/SHH_GROUPS (modulo hash imbalance) the
    candidate union is a deterministic superset of the true
    phi-heavy hitters. A batch verify pass then computes EXACT counts
    for candidates only (the q_text_heavy_hitters pass-2 shape),
    which is why a streaming sketch operator can carry a full SQL
    oracle: the sketch bounds the candidate set, never the answer.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.textops import _hh_tokens, _hh_verify, _mg_merge
    from ..sources import load_documents_stream, load_table

    toks = _hh_tokens(load_documents_stream(spark, sf_dir)).select(
        "term",
        F.pmod(F.xxhash64("term"), F.lit(SHH_GROUPS)).alias("g"),
    )

    def mg_update(key, pdf_iter, state):
        # the group's summary carried across micro-batches
        counters = dict(zip(*state.get)) if state.exists else {}
        counters = _mg_merge(counters, pdf_iter, SHH_M)
        state.update(
            (list(counters.keys()), [int(v) for v in counters.values()])
        )
        yield pd.DataFrame({"term": list(counters.keys())})

    cand_stream = toks.groupBy("g").applyInPandasWithState(
        mg_update,
        outputStructType="term string",
        stateStructType="terms array<string>, counts array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    cand = _run_to_memory(spark, cand_stream, "update").select("term").distinct()
    btoks = _hh_tokens(load_table(spark, sf_dir, "documents"))
    return _hh_verify(btoks, cand, SHH_PHI)


class UpsertKeyedSink:
    """foreachBatch keyed-merge sink: last-write-wins upsert of each
    key's newest row — a miniature MERGE INTO on a bucketed,
    copy-on-write keyed parquet table (VERDICT r05 item 4: the
    driver-side dict stand-in is gone).

    Merge law: per-key max over the FULL version struct
    (ts, event_id, event_type, value) — one total order used for both
    the in-batch reduce and the cross-version merge, so the law holds
    unconditionally, including duplicate (ts, event_id) tuples
    (ADVICE r05 item 2: the dict tiebreak that diverged from the
    struct order no longer exists). max(struct) is associative,
    commutative, and idempotent ⇒ the final table is identical under
    ANY batch split and under trigger replay (exactly-once effect
    from an at-least-once channel; pytest-pinned by the 3-slice,
    any-split-property, and double-apply tests).

    Scale shape: each batch is REDUCED executor-side first
    (partial-aggregable max(struct) ⇒ O(keys-in-batch) rows), keys
    are hash-bucketed (NB buckets), and ONLY the buckets a batch
    touches are re-merged and rewritten — untouched buckets are
    carried by manifest reference, the Delta/Iceberg copy-on-write
    pattern. Commit is two-phase: new bucket files land first, then
    the `_CURRENT` JSON manifest (bucket → version) swings via atomic
    rename; unreferenced versions are GC'd after the swap. No
    `.collect()` touches row data — the only driver materialization
    is the ≤NB touched-bucket ids.
    """

    NB = 8  # hash buckets; at 100 TB this is thousands, set by key count

    _SCHEMA = (
        "user_id long, ts timestamp, event_id long, "
        "event_type string, value double"
    )

    def __init__(self, base_dir: str | None = None) -> None:
        import tempfile

        self.base = base_dir or tempfile.mkdtemp(prefix="upsert_keyed_")
        os.makedirs(self.base, exist_ok=True)
        # Reopen-and-continue (ADVICE r06): resume versioning from the
        # newest committed snapshot, else the first commit after a
        # restart would try to re-create an existing v000001 directory
        # and the recovery path the manifest protocol advertises would
        # be unusable.
        self._version = max(self.snapshots(), default=0)
        self._spark: SparkSession | None = None

    # -- manifest (bucket -> version) ---------------------------------
    def _manifest(self) -> dict[int, int]:
        ptr = os.path.join(self.base, "_CURRENT")
        if not os.path.exists(ptr):
            return {}
        with open(ptr) as f:
            return {int(k): v for k, v in json.load(f).items()}

    def _commit(self, manifest: dict[int, int]) -> None:
        # Archive this commit's manifest as an immutable snapshot
        # (time travel: table(as_of=snapshot)), then swing _CURRENT.
        snap = os.path.join(
            self.base, f"_manifest_v{self._version:06d}.json"
        )
        payload = json.dumps({str(k): v for k, v in manifest.items()})
        with open(snap + ".tmp", "w") as f:
            f.write(payload)
        os.replace(snap + ".tmp", snap)
        tmp = os.path.join(self.base, "_CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(self.base, "_CURRENT"))
        # GC: a version dir is live while ANY retained manifest
        # snapshot references it (older snapshots keep their data
        # readable until vacuum(retain_last=...) drops them).
        import shutil

        live = self._live_versions()
        for d in os.listdir(self.base):
            if d.startswith("v") and d not in live:
                shutil.rmtree(os.path.join(self.base, d), ignore_errors=True)

    def snapshots(self) -> list[int]:
        """Committed snapshot ids, oldest first."""
        return sorted(
            int(d[len("_manifest_v"):-len(".json")])
            for d in os.listdir(self.base)
            if d.startswith("_manifest_v") and d.endswith(".json")
        )

    def _read_snapshot(self, snap_id: int) -> dict[int, int]:
        path = os.path.join(self.base, f"_manifest_v{snap_id:06d}.json")
        with open(path) as f:
            return {int(k): v for k, v in json.load(f).items()}

    def _live_versions(self) -> set[str]:
        live: set[str] = set()
        for sid in self.snapshots():
            live.update(
                f"v{v:06d}" for v in self._read_snapshot(sid).values()
            )
        return live

    def _bucket_paths(self, manifest: dict[int, int], buckets) -> list[str]:
        return [
            os.path.join(self.base, f"v{manifest[b]:06d}", f"bucket={b}")
            for b in buckets
            if b in manifest
        ]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = self._spark = batch_df.sparkSession
        ver = F.struct("ts", "event_id", "event_type", "value")
        reduced = (
            batch_df.groupBy("user_id")
            .agg(F.max(ver).alias("m"))
            .withColumn(
                "bucket", F.pmod(F.xxhash64("user_id"), F.lit(self.NB))
            )
        )
        touched = sorted(
            r.bucket for r in reduced.select("bucket").distinct().collect()
        )
        manifest = self._manifest()
        existing = self._bucket_paths(manifest, touched)
        if existing:
            cur = (
                spark.read.schema(self._SCHEMA)
                .parquet(*existing)
                .select(
                    "user_id",
                    F.struct(
                        "ts", "event_id", "event_type", "value"
                    ).alias("m"),
                    F.pmod(F.xxhash64("user_id"), F.lit(self.NB)).alias(
                        "bucket"
                    ),
                )
            )
            merged = (
                reduced.unionByName(cur)
                .groupBy("user_id", "bucket")
                .agg(F.max("m").alias("m"))
            )
        else:
            merged = reduced
        self._version += 1
        vdir = os.path.join(self.base, f"v{self._version:06d}")
        (
            merged.select("bucket", "user_id", "m.*")
            .coalesce(max(1, len(touched)))
            .write.partitionBy("bucket")
            .parquet(vdir)
        )
        for b in touched:
            manifest[b] = self._version
        self._commit(manifest)

    def vacuum(self, retain_last: int | None = None) -> dict[str, int]:
        """Remove garbage the commit-time GC can never see: version
        directories referenced by NO retained manifest snapshot (a
        writer died between data-write and pointer-swap) and stale
        `.tmp` pointers. With retain_last=N, first expire all but the
        newest N manifest snapshots (bounding time-travel history —
        the Delta VACUUM retention semantics in miniature). Safe by
        the commit protocol: readers resolve only through `_CURRENT`
        or a retained snapshot, so deletions cannot change any
        readable state. Returns {n_live_versions, n_orphans_removed,
        n_tmp_removed, n_snapshots_expired}."""
        import shutil

        n_expired = 0
        if retain_last is not None:
            for sid in self.snapshots()[:-retain_last or None]:
                os.remove(
                    os.path.join(self.base, f"_manifest_v{sid:06d}.json")
                )
                n_expired += 1
        live = self._live_versions()
        n_orphans = n_tmp = 0
        for d in os.listdir(self.base):
            path = os.path.join(self.base, d)
            if d.startswith("v") and d not in live:
                shutil.rmtree(path, ignore_errors=True)
                n_orphans += 1
            elif d.endswith(".tmp"):
                os.remove(path)
                n_tmp += 1
        return {
            "n_live_versions": len(live),
            "n_orphans_removed": n_orphans,
            "n_tmp_removed": n_tmp,
            "n_snapshots_expired": n_expired,
        }

    def table(self, as_of: int | None = None) -> DataFrame:
        """The committed keyed table (one row per user_id) — current
        state, or the state AS OF an earlier snapshot id (time
        travel; ids from snapshots(), readable until vacuum's
        retention expires them)."""
        if self._spark is None:
            raise RuntimeError("no batch applied yet")
        manifest = (
            self._manifest() if as_of is None else self._read_snapshot(as_of)
        )
        paths = self._bucket_paths(manifest, sorted(manifest))
        if not paths:  # nothing committed yet (e.g. empty stream)
            return self._spark.createDataFrame([], self._SCHEMA)
        return self._spark.read.schema(self._SCHEMA).parquet(*paths)

    @property
    def rows(self) -> dict:
        """Read-back view {user_id: (ts, event_id, event_type, value)}
        of the committed table — the test/debug accessor (bounded by
        key count; production consumers read `table()`)."""
        if self._spark is None:
            return {}
        return {
            r.user_id: (r.ts, r.event_id, r.event_type, r.value)
            for r in self.table().collect()
        }


@register(
    "s_upsert_sink",
    oracle="""
    SELECT user_id, event_type AS last_type,
           round(value, 6) AS last_value, ts AS last_ts
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC)
                        AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def s_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: the event stream maintains a keyed
    current-state table (one row per user, that user's newest event)
    through a foreachBatch last-write-wins merge into a bucketed
    copy-on-write parquet table (UpsertKeyedSink) — the streaming
    twin of q_cdc_apply, and the third sink certificate after the
    top-k document sink's complete/update modes. The oracle
    recomputes the final table relationally (keep-latest per key), so
    the certificate covers stream -> merge -> committed table files
    end to end — the returned frame is read back from the manifest's
    parquet, not from any in-process state.
    """
    from ..sources import load_events_stream

    events = load_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    sink = UpsertKeyedSink()
    q = (
        events.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout=600):
        q.stop()
        raise TimeoutError("s_upsert_sink exceeded 600s")
    return sink.table().select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 6).alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "s_window_distinct",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def s_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per tumbling day window, in streaming.
    count(DISTINCT) is unsupported inside a streaming aggregation, so
    the engine-correct pattern is dedup-then-count: dropDuplicates on
    (user, day) keeps the FIRST event per key (state O(distinct
    keys), watermark-evictable in production), and the downstream
    windowed count then counts rows — two chained stateful operators,
    the same chaining certified by s_chained_windows. The oracle is
    the batch COUNT(DISTINCT), so the certificate covers the whole
    dedup->window->count equivalence.
    """
    events = load_events_stream(spark, sf_dir).select(
        "ts", "user_id", F.date_trunc("day", "ts").alias("day")
    )
    deduped = events.dropDuplicates(["user_id", "day"])
    agg = deduped.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    out = _run_to_memory(spark, agg, "complete")
    return out.select(F.col("w.start").alias("window_start"), "n_users")


@register("s_dq_drift", oracle=_drift_oracle())
def s_dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor: the event stream is classified
    against a FROZEN reference profile (per-type calendar midpoint +
    value-range bins — the static side of a stream-static broadcast
    join, exactly how production monitors pin a reference window),
    counted per (type, period, bin) by an incremental stateful
    aggregation, and the memory-sink counts fold into the SAME
    smoothed PSI as the batch audit (q_dq_drift) via the shared
    drift_psi core — one statistic, two execution models, one oracle.

    Scale: the stream side carries only (type, period, bin) — state
    is O(types × 2 × 10) rows regardless of volume; the profile is
    broadcast. The PSI fold happens on the tiny sink table.
    """
    from ..operators.quality import (
        drift_bounds,
        drift_classified,
        drift_psi,
    )
    from ..sources import load_table

    ev_ref = load_table(spark, sf_dir, "events")
    bounds = drift_bounds(ev_ref)
    stream = load_events_stream(spark, sf_dir)
    counts = drift_classified(stream, bounds).groupBy(
        "event_type", "period", "bin"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    sink = _run_to_memory(spark, counts, "complete")
    return drift_psi(sink)


ALERT_SPEND_THRESHOLD = 500.0


@register(
    "s_threshold_alert",
    oracle=f"""
    WITH p AS (
        SELECT user_id, ts, event_id,
               sum(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS cum
        FROM events WHERE event_type = 'purchase'
    ),
    crossing AS (
        SELECT user_id, ts, cum,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM p WHERE cum >= {ALERT_SPEND_THRESHOLD}
    )
    SELECT user_id, ts AS alert_ts, round(cum, 4) AS cum_spend
    FROM crossing WHERE rn = 1
    """,
)
def s_threshold_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming ALERTING: fire exactly ONE alert per user
    the first time their running purchase spend crosses
    ALERT_SPEND_THRESHOLD, then suppress forever — the
    alert-storm-suppression contract every monitoring pipeline needs
    (emit-on-transition, not emit-while-true). State per user is two
    scalars (cum_spend, alerted); the crossing event's own timestamp
    and the cumulative value AT the crossing are emitted, so the
    alert is attributable. Batch-replay equality with the SQL
    first-crossing query is the oracle.

    Scale: state is O(active users) × 17 bytes, independent of event
    volume; alerts are append-mode (each fires once), so downstream
    consumers get an insert-only stream. Within a micro-batch the
    kernel sorts by (ts, event_id) — the deterministic order the
    oracle uses; across batches the file-source replay preserves
    file order (event time here), as all replay twins in this module
    assume.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = load_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "event_id", "ts", "value")

    def alert_fn(key, pdf_iter, state):
        cum, alerted = (
            (state.get[0], bool(state.get[1]))
            if state.exists
            else (0.0, False)
        )
        out = []
        for pdf in pdf_iter:
            if alerted or not len(pdf):
                cum += float(pdf["value"].sum()) if len(pdf) else 0.0
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            run = pdf["value"].cumsum() + cum
            hit = run[run >= ALERT_SPEND_THRESHOLD]
            cum = float(run.iloc[-1])
            if len(hit):
                i = hit.index[0]
                out.append(
                    pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "alert_ts": [pdf.loc[i, "ts"]],
                            "cum_spend": [round(float(hit.iloc[0]), 4)],
                        }
                    )
                )
                alerted = True
        state.update((cum, int(alerted)))
        yield from out

    alerts = ev.groupBy("user_id").applyInPandasWithState(
        alert_fn,
        outputStructType="user_id long, alert_ts timestamp,"
        " cum_spend double",
        stateStructType="cum double, alerted int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(spark, alerts, "append")


@register(
    "s_prior_zscore",
    oracle="""
    WITH seq AS (
        SELECT event_id, event_type, value,
               count(*) OVER w AS n,
               sum(value) OVER w AS s,
               sum(value * value) OVER w AS ss
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING)
    )
    SELECT event_id, event_type, value,
           round((value - s / n)
                 / sqrt((ss - s * s / n) / (n - 1)), 6) AS z
    FROM seq
    WHERE n >= 2 AND (ss - s * s / n) / (n - 1) > 0
      AND abs((value - s / n)
              / sqrt((ss - s * s / n) / (n - 1))) > 3
    """,
)
def s_prior_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection with PRIOR-ONLY statistics: each
    event's value is z-scored against the running (n, Σx, Σx²) of
    the events seen BEFORE it on the same event_type key, and
    emitted when |z| > 3 — the leakage-free form of
    q_events_anomaly_zscore (whose batch stats include the anomaly
    itself) and the alerting kernel a real monitor runs: state is
    three doubles per key, emissions happen the moment the event is
    processed.

    applyInPandasWithState keeps (n, s, ss); the kernel replays each
    micro-batch's rows for a key in (ts, event_id) order and updates
    the sums ONE VALUE AT A TIME, so the float partial sums are the
    exact sequence the oracle's prefix window computes — sequential
    arithmetic is the contract here, which is why this kernel is
    per-key sequential-in-Python by design (the per-key stream IS
    sequential; keys run in parallel across state partitions).
    """
    import math as _math

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    events = load_events_stream(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )

    def flag_anomalies(key, pdf_iter, state):
        n, s, ss = state.get if state.exists else (0, 0.0, 0.0)
        out_id, out_val, out_z = [], [], []
        pdfs = [pdf for pdf in pdf_iter]
        rows = (
            pd.concat(pdfs).sort_values(["ts", "event_id"])
            if pdfs
            else pd.DataFrame(columns=["event_id", "value"])
        )
        for eid, x in zip(rows["event_id"], rows["value"]):
            x = float(x)
            if n >= 2:
                mean = s / n
                var = (ss - s * s / n) / (n - 1)
                if var > 0:
                    z = (x - mean) / _math.sqrt(var)
                    if abs(z) > 3:
                        out_id.append(int(eid))
                        out_val.append(x)
                        out_z.append(round(z, 6))
            n += 1
            s += x
            ss += x * x
        state.update((n, s, ss))
        yield pd.DataFrame(
            {
                "event_id": pd.Series(out_id, dtype="int64"),
                "event_type": key[0],
                "value": pd.Series(out_val, dtype="float64"),
                "z": pd.Series(out_z, dtype="float64"),
            }
        )

    flagged = events.groupBy("event_type").applyInPandasWithState(
        flag_anomalies,
        outputStructType=(
            "event_id long, event_type string, value double, z double"
        ),
        stateStructType="n long, s double, ss double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(spark, flagged, "update")
    return out.select("event_id", "event_type", "value", "z")


@register(
    "s_rate_limit",
    oracle="""
    WITH RECURSIVE ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    rt(user_id, rn, event_id, t, tokens, allowed) AS (
        SELECT user_id, rn, event_id, t,
               180000000 - 60000000,
               TRUE
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.event_id, e.t,
               CASE WHEN least(180000000, r.tokens + (e.t - r.t))
                         >= 60000000
                    THEN least(180000000, r.tokens + (e.t - r.t))
                         - 60000000
                    ELSE least(180000000, r.tokens + (e.t - r.t))
               END,
               least(180000000, r.tokens + (e.t - r.t)) >= 60000000
        FROM ev e JOIN rt r
          ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT event_id, user_id, allowed,
           CAST(tokens AS BIGINT) AS tokens_after
    FROM rt
    """,
)
def s_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user token-bucket rate limiter: capacity 3
    requests, refill one request per 60 s of EVENT time, cost one
    per event — every event is emitted with its allow/deny verdict
    and the remaining bucket, which is the admission-control
    primitive in front of any ingest API (and the event-time twin of
    q_events_bot_detect: a user who is ever denied is bursting
    faster than 1/min).

    All bucket arithmetic is INTEGER microseconds (one token =
    60 000 000 µs-units, capacity 180 000 000) — no floats anywhere,
    so the applyInPandasWithState kernel and the DuckDB recursive
    CTE agree bit-for-bit on every verdict, the strongest possible
    cross-engine certificate for a sequential stateful operator.
    State per key is two longs; batch rows replay in (ts, event_id)
    order inside the kernel.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    CAP = 180_000_000
    COST = 60_000_000

    events = load_events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id"
    ).withColumn("t_us", F.unix_micros("ts"))

    def limit(key, pdf_iter, state):
        if state.exists:
            tokens, last = state.get
            started = True
        else:
            tokens, last, started = CAP, 0, False
        out_id, out_allowed, out_tokens = [], [], []
        pdfs = [pdf for pdf in pdf_iter]
        rows = (
            pd.concat(pdfs).sort_values(["ts", "event_id"])
            if pdfs
            else pd.DataFrame(columns=["event_id", "t_us"])
        )
        for eid, t in zip(rows["event_id"], rows["t_us"]):
            t = int(t)
            if started:
                tokens = min(CAP, tokens + (t - last))
            allowed = tokens >= COST
            if allowed:
                tokens -= COST
            last, started = t, True
            out_id.append(int(eid))
            out_allowed.append(allowed)
            out_tokens.append(tokens)
        state.update((tokens, last))
        yield pd.DataFrame(
            {
                "event_id": pd.Series(out_id, dtype="int64"),
                "user_id": key[0],
                "allowed": pd.Series(out_allowed, dtype="bool"),
                "tokens_after": pd.Series(out_tokens, dtype="int64"),
            }
        )

    limited = events.groupBy("user_id").applyInPandasWithState(
        limit,
        outputStructType=(
            "event_id long, user_id long, allowed boolean,"
            " tokens_after long"
        ),
        stateStructType="tokens long, last long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(spark, limited, "update")
    return out.select("event_id", "user_id", "allowed", "tokens_after")


@register(
    "s_priority_sample",
    oracle="""
    SELECT event_type, event_id, rnk
    FROM (
        SELECT event_type, event_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rnk
        FROM events
    )
    WHERE rnk <= 3
    """,
)
def s_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming uniform sample WITHOUT randomness state: keep the 3
    events with the smallest md5(event_id) priority per event_type.
    min-k-by-hash priority sampling is ORDER-INDEPENDENT — the
    maintained set depends only on membership, not arrival order or
    batch splits — which is exactly why the streaming result equals
    the batch top-3 and a DuckDB oracle can certify a streaming
    sampler at all (a seeded RNG reservoir could not be). The same
    md5-priority trick as q_sample_reservoir, lifted into
    applyInPandasWithState with six scalar state fields (3 priority
    hexes + 3 ids).

    Update-mode emissions include superseded candidates from early
    batches; the final min-3 per key recovers the converged state
    exactly (displaced rows always carry larger priorities).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    events = load_events_stream(spark, sf_dir).select(
        "event_id", "event_type"
    ).withColumn(
        "prio", F.md5(F.col("event_id").cast("string"))
    )

    def keep3(key, pdf_iter, state):
        cur = []
        if state.exists:
            p1, i1, p2, i2, p3, i3 = state.get
            cur = [
                (p, i)
                for p, i in ((p1, i1), (p2, i2), (p3, i3))
                if p is not None
            ]
        for pdf in pdf_iter:
            cur.extend(zip(pdf["prio"], pdf["event_id"]))
            cur = sorted(set((str(p), int(i)) for p, i in cur))[:3]
        pad = cur + [(None, None)] * (3 - len(cur))
        state.update(
            (pad[0][0], pad[0][1], pad[1][0], pad[1][1],
             pad[2][0], pad[2][1])
        )
        yield pd.DataFrame(
            {
                "event_type": key[0],
                "event_id": pd.Series(
                    [i for _, i in cur], dtype="int64"
                ),
            }
        )

    kept = events.groupBy("event_type").applyInPandasWithState(
        keep3,
        outputStructType="event_type string, event_id long",
        stateStructType=(
            "p1 string, i1 long, p2 string, i2 long, p3 string, i3 long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from pyspark.sql import Window as W

    out = _run_to_memory(spark, kept, "update")
    w = W.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        out.distinct()
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "event_type", "event_id", F.col("rnk").cast("long").alias("rnk")
        )
    )


@register(
    "s_scd2_stream",
    oracle="""
    WITH ch AS (
        SELECT user_id, event_id, ts, round(value, 4) AS value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, value, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM ch
    """,
)
def s_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING slowly-changing-dimension Type 2 — the live twin of
    q_cdc_scd2: each user's purchase changelog becomes half-open
    validity intervals maintained incrementally, state per key = the
    one OPEN version (value, valid_from µs). A new change closes the
    open version (emitting it with valid_to = the new change's ts)
    and opens the next; every call also re-emits the key's open
    snapshot, and the post-pass keeps the CLOSED form of each
    (user, valid_from) version when one exists — max(struct) with
    NULL valid_to ordering first does that selection exactly. A
    version closes at most once, so the recovery is unambiguous.

    Batch-replay equality with the batch lead() window is the
    oracle, under the same in-order-batches CDC assumption as every
    replay twin in this module (within a batch the kernel sorts by
    (ts, event_id); the 3-slice pytest pins cross-batch interval
    stitching through state).

    Scale: state is O(keys) × 16 bytes; emissions are
    O(changes + keys-per-batch), never O(history); the recovery
    groupBy is keyed by (user, valid_from) — partial-aggregable.
    """
    ev = load_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "event_id", "ts", "value")
    out = _run_to_memory(spark, _scd2_versions(ev), "update")
    return _scd2_recover(out)


def _scd2_versions(ev: DataFrame) -> DataFrame:
    """applyInPandasWithState SCD2 kernel over a (user_id, event_id,
    ts, value) change stream — split out so tests can drive it with
    their own multi-batch file source."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def scd2_fn(key, pdf_iter, state):
        cur_val, cur_vf = (
            (state.get[0], state.get[1]) if state.exists else (None, None)
        )
        frames = []
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            vf_us = (pdf["ts"].astype("int64") // 1000).to_list()
            vals = [round(float(v), 4) for v in pdf["value"]]
            closed_v, closed_f, closed_t = [], [], []
            if cur_val is not None:
                closed_v.append(cur_val)
                closed_f.append(cur_vf)
                closed_t.append(vf_us[0])
            # within-batch: version i closes at change i+1's ts
            closed_v += vals[:-1]
            closed_f += vf_us[:-1]
            closed_t += vf_us[1:]
            cur_val, cur_vf = vals[-1], vf_us[-1]
            frames.append((closed_v, closed_f, closed_t))
        out_v = [v for f in frames for v in f[0]]
        out_f = [v for f in frames for v in f[1]]
        out_t = [v for f in frames for v in f[2]]
        if cur_val is not None:
            state.update((cur_val, cur_vf))
            out_v.append(cur_val)
            out_f.append(cur_vf)
            out_t.append(None)
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "value": pd.Series(out_v, dtype="float64"),
                "valid_from": pd.to_datetime(
                    pd.Series(out_f, dtype="int64"), unit="us"
                ),
                "valid_to": pd.to_datetime(
                    pd.Series(out_t, dtype="object"), unit="us"
                ),
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        scd2_fn,
        outputStructType="user_id long, value double,"
        " valid_from timestamp, valid_to timestamp",
        stateStructType="val double, vf_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _scd2_recover(out: DataFrame) -> DataFrame:
    """Collapse update-mode emissions to final intervals: per
    (user, valid_from) keep the closed form when one exists (NULL
    valid_to orders first under struct max)."""
    best = F.max(F.struct("valid_to", "value")).alias("b")
    return (
        out.groupBy("user_id", "valid_from")
        .agg(best)
        .select(
            "user_id",
            F.col("b.value").alias("value"),
            "valid_from",
            F.col("b.valid_to").alias("valid_to"),
            F.when(F.col("b.valid_to").isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
        )
    )


@register(
    "s_enrich_pit",
    oracle="""
    WITH dim AS (
        SELECT user_id, round(value, 4) AS ver_value, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to
        FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, d.ver_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') f
    JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def s_enrich_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING point-in-time enrichment: the click stream joined
    against the batch-built SCD2 purchase dimension with the
    half-open interval predicate riding the stream-static equi-join
    as a residual filter — the feature-serving shape (training
    features must come from the version current AT event time;
    joining the latest version is the training/serving-skew bug).
    Stream-static needs NO state or watermark: the dimension is
    planned once per micro-batch, so the temporal correctness comes
    entirely from the interval predicate, not from stream
    synchronization — which is why PIT enrichment belongs on the
    static side while the dimension fits batch refresh cadence (the
    fully-streaming twin is s_scd2_stream + this join downstream).

    Scale: equi-join on user_id with per-user version fan-out
    bounded by version count; the dim is the only broadcast/shuffled
    side per batch.
    """
    from pyspark.sql import Window

    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("d_user"),
            F.round("value", 4).alias("ver_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    clicks = load_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select("event_id", "user_id", "ts")
    joined = clicks.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & (
            F.col("valid_to").isNull()
            | (F.col("ts") < F.col("valid_to"))
        ),
    ).select("event_id", "ver_value")
    return _run_to_memory(spark, joined, "append")


@register(
    "s_hll_distinct",
    oracle="""
    WITH h AS (
        SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                    AS BIGINT) AS bucket,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 8))
                    AS BIGINT) AS w
        FROM events
    ),
    regs AS (
        SELECT bucket,
               max(CASE WHEN w = 0 THEN 33
                        ELSE 33 - length(bin(w)) END) AS rho
        FROM h GROUP BY bucket
    ),
    s AS (SELECT count(*) AS used, sum(pow(2.0, -rho)) AS ps FROM regs)
    SELECT 256 AS m,
           used AS n_registers_used,
           round(CASE WHEN CAST(0.7182725932495458 AS DOUBLE) * 256 * 256
                           / (ps + (256 - used)) <= 2.5 * 256
                           AND used < 256
                      THEN 256 * ln(CAST(256 AS DOUBLE) / (256 - used))
                      ELSE CAST(0.7182725932495458 AS DOUBLE) * 256 * 256
                           / (ps + (256 - used))
                 END, 4) AS hll_estimate
    FROM s
    """,
)
def s_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING approximate distinct users via the md5 HLL — the
    same 256 registers as `q_agg_hll_md5`, maintained incrementally:
    register state is a per-bucket running MAX, and max is monotone,
    so Spark's built-in streaming aggregation in update mode IS the
    sketch maintainer (no arbitrary-state API needed — contrast
    s_stateful_count, which needs applyInPandasWithState because a
    running count must add, not max). State is bounded at 256 rows
    FOREVER, the whole point of sketching an unbounded stream: exact
    streaming distinct (s_window_distinct) holds every key in the
    state store; this holds 256 bigints no matter how many trillion
    events pass. The availableNow replay makes the final registers
    equal the batch registers (max is order- and batch-split-
    invariant — the same merge law q_agg_hll_merge certifies), so
    the DuckDB batch oracle hash-checks the streaming estimate
    end-to-end.

    The memory sink sees one row per (bucket, micro-batch) in update
    mode; the final register value is the max per bucket — the same
    post-replay reduction s_stateful_count documents.
    """
    ev = load_events_stream(spark, sf_dir)
    out = _run_to_memory(spark, _hll_registers(ev, []), "update")
    regs = out.groupBy("bucket").agg(F.max("rho").alias("rho"))
    return _hll_sums(regs).select(
        F.lit(256).alias("m"),
        F.col("used").alias("n_registers_used"),
        F.round(_hll_estimate(F.col("used"), F.col("ps")), 4).alias(
            "hll_estimate"
        ),
    )


# Streaming histogram-quantile sketch: dyadic domain so the bucket
# width is an exact double (512/4096 = 0.125) — see the batch twin
# q_agg_histogram_quantile (operators/aggregates.py) for the design.
SQS_BUCKETS = 4096
SQS_WIDTH = 512.0 / SQS_BUCKETS  # 0.125 exactly


def _sqs_bucket() -> F.Column:
    """The stream sketches' bucket of an event's value on this grid."""
    return _hist_bucket(
        F.col("value").cast("double"), SQS_BUCKETS, SQS_WIDTH
    )


@register(
    "s_quantile_sketch",
    oracle=f"""
    WITH h AS (
        SELECT LEAST({SQS_BUCKETS - 1},
                     CAST(floor(CAST(value AS DOUBLE) / {SQS_WIDTH!r})
                          AS BIGINT)) AS b,
               count(*) AS c
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT b, c,
               sum(c) OVER (ORDER BY b) AS cum,
               sum(c) OVER () AS total
        FROM h
    ),
    qs AS (SELECT * FROM (VALUES {", ".join(f"('{k}', CAST({q} AS DOUBLE))" for k, q in HQ_QS)})
           AS t(qk, q)),
    pick AS (
        SELECT qs.qk, min(cum.b) AS pb
        FROM cum, qs
        WHERE cum.cum >= ceil(qs.q * cum.total)
        GROUP BY 1
    ),
    est AS (
        SELECT p.qk,
               round({SQS_WIDTH!r} * (p.pb
                     + (ceil(q.q * c.total) - (c.cum - c.c))
                       / CAST(c.c AS DOUBLE)), 4) AS e
        FROM pick p
        JOIN cum c ON c.b = p.pb
        JOIN qs q ON q.qk = p.qk
    )
    SELECT (SELECT count(*) FROM events) AS n,
           (SELECT count(*) FROM h) AS n_buckets_used,
           {", ".join(f"max(CASE WHEN qk = '{k}' THEN e END) AS est_{k}" for k, _ in HQ_QS)}
    FROM est
    """,
)
def s_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantile sketch — per-bucket counts of the fixed
    4096-bucket histogram maintained by Spark's built-in streaming
    aggregation. A streaming count per bucket is a RUNNING count
    (monotone, like s_hll_distinct's register max), so update-mode
    emissions to the memory sink finalize as max per bucket, and the
    availableNow replay makes the final counts equal the batch
    counts exactly — the DuckDB batch oracle hash-checks the
    streaming p50/p95/p99 end-to-end. State is bounded at 4096 rows
    FOREVER: exact streaming percentiles would hold every value in
    the state store; this holds 4096 longs no matter how many
    trillion events pass, and the same counts merge across streams
    by addition (the q_agg_histogram_quantile merge law).

    The quantile finalization (CDF walk + in-bucket interpolation)
    runs batch-side on the 4096-row state — the cheap read-path of
    the lambda architecture this sketch implements.
    """
    ev = load_events_stream(spark, sf_dir)
    h = ev.groupBy(_sqs_bucket().alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    out = _run_to_memory(spark, h, "update")
    buckets = out.groupBy("b").agg(F.max("c").alias("c"))
    return buckets.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_buckets_used")
    ).crossJoin(_hist_quantiles(buckets, [], HQ_QS, SQS_WIDTH))


# Streaming binned-KS drift monitor: same dyadic bucket grid as
# s_quantile_sketch; the two arms are q_dq_ks_test's batch pair.


@register(
    "s_ks_drift",
    oracle=f"""
    WITH h AS (
        SELECT LEAST({SQS_BUCKETS - 1},
                     CAST(floor(CAST(value AS DOUBLE) / {SQS_WIDTH!r})
                          AS BIGINT)) AS b,
               sum(CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END)
                   AS ca,
               sum(CASE WHEN event_type = '{KS_B}' THEN 1 ELSE 0 END)
                   AS cb
        FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
        GROUP BY 1
    ),
    n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM h),
    cum AS (
        SELECT sum(ca) OVER (ORDER BY b) AS cum_a,
               sum(cb) OVER (ORDER BY b) AS cum_b
        FROM h
    )
    SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
           (SELECT count(*) FROM h) AS n_buckets_used,
           round(max(abs(CAST(cum_a AS DOUBLE) / n.na
                         - CAST(cum_b AS DOUBLE) / n.nb)), 6)
               AS ks_binned
    FROM cum, n GROUP BY n.na, n.nb
    """,
)
def s_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING two-sample drift monitor — the production form of
    q_dq_ks_test: per-(bucket) counts of both arms on the fixed
    4096-bucket grid are maintained by built-in streaming
    aggregation (running counts are monotone ⇒ the s_hll_distinct /
    s_quantile_sketch update-mode max-finalize recipe), so state is
    2×4096 longs FOREVER while the exact batch test would hold every
    distinct value. The finalization computes the KS statistic
    between the BINNED CDFs — a lower bound on the true D that
    differs from it by at most the largest single-bucket probability
    mass (0.125-wide buckets on a 0.01-grid metric), the standard
    accuracy/state trade of a streaming monitor; the alarm threshold
    is chosen with that slack. The availableNow replay makes the
    final counts equal the batch counts exactly, so the DuckDB batch
    oracle hash-checks the streaming statistic end-to-end.

    Scale: the stream reduces to ≤ 2×4096 state rows no matter the
    volume; the CDF walk runs batch-side over the tiny state table.
    """
    ev = load_events_stream(spark, sf_dir).filter(
        F.col("event_type").isin(KS_A, KS_B)
    )
    h = ev.groupBy(
        _sqs_bucket().alias("b"), F.col("event_type").alias("arm")
    ).agg(F.count(F.lit(1)).alias("c"))
    out = _run_to_memory(spark, h, "update")
    counts = (
        out.groupBy("b", "arm")
        .agg(F.max("c").alias("c"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("arm") == KS_A, F.col("c")).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("arm") == KS_B, F.col("c")).otherwise(0)).alias("cb"),
        )
    )
    n, d = _cdf_distance(counts, "b")
    used = counts.agg(F.count(F.lit(1)).alias("n_buckets_used"))
    # an empty stream has no CDF to compare: no row, as in the oracle
    return (
        n.crossJoin(used)
        .crossJoin(d)
        .where(F.col("n_buckets_used") > 0)
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "n_buckets_used",
            F.col("ks").alias("ks_binned"),
        )
    )


@register(
    "s_novelty_decay",
    oracle="""
    WITH fs AS (
        SELECT user_id, event_type, min(ts) AS first_ts
        FROM events GROUP BY 1, 2
    ),
    d AS (
        SELECT time_bucket(INTERVAL '1 day', first_ts) AS day,
               count(*) AS n_new_keys
        FROM fs GROUP BY 1
    )
    SELECT day, n_new_keys,
           CAST(sum(n_new_keys) OVER (ORDER BY day) AS BIGINT)
               AS cum_keys,
           round(CAST(n_new_keys AS DOUBLE)
                 / CAST(sum(n_new_keys) OVER (ORDER BY day) AS DOUBLE),
                 6) AS novelty_rate
    FROM d
    """,
)
def s_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus-novelty monitor: per day, how many
    (user, behavior) keys appear for the FIRST time ever, and what
    fraction of all keys seen so far that day contributes — the
    decay curve an ingest pipeline watches to decide when a source
    is mined out (new-key yield falling ⇒ marginal data is
    increasingly duplicate behavior, the acquisition-vs-dedup
    trade). The streaming state is one timestamp per key maintained
    by the built-in aggregation: min(ts) is MONOTONE, so update-mode
    + min-finalize is exact under any micro-batch split (the
    s_hll_distinct recipe; no arbitrary-state API). First-seen-ness
    is defined by EVENT time (global min), not arrival order, so the
    answer is replay-deterministic where a dropDuplicates-based
    "first row wins" would not be. The availableNow replay makes the
    final state equal the batch min, so the DuckDB oracle
    hash-checks the whole curve.

    Scale: state is O(distinct keys) timestamps — for an unbounded
    key domain, production hashes the key into a fixed 2^k-bucket
    space first (novelty of the bucket approximates novelty of the
    key from below, same state bound as the sketch family). The
    post-replay reduction runs on the days-sized frame: the ordered
    cumulative sum is a ~30-row window, not a data-scale sort.
    """
    ev = load_events_stream(spark, sf_dir)
    firsts_stream = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts")
    )
    out = _run_to_memory(spark, firsts_stream, "update")
    firsts = out.groupBy("user_id", "event_type").agg(
        F.min("first_ts").alias("first_ts")
    )
    return _novelty_curve(firsts, "keys")


def _novelty_curve(firsts: DataFrame, unit: str) -> DataFrame:
    """The daily novelty curve of the first-seen times `first_ts`, one
    per key (s_novelty_decay) or per bucket (s_novelty_bucketed): per
    day, n_new_<unit> first appearances, cum_<unit> of them so far,
    and novelty_rate = new / cumulative. The cumulative sum is a
    window over the days-sized frame, not a data-scale sort."""
    new, cum_name = f"n_new_{unit}", f"cum_{unit}"
    d = firsts.groupBy(
        F.date_trunc("day", "first_ts").alias("day")
    ).agg(F.count(F.lit(1)).alias(new))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = F.sum(new).over(w)
    return d.select(
        "day",
        new,
        cum.cast("long").alias(cum_name),
        F.round(F.col(new).cast("double") / cum.cast("double"), 6).alias(
            "novelty_rate"
        ),
    )


# Hard state bound for the bucketed novelty monitor: 2^8 buckets via
# the cross-engine md5 gate. At sf0.01 the corpus has 750 distinct
# (user, event_type) keys and at sf0.1 7500 — both saturate the
# bucket space, so the certification scales EXERCISE the bound (the
# curve measurably diverges from the exact twin's) instead of merely
# asserting it.
NOVELTY_BUCKETS = 256


def _novelty_firsts(ev: DataFrame) -> DataFrame:
    """The streaming state kernel of s_novelty_bucketed: md5-fold the
    (user, event_type) key into the 2^8 bucket space, then min(ts)
    per bucket — update-mode monotone state, hard-capped at 256
    entries. Factored out so the checkpoint-restart pytest drives the
    exact shipped expression across a kill-and-resume."""
    bucket = (
        md5_int(
            F.concat_ws(
                ":", F.col("user_id").cast("string"), F.col("event_type")
            ),
            1,
            4,
        ).cast("int")
        % NOVELTY_BUCKETS
    )
    return (
        ev.select(bucket.alias("bucket"), "ts")
        .groupBy("bucket")
        .agg(F.min("ts").alias("first_ts"))
    )


@register(
    "s_novelty_bucketed",
    oracle=f"""
    WITH fs AS (
        SELECT CAST(('0x' || substr(md5(
                   CAST(user_id AS VARCHAR) || ':' || event_type),
                   1, 4)) AS INTEGER) % {NOVELTY_BUCKETS} AS bucket,
               min(ts) AS first_ts
        FROM events GROUP BY 1
    ),
    d AS (
        SELECT time_bucket(INTERVAL '1 day', first_ts) AS day,
               count(*) AS n_new_buckets
        FROM fs GROUP BY 1
    )
    SELECT day, n_new_buckets,
           CAST(sum(n_new_buckets) OVER (ORDER BY day) AS BIGINT)
               AS cum_buckets,
           round(CAST(n_new_buckets AS DOUBLE)
                 / CAST(sum(n_new_buckets) OVER (ORDER BY day)
                        AS DOUBLE), 6) AS novelty_rate
    FROM d
    """,
)
def s_novelty_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s_novelty_decay's PRODUCTION state bound made real: the
    (user, behavior) key is md5-hashed into a fixed 2^8 = 256
    bucket space BEFORE the streaming min(ts) aggregation, so state
    is hard-capped at 256 timestamps no matter the key cardinality —
    the exact twin's docstring promises this design for unbounded
    key domains; this operator ships and certifies it. Bucket
    novelty lower-bounds key novelty (a bucket is new only when its
    FIRST key arrives; collisions only ever hide novelty, never
    invent it — the same one-sided error as the sketch family), and
    cum_buckets is additionally capped at 256, which the state-size
    pytest pins against a key domain ~3x the bucket space. min(ts)
    stays monotone after bucketing, so update-mode + min-finalize is
    exact under any micro-batch split, and the availableNow replay
    equals the batch min — the DuckDB oracle hash-checks the whole
    curve.

    Scale: state is ≤256 timestamps total across state stores —
    O(1) in corpus size; everything downstream of the replay runs on
    a ≤256-row frame. The md5 gate is the repo's
    cross-engine bucketing convention (identical hex-prefix
    arithmetic both sides).
    """
    ev = load_events_stream(spark, sf_dir)
    firsts_stream = _novelty_firsts(ev)
    out = _run_to_memory(spark, firsts_stream, "update")
    firsts = out.groupBy("bucket").agg(
        F.min("first_ts").alias("first_ts")
    )
    return _novelty_curve(firsts, "buckets")


# Streaming near-dup-rate monitor: minhash band buckets as bounded
# state. 16 md5 minhashes in 4x4 bands (the q_dedup_minhash_md5
# recipe — engine-portable hash family), band keys hashed into a
# fixed 2^16 bucket space so state is HARD-capped at 65536 first-
# owner doc_ids regardless of corpus size. Bucket collisions can
# only over-flag (one-sided error toward caution, like the sketch
# family); at certification scales (≤5000 docs, ≤20000 band rows)
# the 16-bit space makes collisions negligible.
MDR_HASHES = 16
MDR_BANDS = 4
MDR_BUCKETS = 65536


def _mdr_shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, source, sh) with sh the row's 3-shingle array,
    materialized ONCE as a named column so the 16 downstream minhash
    expressions reference the attribute instead of re-deriving the
    array (textops._word_ngrams over the non-empty lower-cased words;
    docs with <3 words carry no shingles and are dropped here,
    identically in both hash tiers and the DuckDB oracle)."""
    from ..operators.textops import _word_ngrams

    ws = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    return docs.filter(F.size(ws) >= 3).select(
        "doc_id", "source", _word_ngrams(ws, 3).alias("sh")
    )


def _mdr_band_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bucket) — one row per (doc, band), computed
    entirely PER ROW (no shuffle): 3-shingles via _mdr_shingled,
    each minhash an array_min over md5(i ':' s)
    (min over a multiset equals min over the set, so no DISTINCT is
    needed), band signature = the band's 4 minhashes concatenated in
    i order, bucket = md5 hex-prefix of (band ':' sig) mod 2^16.
    Being shuffle-free is what makes the same expression legal on a
    STREAMING frame.

    The shingle array is materialized as a NAMED projection before
    the 16 minhash columns consume it: inlined, CollapseProject
    would leave each minhash rebuilding split/slice/zip/concat_ws
    from raw text — measured 5x slower at sf0.1 (round 11). The
    named attribute is non-cheap and multiply-referenced, so the
    projection boundary survives optimization and the shingles are
    built once per row."""
    base = _mdr_shingled(docs)
    rows_per_band = MDR_HASHES // MDR_BANDS

    def mh(i: int) -> F.Column:
        return F.array_min(
            F.transform(
                F.col("sh"), lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))
            )
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[mh(b * rows_per_band + r) for r in range(rows_per_band)]
                ).alias("sg"),
            )
            for b in range(MDR_BANDS)
        ]
    )
    return (
        base.select("doc_id", "source", F.explode(bands).alias("bd"))
        .select(
            "doc_id",
            "source",
            (
                md5_int(
                    F.concat(
                        F.col("bd.band").cast("string"),
                        F.lit(":"),
                        F.col("bd.sg"),
                    ),
                    1,
                    4,
                ).cast("int")
                % MDR_BUCKETS
            ).alias("bucket"),
        )
    )


def _mdr_band_buckets_fast(docs: DataFrame) -> DataFrame:
    """xxhash64 production twin of _mdr_band_buckets: identical
    shingling/banding scheme, but every hash is Spark's builtin
    xxhash64 (JVM codegen, ~10x cheaper than the md5 hex family) —
    minhash_i = min over shingles of xxhash64(i, s), band signature
    = the band's 4 minhash longs, bucket = pmod(xxhash64(band, sig),
    2^16). Not reproducible in DuckDB (no xxhash64), so the twin is
    rows-only and its correctness is PARITY-pinned against the
    certified md5 tier on planted duplicates (exact duplicates have
    identical shingle sets, hence identical signatures under ANY
    hash family — the q_dedup_minhash_lsh / q_dedup_minhash_md5
    dichotomy applied to streaming)."""
    base = _mdr_shingled(docs)
    rows_per_band = MDR_HASHES // MDR_BANDS

    def mh(i: int) -> F.Column:
        return F.array_min(
            F.transform(F.col("sh"), lambda s: F.xxhash64(F.lit(i), s))
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array(
                    *[mh(b * rows_per_band + r) for r in range(rows_per_band)]
                ).alias("sg"),
            )
            for b in range(MDR_BANDS)
        ]
    )
    return (
        base.select("doc_id", "source", F.explode(bands).alias("bd"))
        .select(
            "doc_id",
            "source",
            F.pmod(
                F.xxhash64(F.col("bd.band"), F.col("bd.sg")),
                F.lit(MDR_BUCKETS),
            ).alias("bucket"),
        )
    )


def _mdr_monitor(spark: SparkSession, sf_dir: str, band_fn) -> DataFrame:
    """Shared plan of the streaming dup-rate monitor: per-row band
    buckets -> update-mode min(doc_id) owner state (monotone, so the
    replay is exact under any micro-batch split) -> broadcast owner
    join -> per-source dup-rate rollup. band_fn picks the hash tier
    (md5 = certified, xxhash64 = production)."""
    from ..sources import load_documents_stream, load_table

    stream_bk = band_fn(
        load_documents_stream(spark, sf_dir)
    ).select("bucket", "doc_id")
    owners_stream = stream_bk.groupBy("bucket").agg(
        F.min("doc_id").alias("first_doc")
    )
    # key_cols: the 2^16-bucket key space is within 2x of the raw-row
    # budget, so a multi-batch replay's re-emissions must be counted
    # as distinct keys, not sink rows (ADVICE r11 item 1).
    out = _run_to_memory(
        spark, owners_stream, "update", key_cols=["bucket"]
    )
    owners = out.groupBy("bucket").agg(
        F.min("first_doc").alias("first_doc")
    )
    docs = load_table(spark, sf_dir, "documents")
    bk = band_fn(docs)
    flags = (
        # owners is HARD-capped at MDR_BUCKETS=65536 rows by
        # construction — always the broadcast side; without the hint
        # AQE broadcast the (docs x 4)-row band frame at test scale,
        # the side that grows with the corpus.
        bk.join(F.broadcast(owners), "bucket")
        .groupBy("doc_id")
        .agg(
            F.max(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("is_dup")
        )
    )
    return (
        docs.select("doc_id", "source")
        .join(flags, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("long")
            .alias("n_dup_flagged"),
            F.round(
                F.avg(
                    F.coalesce(F.col("is_dup"), F.lit(0)).cast("double")
                ),
                6,
            ).alias("dup_rate"),
        )
    )


@register(
    "s_minhash_dup_rate",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '),
                           x -> x <> '') AS ws
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
        FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 3
    ),
    mh AS (
        SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || ':' || s)) AS h
        FROM sh, unnest(range(0, {MDR_HASHES})) AS t(i)
        GROUP BY doc_id, i
    ),
    sig AS (
        SELECT doc_id, i // {MDR_HASHES // MDR_BANDS} AS band,
               string_agg(h, '' ORDER BY i) AS sg
        FROM mh GROUP BY 1, 2
    ),
    bk AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(
                   CAST(band AS VARCHAR) || ':' || sg), 1, 4))
                   AS INTEGER) % {MDR_BUCKETS} AS bucket
        FROM sig
    ),
    own AS (SELECT bucket, min(doc_id) AS first_doc
            FROM bk GROUP BY 1),
    flag AS (
        SELECT b.doc_id,
               max(CASE WHEN o.first_doc < b.doc_id
                        THEN 1 ELSE 0 END) AS is_dup
        FROM bk b JOIN own o ON o.bucket = b.bucket
        GROUP BY 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(COALESCE(f.is_dup, 0)) AS BIGINT) AS n_dup_flagged,
           round(avg(CAST(COALESCE(f.is_dup, 0) AS DOUBLE)), 6)
               AS dup_rate
    FROM documents d LEFT JOIN flag f ON f.doc_id = d.doc_id
    GROUP BY 1
    """,
)
def s_minhash_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-duplicate-rate monitor — the ingest-side
    instrument of the dedup family: as document shards arrive, track
    the first owner (min doc_id) of every minhash band bucket and
    report, per source, what fraction of documents collide with an
    EARLIER document's bucket. Rising dup_rate on a source is the
    signal to stop acquiring from it (the same acquisition-vs-dedup
    trade s_novelty_decay instruments from the key side, here from
    the CONTENT side). The banded-minhash math is
    q_dedup_minhash_md5's engine-portable family verbatim, but
    computed entirely per-row (array_min over transformed shingles)
    so it runs on a stream with no shuffle before the state store.
    The md5-per-(i, shingle) family is the cross-engine
    certification price (measured: it dominates the runtime at a
    linear alpha~0.9); a production deployment swaps in Spark's
    builtin xxhash64(shingle, i) — same plan, ~10x cheaper hash,
    no longer oracle-reproducible (the q_dedup_minhash_lsh /
    q_dedup_minhash_md5 dichotomy, applied to streaming).

    State: min(doc_id) per band bucket, update-mode — min is
    MONOTONE, so the replay is exact under any micro-batch split and
    equals the batch min the oracle computes. The bucket space is
    hard-capped at 2^16, so state is bounded regardless of corpus
    size; collisions only ever OVER-flag (first_doc < doc_id via a
    colliding bucket), the cautious direction for an acquisition
    gate. Docs with <3 words carry no shingles and count as
    non-dup in the denominator (LEFT JOIN semantics, both engines).

    Scale: the per-row signature is 4 band keys (32 B each) — the
    corpus text never reaches the shuffle; the state store holds
    ≤65536 (bucket, doc_id) pairs per partition-set; the post-replay
    flag join moves O(docs x 4) integer rows. At 100 TB the monitor
    costs one pass over arriving text plus a constant-size state.
    """
    return _mdr_monitor(spark, sf_dir, _mdr_band_buckets)


@register("s_minhash_dup_rate_fast")  # rows-only: xxhash64 has no DuckDB twin
def s_minhash_dup_rate_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION tier of the streaming dup-rate monitor (VERDICT r10
    item 4): the exact plan of s_minhash_dup_rate — per-row banded
    minhash signatures, 2^16-bucket monotone min(doc_id) state,
    broadcast owner join — with Spark's builtin xxhash64 in place of
    the md5 certification family, cutting the hash cost ~10x while
    leaving the plan unchanged. This is the tier a deployment runs
    (and the tier the headline bench measures); the md5 twin exists
    so DuckDB can reproduce the arithmetic end-to-end. Correctness is
    parity-pinned: exact duplicates carry identical shingle sets,
    hence identical band signatures under any hash family, so the
    two tiers must flag the same planted duplicates
    (tests/test_round10_ops.py::test_minhash_dup_rate_fast_parity).
    """
    return _mdr_monitor(spark, sf_dir, _mdr_band_buckets_fast)


def _qg_counters(docs: DataFrame) -> DataFrame:
    """The streaming state kernel of s_quality_gate: per-row Gopher
    rule flags (codegen array algebra, no shuffle), then per-source
    additive counters — O(sources) update-mode state. Factored out so
    the checkpoint-restart pytest drives the exact shipped expression
    across a kill-and-resume."""
    from ..operators.quality import _gopher_flags
    from ..operators.textops import STOPWORDS

    ws = F.filter(F.split("text", " "), lambda x: x != "")
    max_cnt = F.expr(
        "aggregate(array_sort(filter(split(text, ' '), x -> x != '')),"
        " struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run,"
        "        CAST(0 AS BIGINT) AS best),"
        " (acc, x) -> struct("
        "   x AS prev,"
        "   IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)) AS run,"
        "   GREATEST(acc.best,"
        "     IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT))) AS best),"
        " acc -> acc.best)"
    )
    per = docs.select(
        "source",
        F.size(ws).cast("long").alias("n_tokens"),
        F.length(F.translate("text", " ", "")).cast("long").alias(
            "sum_len"
        ),
        F.size(
            F.filter(ws, lambda x: x.isin(*STOPWORDS))
        ).cast("long").alias("n_stop"),
        max_cnt.alias("max_cnt"),
    ).filter(F.col("n_tokens") > 0)
    f_len, f_wordlen, f_stop, f_rep = _gopher_flags()
    all_pass = (f_len + f_wordlen + f_stop + f_rep) == 0
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(all_pass, 1).otherwise(0)).alias("n_pass"),
        F.sum(f_rep).cast("long").alias("n_fail_repetition"),
    )


@register(
    "s_quality_gate",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, source, term, count(*) AS cnt
        FROM (SELECT doc_id, source,
                     unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> ''
        GROUP BY 1, 2, 3
    ),
    per AS (
        SELECT doc_id, source,
               sum(cnt) AS n_tokens,
               sum(cnt * length(term)) AS sum_len,
               sum(CASE WHEN term IN ({_STOP_SQL})
                        THEN cnt ELSE 0 END) AS n_stop,
               max(cnt) AS max_cnt
        FROM tf GROUP BY 1, 2
    ),
    flags AS (
        SELECT source,
               CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END AS f_len,
               CASE WHEN 10 * sum_len < 42 * n_tokens
                    THEN 1 ELSE 0 END AS f_wordlen,
               CASE WHEN 50 * n_stop < n_tokens
                    THEN 1 ELSE 0 END AS f_stop,
               CASE WHEN 5 * max_cnt > n_tokens
                    THEN 1 ELSE 0 END AS f_rep
        FROM per
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN f_len + f_wordlen + f_stop + f_rep = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(f_rep) AS BIGINT) AS n_fail_repetition,
           round(CAST(sum(CASE WHEN f_len + f_wordlen + f_stop + f_rep
                              = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS retention_rate
    FROM flags GROUP BY source
    """,
)
def s_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest quality gate — q_dq_gopher_rules' verdicts
    evaluated AT ARRIVAL: per incoming document, the four Gopher
    rules (too short / degenerate word length / no function words /
    single-term repetition) computed entirely PER ROW, then a
    per-source update-mode counter aggregation. Completes the
    streaming ingest-health triad: s_novelty_* (key novelty),
    s_minhash_dup_rate (content duplication), s_quality_gate
    (content quality) — the three dials an acquisition pipeline
    watches live, sharing one plan idiom: shuffle-free per-row
    signal extraction, then a bounded-state monotone aggregation.

    The batch version's (doc, term) hash-aggregate is replaced by
    per-row array algebra so no shuffle precedes the state store:
    n_tokens = size of the non-empty token array; sum_len =
    length(translate(text, ' ', '')) (every non-space char belongs
    to exactly one token — codegen, no fold); n_stop a filtered
    size; max_cnt a sort-then-run-length fold over the row's own
    tokens (per-element LOGIC, the legitimate HOF use). The rules
    stay integer cross-multiplications, so per-document verdicts
    are exactly equal to the batch twin's — same thresholds, same
    grid-point safety.

    State: counters per source (~20 keys) — sums and counts are
    additive, so the availableNow replay's final state equals the
    batch totals (counters are monotone; the post-replay max
    per source collapses update-mode's intermediate emissions).

    Scale: per-row extraction is one codegen'd map pass (the fold
    costs O(tokens log tokens) per row for its sort, on the row's
    own data); the only shuffle is the O(sources)-row counter
    aggregate. The 100 TB cost is reading the text once — the
    theoretical floor for a content gate.
    """
    from ..sources import load_documents_stream

    counters = _qg_counters(load_documents_stream(spark, sf_dir))
    out = _run_to_memory(spark, counters, "update")
    final = out.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("n_pass").alias("n_pass"),
        F.max("n_fail_repetition").alias("n_fail_repetition"),
    )
    return final.select(
        "source",
        "n_docs",
        F.col("n_pass").cast("long").alias("n_pass"),
        "n_fail_repetition",
        F.round(
            F.col("n_pass").cast("double") / F.col("n_docs"), 4
        ).alias("retention_rate"),
    )


# --- round-11 streaming ingest ops -----------------------------------------
# Three more dials on the acquisition front-end, all in the triad's
# plan idiom (per-row signal extraction with no pre-state shuffle,
# bounded-state monotone aggregation, post-replay rollup):
# s_dedup_url = KEY dedup at the crawl front door (canonical-URL
# owner state), s_tokenizer_fertility = token budget (additive
# census counters).

SDU_BUCKETS = 65536


def _sdu_buckets(docs: DataFrame) -> DataFrame:
    """(bucket, doc_id, source): canonical-URL md5 hex-prefix folded
    into the 2^16 owner-state space — the repo's cross-engine
    bucketing convention, identical arithmetic in the DuckDB oracle.
    Canonicalization is q_dedup_url's shared expression
    (operators/lifecycle.py), row-local and streaming-legal."""
    from ..operators.lifecycle import _synth_canonical_url

    return docs.select(
        "doc_id",
        "source",
        (
            md5_int(_synth_canonical_url(), 1, 4).cast("int") % SDU_BUCKETS
        ).alias("bucket"),
    )


@register(
    "s_dedup_url",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, source,
               CASE CAST(doc_id % 4 AS INTEGER)
                 WHEN 0 THEN 'https://docs.Example.COM/corpus/'
                             || CAST(doc_id // 4 AS VARCHAR)
                 WHEN 1 THEN 'https://docs.example.com:443/corpus/'
                             || CAST(doc_id // 4 AS VARCHAR)
                 WHEN 2 THEN 'https://docs.example.com/corpus/'
                             || CAST(doc_id // 4 AS VARCHAR)
                             || '?utm_source=feed&utm_medium=rss'
                 ELSE 'https://docs.example.com/corpus/'
                             || CAST(doc_id // 4 AS VARCHAR) || '/'
               END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, source,
               'https://'
               || lower(regexp_extract(
                      regexp_replace(url, ':443', ''),
                      'https://([^/]+)', 1))
               || regexp_replace(regexp_extract(
                      regexp_replace(
                          regexp_replace(url, ':443', ''),
                          '[?&]utm_[a-z]+=[^&#]*', '', 'g'),
                      'https://[^/]+([^?#]*)', 1), '/+$', '')
                   AS canonical_url
        FROM raw
    ),
    bk AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(canonical_url), 1, 4))
                   AS INTEGER) % {SDU_BUCKETS} AS bucket
        FROM canon
    ),
    own AS (SELECT bucket, min(doc_id) AS first_doc
            FROM bk GROUP BY 1)
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN o.first_doc < b.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_flagged,
           round(avg(CASE WHEN o.first_doc < b.doc_id
                          THEN CAST(1 AS DOUBLE)
                          ELSE CAST(0 AS DOUBLE) END), 6) AS dup_rate
    FROM bk b JOIN own o ON o.bucket = b.bucket
    GROUP BY 1
    """,
)
def s_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING crawl-front-door URL dedup — the KEY-side member of
    the ingest-health family (s_minhash_dup_rate watches content;
    this watches the canonical fetch key): as documents arrive, track
    the first owner (min doc_id) of every canonical-URL bucket and
    report, per source, the fraction of fetches that re-crawled an
    already-owned URL. Crawl-frontier dedup is an inherently
    streaming job (the frontier exists only at ingest time — VERDICT
    r10 item 8); the batch twin q_dedup_url keeps one row per URL
    after the fact, this monitor prices the wasted fetches live.

    Canonicalization (shared expression with q_dedup_url, certified
    there against DuckDB's regex dialect) is row-local; the canonical
    key is md5-folded into 2^16 buckets BEFORE the state store, so
    state is hard-capped at 65536 (bucket, doc_id) pairs no matter
    how many URLs the crawl sees. min(doc_id) is monotone ->
    update-mode replay is exact under any micro-batch split.
    Collisions only OVER-flag (the cautious direction for a frontier
    gate), and the oracle reproduces the identical bucket fold, so
    the gate certifies the whole pipeline including the collision
    arithmetic.

    Scale: per-row string work + a <=65536-row state store + one
    broadcast owner join; raw page payloads never move. At 100 TB the
    production swap is xxhash64 over the full canonical string (no
    fold) with state in RocksDB — same plan, exact ownership.
    """
    from ..sources import load_documents_stream, load_table

    stream_bk = _sdu_buckets(
        load_documents_stream(spark, sf_dir)
    ).select("bucket", "doc_id")
    owners_stream = stream_bk.groupBy("bucket").agg(
        F.min("doc_id").alias("first_doc")
    )
    # key_cols: same 2^16-bucket state claim as the minhash monitor —
    # budget distinct buckets, not per-micro-batch re-emissions.
    out = _run_to_memory(
        spark, owners_stream, "update",
        op="s_dedup_url", key_cols=["bucket"],
    )
    owners = out.groupBy("bucket").agg(
        F.min("first_doc").alias("first_doc")
    )
    bk = _sdu_buckets(load_table(spark, sf_dir, "documents"))
    is_dup = F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    return (
        # owners is hard-capped at SDU_BUCKETS rows — always the
        # broadcast side (same AQE-wrong-side hazard as the minhash
        # monitor: the doc frame is the side that grows).
        bk.join(F.broadcast(owners), "bucket")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_dup).cast("long").alias("n_dup_flagged"),
            F.round(F.avg(is_dup.cast("double")), 6).alias("dup_rate"),
        )
    )


@register("s_tokenizer_fertility", oracle=_fertility_oracle())
def s_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING token-budget census — q_tokenizer_fertility's
    per-(source, lang) chars/words/pretokens counters maintained AT
    ARRIVAL, so the budget owner watches fertility drift live instead
    of re-scanning the corpus (a source whose fertility climbs is
    shipping ever more punctuation/digit soup into the BPE budget).
    Per-row counts are the shared _fertility_per_doc kernel (no
    explode, no pre-state shuffle); state is additive counters per
    (source, lang) — O(sources x langs); ratios divide the final
    integer sums once, behind round-6, through the shared
    _fertility_finalize, so the replay result equals the batch census
    row-for-row and the batch oracle certifies it.
    """
    from ..operators.textops import (
        _fertility_finalize,
        _fertility_per_doc,
    )
    from ..sources import load_documents_stream

    counters = (
        _fertility_per_doc(load_documents_stream(spark, sf_dir))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_doc").alias("n_chars"),
            F.sum("n_words_doc").alias("n_words"),
            F.sum("n_runs_doc").alias("n_pretokens"),
        )
    )
    out = _run_to_memory(spark, counters, "update")
    final = out.groupBy("source", "lang").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("n_chars").alias("n_chars"),
        F.max("n_words").alias("n_words"),
        F.max("n_pretokens").alias("n_pretokens"),
    )
    return _fertility_finalize(final)


def _mix_rebalance_oracle() -> str:
    from ..operators.lifecycle import _MIX_REBALANCE_ORACLE

    return _MIX_REBALANCE_ORACLE


@register("s_mix_rebalance", oracle=_mix_rebalance_oracle())
def s_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING mix-rebalance monitor — the MIX dial of the ingest
    family (novelty / duplication / quality / token budget / mix):
    per-language availability counters maintained AT ARRIVAL, with
    q_mix_rebalance's binding-constraint arithmetic (k =
    min(avail/target), per-lang keep rate, md5-gate kept census) run
    on the replayed counts. An acquisition front-end throttles each
    source at `rate` live instead of discovering after the crawl that
    one language swamped the target mix.

    State: one additive counter per language — O(langs), the smallest
    state in the family; counters are monotone, so max over
    update-mode emissions is the exact final count and the replay
    equals the batch census. All downstream arithmetic is the shared
    _mix_report (operators/lifecycle.py), so the monitor's rates
    equal the batch plan's by construction and the batch oracle
    certifies the whole pipeline, keep-census included.

    Scale: the stream reduces map-side to O(langs) partial counters;
    the post-replay report is language-sized arithmetic plus the
    one-pass broadcast-rate kept census — no document row ever
    shuffles.
    """
    from ..operators.lifecycle import _mix_report
    from ..sources import load_documents_stream, load_table

    counters = (
        load_documents_stream(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_avail_part"))
    )
    out = _run_to_memory(spark, counters, "update")
    avail = out.groupBy("lang").agg(
        F.max("n_avail_part").cast("double").alias("n_avail")
    )
    docs = load_table(spark, sf_dir, "documents")
    return _mix_report(spark, docs, avail)


@register(
    "s_dq_freshness",
    oracle="""
    WITH per_type AS (
        SELECT event_type, max(epoch_us(ts)) AS last_us,
               count(*) AS n_events
        FROM events GROUP BY event_type
    ),
    global_max AS (SELECT max(last_us) AS g FROM per_type)
    SELECT event_type, n_events,
           CAST(floor((g - last_us) / 3600000000) AS BIGINT)
               AS staleness_hours
    FROM per_type CROSS JOIN global_max
    """,
)
def s_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING freshness monitor — q_dq_freshness' stalled-producer
    detector maintained AT ARRIVAL: per event type, the latest event
    time and arrival count, with staleness measured against the
    corpus max (deterministic and replayable; never wall-clock).
    The state dual of s_novelty_decay: max(ts) is MONOTONE exactly
    like min(ts), so update-mode + max-finalize is exact under any
    micro-batch split, and counts are additive — the two cheapest
    state shapes in the family, O(event types) entries total. A type
    whose staleness_hours grows replay over replay has a dead
    upstream; this is the dial s_threshold_alert fires on, here as a
    full per-type census with the batch SQL oracle.

    The streaming side keeps raw timestamp max in the state and
    converts to integer microseconds AFTER the replay (batch
    context), so the cross-engine unix_micros/epoch_us pairing runs
    on exactly the same engine path as the certified batch twin —
    one integer division to whole hours, division-last.

    Scale: the stream reduces map-side to O(types) (max, count)
    partials; the post-replay report is a types-sized cross join
    with a 1-row broadcast global max. Nothing scales with corpus.
    """
    ev = load_events_stream(spark, sf_dir)
    counters = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events_part"),
    )
    out = _run_to_memory(spark, counters, "update")
    final = out.groupBy("event_type").agg(
        F.max("last_ts").alias("last_ts"),
        F.max("n_events_part").alias("n_events"),
    )
    per_type = final.select(
        "event_type",
        "n_events",
        F.unix_micros("last_ts").alias("last_us"),
    )
    g = per_type.agg(F.max("last_us").alias("g"))
    return per_type.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        F.floor(
            (F.col("g") - F.col("last_us")) / F.lit(3600000000)
        ).cast("bigint").alias("staleness_hours"),
    )


def _variant_schema_oracle() -> str:
    from ..operators.modern import _VARIANT_SCHEMA_ORACLE

    return _VARIANT_SCHEMA_ORACLE


def _drift_shape_counts(ev: DataFrame) -> DataFrame:
    """Per-row normalized variant shape -> per-shape additive counter
    — the stateful core of s_schema_drift, shared with its
    checkpoint-recovery test."""
    from ..operators.modern import _SPARK_NUM_TYPES

    shapes = ev.select(
        F.regexp_replace(
            F.schema_of_variant(F.parse_json("props")),
            _SPARK_NUM_TYPES,
            "NUM",
        ).alias("shape")
    )
    return shapes.groupBy("shape").agg(
        F.count(F.lit(1)).alias("n_part")
    )


@register("s_schema_drift", oracle=_variant_schema_oracle())
def s_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING schema-drift monitor — the seventh dial of the
    ingest-health family (novelty / content-dup / quality /
    token-budget / mix / freshness / SHAPE): q_fn_variant_schema's
    normalized variant-shape census maintained AT ARRIVAL, so a
    producer shipping a new payload field (or silently retyping one)
    is visible live instead of at the next batch audit. Reference
    motivation: the reference's schema-on-read JSON parse
    (SparkApplication.scala:66-85) null-tolerates shape drift and
    thereby HIDES it; this makes drift a first-class observable.

    Per row: parse_json -> schema_of_variant -> numeric-leaf
    normalization (the shared _SPARK_NUM_TYPES regex, so the
    streaming shape key partitions payloads exactly as the certified
    batch twin does) — all row-local codegen, no shuffle before the
    state store. State: one additive counter per DISTINCT SHAPE —
    O(shapes) entries, the same additive class as the mix monitor's
    per-language counters; counts are monotone across update-mode
    emissions, so max-per-shape after the replay is the exact final
    census and the batch oracle certifies the summary row-for-row.

    Scale: shapes are a governance-bounded space in a healthy lake
    (tens, not millions) — but a malformed producer could explode
    the key space, so the pin goes through the distinct-key budget
    (key_cols) and fails loudly rather than collecting a runaway
    census; the post-replay report is one O(shapes) aggregate.
    The 100 TB cost is parsing each payload once — the floor for
    any shape gate, and the parse stays JVM-side (no UDF crossing).
    """
    ev = load_events_stream(spark, sf_dir)
    out = _run_to_memory(
        spark, _drift_shape_counts(ev), "update",
        op="s_schema_drift", key_cols=["shape"],
    )
    final = out.groupBy("shape").agg(F.max("n_part").alias("n"))
    # count("shape") is NULL-excluding, matching the batch twin's
    # countDistinct and the oracle's count(DISTINCT ...) if a props
    # row ever normalizes to a NULL shape (ADVICE r12); n_rows still
    # counts every row, NULL-shaped included, exactly as the twin's
    # count(*) does.
    return final.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count("shape").cast("long").alias("n_shapes"),
    )


def _decon_oracle() -> str:
    from ..operators.textops import DECON_BENCH_MOD

    return f"""
    WITH g AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
            SELECT doc_id,
                   t.term || ' ' || lead(t.term, 1) OVER w || ' '
                          || lead(t.term, 2) OVER w || ' '
                          || lead(t.term, 3) OVER w AS shingle
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS term,
                       generate_subscripts(string_split(text, ' '), 1)
                           AS pos
                FROM documents
            ) t
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        )
        WHERE shingle IS NOT NULL
    ),
    b AS (SELECT DISTINCT shingle FROM g
          WHERE doc_id % {DECON_BENCH_MOD} = 0),
    c AS (
        SELECT DISTINCT g.doc_id FROM g JOIN b USING (shingle)
        WHERE g.doc_id % {DECON_BENCH_MOD} <> 0
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           round(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS contamination_rate
    FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id
    WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
    GROUP BY d.source
    """


def _decon_flagged(docs: DataFrame, bench_row: DataFrame) -> DataFrame:
    """Per-row benchmark-contamination flag: the doc's word-4-gram
    array overlapped against the broadcast one-row benchmark shingle
    set — the stateless core of s_decontaminate, shared with its
    checkpoint-recovery test. bench_row is one row with a `bench`
    array column (stream-static cross join is stateless)."""
    from ..operators.textops import DECON_BENCH_MOD, _decon_grams

    return (
        docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .crossJoin(F.broadcast(bench_row))
        .select(
            "source",
            F.when(
                F.arrays_overlap(_decon_grams(), F.col("bench")), 1
            ).otherwise(0).alias("hit"),
        )
    )


@register("s_decontaminate", oracle=_decon_oracle())
def s_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING benchmark-decontamination monitor — the EIGHTH dial
    of the ingest family (novelty / content-dup / quality /
    token-budget / mix / freshness / shape / CONTAMINATION):
    q_text_decontaminate's word-4-gram overlap evaluated AT ARRIVAL,
    so a crawl that starts ingesting eval-suite text (a leaderboard
    dump, a benchmark mirror) is visible live — before
    q_training_export_full's batch gate has to drop the documents it
    let in. Completes the round-12 decontamination story: the batch
    gate removes and accounts; this dial watches the inflow rate.

    Plan: the benchmark shingle set (held-out docs over the STATIC
    corpus — the eval suite is external and fixed, never part of the
    stream) collapses to ONE row holding a distinct-shingle array;
    the stream cross-joins that broadcast row (stream-static joins
    are STATELESS — nothing enters the state store) and each arriving
    doc computes its own 4-gram array (the shared textops._decon_grams
    kernel, zero explode) and one arrays_overlap membership
    test, entirely row-local. State: additive (n_docs, n_hit)
    counters per source — O(sources), the s_quality_gate state class;
    monotone under update mode, so max-finalize is replay-exact and
    the batch SQL oracle certifies the census row-for-row.

    Scale: per-row cost is one arrays_overlap scan bounded by the
    benchmark array's size (early exit on first hit) — CONSTANT for
    a fixed eval suite, so the monitor is linear in corpus rows
    (measured: x1/x8/x27 corpus at fixed x1 bench = 1.7/8.4/27.5 s,
    alpha ~0.85; the rehearsal table's 1.18 couples bench growth to
    corpus growth, a harness artifact — eval suites don't grow with
    the corpus). The production swap for a very LARGE suite is a
    bloom bitmap over the bench shingles (the q_scan_bloom_skip md5
    construction — O(|grams|) per row, false positives over-flag,
    never under-flag, the safe direction for a contamination alarm).
    No shuffle precedes the state store; the benchmark side ships to
    executors ONCE per replay, not per row.
    Docs shorter than 4 words have an empty gram array and can never
    flag (arrays_overlap with an empty side is false) — same
    semantics as the batch twin, whose shingle census has no row for
    them.
    """
    from ..operators.textops import DECON_BENCH_MOD, _decon_grams
    from ..sources import load_documents_stream, load_table

    bench_row = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(F.explode(_decon_grams()).alias("shingle"))
        .agg(F.collect_set("shingle").alias("bench"))
    )
    flagged = _decon_flagged(
        load_documents_stream(spark, sf_dir), bench_row
    )
    counters = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_part"),
        F.sum("hit").alias("n_hit_part"),
    )
    out = _run_to_memory(
        spark, counters, "update",
        op="s_decontaminate", key_cols=["source"],
    )
    final = out.groupBy("source").agg(
        F.max("n_docs_part").alias("n_docs"),
        F.max("n_hit_part").alias("n_hit"),
    )
    return final.select(
        "source",
        "n_docs",
        F.col("n_hit").cast("long").alias("n_contaminated"),
        F.round(
            F.col("n_hit").cast("double") / F.col("n_docs"), 4
        ).alias("contamination_rate"),
    )
