"""Watermark late-data semantics (s_watermark_late of SURVEY.md §2B)
and stream-dedup state behaviour — runtime checks that need a
multi-batch replay, so they live in pytest rather than the
single-replay driver contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "key string, ts_s string").select(
        "key", F.col("ts_s").cast("timestamp").alias("ts")
    ).write.mode("append").parquet(path)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows older than (max event time - watermark delay) arriving in
    a later batch are dropped from the aggregation — the late-data
    policy the reference's DStream windows never had (SURVEY.md §2A
    negative space).
    """
    src = str(tmp_path / "late_src")
    # Batch 1: events at 10:00 and 10:20 -> watermark advances to 10:10
    _write_batch(
        spark,
        src,
        [("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 10:20:00")],
    )

    stream = (
        spark.readStream.schema("key string, ts timestamp").parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # Batch 2: one on-time row (10:21) and one LATE row (9:00,
        # far behind the 10:10 watermark -> must be dropped).
        _write_batch(
            spark,
            src,
            [("a", "2024-01-01 10:21:00"), ("late", "2024-01-01 09:00:00")],
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    rows = spark.table("late_test").collect()
    keys = {r["key"] for r in rows}
    assert "late" not in keys          # late row dropped by watermark
    total = sum(r["n"] for r in
                {(r["w"], r["key"]): r for r in rows}.values())
    assert total == 3                  # the three on-time rows
    spark.catalog.dropTempView("late_test")


def test_stream_dedup_across_batches(spark, tmp_path):
    """dropDuplicates state persists across micro-batches: a key seen
    in batch 1 is suppressed when it reappears in batch 2."""
    src = str(tmp_path / "dedup_src")
    _write_batch(spark, src, [("x", "2024-01-01 00:00:00")])

    stream = (
        spark.readStream.schema("key string, ts timestamp").parquet(src)
        .select("key")
        .dropDuplicates(["key"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_state_test")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(
            spark, src,
            [("x", "2024-01-01 00:01:00"), ("y", "2024-01-01 00:02:00")],
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    rows = [r["key"] for r in spark.table("dedup_state_test").collect()]
    assert sorted(rows) == ["x", "y"]  # x emitted once, not twice
    spark.catalog.dropTempView("dedup_state_test")


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The RocksDB state store (the 100 TB state path: state spills
    to local disk instead of living on the executor heap) must
    produce results identical to the default HDFS-backed provider."""
    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.sources import load_events_stream
    from mrtweety_analytic_spark.streaming.queries import _run_to_memory

    def counts():
        events = load_events_stream(spark, sf_dir)
        agg = events.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
        out = _run_to_memory(spark, agg, "complete")
        return sorted(
            (r["w"]["start"], r["event_type"], r["n"])
            for r in out.collect()
        )

    key = "spark.sql.streaming.stateStore.providerClass"
    default = counts()
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks = counts()
    finally:
        if prev:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    assert rocks == default
    assert len(default) > 0


def test_stateful_count_multi_batch_replay(spark, tmp_path):
    """ADVICE r1: update-mode applyInPandasWithState emits one row per
    (key, micro-batch); a replay split across several micro-batches
    must still return ONE final count per key (s_stateful_count
    collapses intermediates with max)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "events_multi")
    # Three separate files -> maxFilesPerTrigger=1 forces 3 batches.
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, 1 + (j % 2)) for j in range(6)],
            "event_id long, user_id long",
        ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def update_count(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counted = stream.groupBy("user_id").applyInPandasWithState(
        update_count,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        counted.writeStream.outputMode("update")
        .format("memory")
        .queryName("multi_batch_counts")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(timeout=300)
    finally:
        q.stop()
    raw = spark.table("multi_batch_counts")
    # Sink holds per-batch intermediates: >2 rows proves multi-batch.
    assert raw.count() > 2
    final = {
        r["user_id"]: r["n_events"]
        for r in raw.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    assert final == {1: 9, 2: 9}  # 3 files x 6 rows, split 3/3 per file
    spark.catalog.dropTempView("multi_batch_counts")


def test_dedup_within_watermark_state_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark with a 10-minute horizon: a
    duplicate inside the horizon is suppressed, but once the
    watermark passes key-time + delay the state evicts and a later
    re-occurrence is EMITTED AGAIN — the bounded-state contract
    (suppress within horizon / O(horizon) state) that plain
    dropDuplicates (test above) does not have."""
    src = str(tmp_path / "wmdedup_src")
    _write_batch(spark, src, [("x", "2024-01-01 10:00:00")])

    stream = (
        spark.readStream.schema("key string, ts timestamp").parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["key"])
        .select("key", "ts")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wmdedup_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # In-horizon duplicate (10:05) suppressed; the 10:40 row (a
        # different key) pushes the watermark to 10:30 > 10:00+10min,
        # evicting x's state at the end of the batch.
        _write_batch(
            spark,
            src,
            [("x", "2024-01-01 10:05:00"), ("y", "2024-01-01 10:40:00")],
        )
        q.processAllAvailable()
        # Past-horizon re-occurrence of x must be re-emitted.
        _write_batch(spark, src, [("x", "2024-01-01 10:41:00")])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    xs = [r for r in spark.table("wmdedup_test").collect() if r.key == "x"]
    assert len(xs) == 2  # first occurrence + past-horizon re-emit
    spark.catalog.dropTempView("wmdedup_test")


def test_transform_with_state_gated(spark, sf_dir):
    """s_transform_with_state (transformWithStateInPandas) must match
    the batch aggregate when the runtime dependency (protobuf — the
    state-server protocol) is present; where it isn't, registration
    is suppressed and this test documents the boundary by skipping."""
    import pytest

    from mrtweety_analytic_spark.queries import QUERIES

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        assert "s_transform_with_state" not in QUERIES
        pytest.skip("protobuf not installed: transformWithState gated off")

    from mrtweety_analytic_spark.sources import load_table

    out = QUERIES["s_transform_with_state"](spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )
    got = {r["user_id"]: (r["n_events"], r["n_types"], r["max_value"])
           for r in out.collect()}
    want = {r["user_id"]: (r["n_events"], r["n_types"], r["max_value"])
            for r in batch.collect()}
    assert got == want


def test_idempotent_sink_exactly_once(spark, tmp_path):
    """Redelivering a batch to IdempotentParquetSink (the at-least-
    once crash-replay case foreachBatch exposes) must not duplicate
    rows: the batch-id transaction log makes the second delivery a
    no-op, and distinct batch ids append normally."""
    import os

    from mrtweety_analytic_spark.streaming.sink import IdempotentParquetSink

    out = str(tmp_path / "sink")
    os.makedirs(out)
    sink = IdempotentParquetSink(out)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    sink(b0, 0)
    sink(b0, 0)              # crash-replay redelivery of epoch 0
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    sink(b1, 1)
    back = spark.read.parquet(out)
    assert sorted((r.id, r.v) for r in back.collect()) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    # No temp litter from the committed path.
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]


def test_chained_window_emits_at_exact_watermark_boundary(spark, tmp_path):
    """s_chained_windows boundary rule: a day window whose END equals
    the final watermark (max event time) IS emitted — Spark finalizes
    append-mode windows when watermark >= end, and the oracle's
    `day + 1 DAY <= max(ts)` cutoff must stay inclusive to match.
    Random corpus timestamps never land on an exact boundary, so this
    agreement is pinned here with constructed data."""
    import datetime as dt
    import uuid

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(hours=h), "a") for h in (1, 5, 9)
    ] + [(dt.datetime(2024, 1, 2), "a")]  # exactly at day-1 end
    p = str(tmp_path / "events")
    spark.createDataFrame(rows, "ts timestamp, event_type string").write.parquet(p)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .parquet(p)
        .withWatermark("ts", "0 seconds")
    )
    lvl1 = stream.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    lvl2 = lvl1.groupBy(
        F.window(F.window_time("w"), "1 day").alias("d")
    ).agg(F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_cells"))
    name = f"wmb_{uuid.uuid4().hex[:8]}"
    q = (
        lvl2.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=300)
    out = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    assert len(out) == 1
    assert out[0]["d"]["start"] == base
    assert out[0]["n_events"] == 3  # the boundary event belongs to day 2
    assert out[0]["n_cells"] == 2


def test_decayed_score_multi_batch_order_insensitive(spark, tmp_path):
    """s_decayed_score's design claim: contributions anchored to a
    fixed reference day form a commutative monoid, so ANY batch split
    — including one that delivers newest events first — yields the
    batch answer. Three files replayed one-per-trigger, with the
    latest-day events written to the file the source picks up first."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "events_decay")
    days = [29, 3, 11]  # first-delivered file holds the NEWEST events
    rows_by_file = [
        [(f * 10 + j, "a" if j % 2 == 0 else "b",
          float(j + 1), f"2024-01-{d+1:02d} 12:00:00")
         for j in range(4)]
        for f, d in enumerate(days)
    ]
    for rows in rows_by_file:
        spark.createDataFrame(
            rows, "event_id long, event_type string, value double, ts_s string"
        ).selectExpr(
            "event_id", "event_type", "value", "cast(ts_s as timestamp) as ts"
        ).write.mode("append").parquet(src)

    anchor = pd.Timestamp("2024-01-30")  # day 29, the corpus horizon

    def update_score(key, pdf_iter, state):
        s, n = state.get if state.exists else (0.0, 0)
        for pdf in pdf_iter:
            d = (anchor - pdf["ts"].dt.normalize()).dt.days
            s += float((pdf["value"] * np.exp(-d / 30.0)).sum())
            n += len(pdf)
        state.update((s, n))
        yield pd.DataFrame(
            {"event_type": [key[0]], "decayed_raw": [s], "n_events": [n]}
        )

    stream = (
        spark.readStream.schema(
            "event_id long, event_type string, value double, ts timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    scored = stream.groupBy("event_type").applyInPandasWithState(
        update_score,
        outputStructType="event_type string, decayed_raw double, n_events long",
        stateStructType="s double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        scored.writeStream.outputMode("update")
        .format("memory")
        .queryName("decay_multi_batch")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(timeout=300)
    finally:
        q.stop()
    raw = spark.table("decay_multi_batch")
    assert raw.count() > 2  # proves the replay really split into batches
    final = {
        r["event_type"]: r["b"]["decayed_raw"]
        for r in raw.groupBy("event_type")
        .agg(F.max_by(F.struct("decayed_raw", "n_events"), "n_events").alias("b"))
        .collect()
    }
    want = {"a": 0.0, "b": 0.0}
    for rows, d in zip(rows_by_file, days):
        for _, et, v, _ts in rows:
            want[et] += v * math.exp(-(29 - d) / 30.0)
    assert final.keys() == want.keys()
    for k in want:
        assert abs(final[k] - want[k]) < 1e-9, k
    spark.catalog.dropTempView("decay_multi_batch")


def test_upsert_sink_batch_split_invariance_and_idempotency(spark, tmp_path):
    """The UpsertKeyedSink merge law: last-write-wins over the
    (ts, event_id) version tuple must give the SAME final table for
    (a) one batch, (b) a 3-way split replay in file order, and
    (c) a replayed (duplicate) batch — the exactly-once-effect
    certificate for the streaming CDC upsert."""
    from datetime import datetime

    from mrtweety_analytic_spark.streaming.queries import UpsertKeyedSink

    rows = [
        # (user, ts-second, event_id, type, value) — user 1's newest
        # row arrives in the FIRST slice (out-of-order delivery), and
        # user 2 has two rows with the same ts (event_id tiebreak).
        (1, 50, 105, "click", 1.0),
        (2, 10, 101, "view", 2.0),
        (1, 10, 100, "signup", 3.0),
        (2, 10, 102, "purchase", 4.0),
        (3, 30, 103, "error", 5.0),
        (1, 40, 104, "view", 6.0),
    ]
    schema = "user_id long, ts timestamp, event_id long, event_type string, value double"

    def df_of(sl):
        return spark.createDataFrame(
            [(u, datetime(2024, 1, 1, 0, 0, s), e, t, v)
             for u, s, e, t, v in sl],
            schema,
        )

    single = UpsertKeyedSink()
    single(df_of(rows), 0)

    split = UpsertKeyedSink()
    for i, sl in enumerate((rows[:2], rows[2:4], rows[4:])):
        split(df_of(sl), i)

    replayed = UpsertKeyedSink()
    for i, sl in enumerate((rows[:2], rows[2:4], rows[2:4], rows[4:])):
        replayed(df_of(sl), i)

    assert single.rows == split.rows == replayed.rows
    # and the content is the actual per-key newest row
    assert single.rows[1][1:] == (105, "click", 1.0)
    assert single.rows[2][1:] == (102, "purchase", 4.0)
    assert single.rows[3][1:] == (103, "error", 5.0)


def test_telemetry_records_progress_and_state_size(spark, tmp_path):
    """The ProgressRecorder must see every micro-batch (3 files x
    maxFilesPerTrigger=1), conserve input-row totals, and report the
    stateful aggregation's state size."""
    from mrtweety_analytic_spark.streaming import telemetry

    src = str(tmp_path / "tel_events")
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, j % 4) for j in range(8)],
            "event_id long, key long",
        ).write.mode("append").parquet(src)

    rec = telemetry.attach(spark)
    try:
        stream = (
            spark.readStream.schema("event_id long, key long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = stream.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("tel_counts")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(timeout=300)
        # progress events land asynchronously after termination — poll
        # until the recorder has seen every input row
        import time as _time

        deadline = _time.time() + 30
        while (
            rec.summary()["total_input_rows"] < 24
            and _time.time() < deadline
        ):
            _time.sleep(0.2)
        s = rec.summary()
        assert s["n_batches"] >= 3
        assert s["total_input_rows"] == 24
        assert s["max_state_rows"] == 4  # four distinct keys held in state
        from mrtweety_analytic_spark.session import RUNTIME_CONF

        width = int(RUNTIME_CONF["spark.sql.shuffle.partitions"])
        for r in rec.records:
            assert {
                "batch_id", "input_rows", "rows_per_sec",
                "batch_duration_ms", "state_rows",
            } <= r.keys()
            assert r["state_partitions"] == width
            assert r["state_commit_ms"] >= 0
        assert sum(r["state_commit_ms"] for r in rec.records) > 0
    finally:
        telemetry.detach(spark, rec)
        spark.catalog.dropTempView("tel_counts")


def test_upsert_sink_multibatch_file_stream(spark, tmp_path):
    """End-to-end streaming CDC upsert over a REAL 3-batch file
    stream (maxFilesPerTrigger=1): the final keyed table must equal
    batch keep-latest, with the newest version arriving in the
    FIRST file (out-of-order across batches)."""
    from datetime import datetime

    from mrtweety_analytic_spark.streaming.queries import UpsertKeyedSink

    src = str(tmp_path / "upsert_events")
    schema = (
        "user_id long, ts timestamp, event_id long, "
        "event_type string, value double"
    )
    batches = [
        [(1, datetime(2024, 1, 1, 0, 0, 50), 105, "click", 1.0)],
        [(1, datetime(2024, 1, 1, 0, 0, 10), 100, "signup", 3.0),
         (2, datetime(2024, 1, 1, 0, 0, 10), 101, "view", 2.0)],
        [(2, datetime(2024, 1, 1, 0, 0, 10), 102, "purchase", 4.0),
         (3, datetime(2024, 1, 1, 0, 0, 30), 103, "error", 5.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = UpsertKeyedSink()
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=300)
    assert len(sink.rows) == 3
    assert sink.rows[1][1:] == (105, "click", 1.0)   # survived batch 2
    assert sink.rows[2][1:] == (102, "purchase", 4.0)  # event_id tiebreak
    assert sink.rows[3][1:] == (103, "error", 5.0)


def test_scd2_stream_multibatch_interval_stitching(spark, tmp_path):
    """SCD2 over a REAL 3-batch file stream (maxFilesPerTrigger=1):
    versions opened in one batch must close at the next batch's
    change ts (state carries the open version across batches), and
    the final table equals the batch lead() build."""
    from datetime import datetime

    from mrtweety_analytic_spark.streaming.queries import (
        _scd2_recover,
        _scd2_versions,
    )

    src = str(tmp_path / "scd2_changes")
    schema = (
        "user_id long, event_id long, ts timestamp, value double"
    )
    batches = [
        [(1, 100, datetime(2024, 1, 1, 0, 0, 10), 10.0)],
        [(1, 101, datetime(2024, 1, 1, 0, 0, 20), 20.0),
         (2, 102, datetime(2024, 1, 1, 0, 0, 20), 5.0)],
        [(1, 103, datetime(2024, 1, 1, 0, 0, 30), 30.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        _scd2_versions(stream)
        .writeStream.format("memory")
        .queryName("scd2_test_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=300)
    out = _scd2_recover(spark.table("scd2_test_sink"))
    got = {
        (r.user_id, r.valid_from.second): (
            r.value,
            r.valid_to.second if r.valid_to else None,
            r.is_current,
        )
        for r in out.collect()
    }
    assert got == {
        (1, 10): (10.0, 20, 0),   # closed across batch 1 -> 2
        (1, 20): (20.0, 30, 0),   # closed across batch 2 -> 3
        (1, 30): (30.0, None, 1),
        (2, 20): (5.0, None, 1),
    }


def test_memory_pin_budget_rejects_unbounded_aggregate(
    spark, tmp_path, monkeypatch
):
    """_run_to_memory pins the memory-sink table on the driver, which
    is only safe because every registered caller's group key is
    bounded (windows / sources / hard-capped bucket spaces). VERDICT
    r10 item 5: an op with an UNBOUNDED key must fail loudly, naming
    the caller, instead of silently collecting a corpus-scale
    aggregate. Budget monkeypatched low so the guard path runs in
    milliseconds."""
    import pytest

    from mrtweety_analytic_spark.streaming import queries as sq

    src = str(tmp_path / "pin_src")
    rows = [(f"k{i}", "2024-01-01 10:00:00") for i in range(50)]
    _write_batch(spark, src, rows)

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .parquet(src)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    monkeypatch.setattr(sq, "_MEMORY_PIN_ROW_BUDGET", 10)
    with pytest.raises(RuntimeError, match="budget 10"):
        sq._run_to_memory(spark, stream, "update")
    # And the caller name reaches the message (this test function).
    monkeypatch.setattr(sq, "_MEMORY_PIN_ROW_BUDGET", 5)
    with pytest.raises(
        RuntimeError,
        match="test_memory_pin_budget_rejects_unbounded_aggregate",
    ):
        sq._run_to_memory(spark, stream, "update")


def test_memory_pin_budget_counts_distinct_keys_not_emissions(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 item 1: in update mode each micro-batch re-emits
    every updated key, so a multi-batch replay of a correctly
    BOUNDED op produces sink rows ~ keys x batches. With key_cols
    the guard budgets distinct group keys (the true state size) and
    must NOT fire; without key_cols the same replay trips the
    raw-row fallback — exactly the spurious-failure mode the
    key-count fix closes."""
    import pytest

    from mrtweety_analytic_spark.streaming import queries as sq

    src = str(tmp_path / "pin_keys_src")
    # 3 files -> 3 micro-batches under maxFilesPerTrigger=1; every
    # batch touches all 8 keys, so update mode emits 24 rows for an
    # 8-key state.
    for b in range(3):
        _write_batch(
            spark,
            src,
            [(f"k{i}", f"2024-01-01 10:0{b}:00") for i in range(8)],
        )
    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    monkeypatch.setattr(sq, "_MEMORY_PIN_ROW_BUDGET", 10)
    out = sq._run_to_memory(spark, stream, "update", key_cols=["key"])
    assert out.select("key").distinct().count() == 8
    with pytest.raises(RuntimeError, match="sink rows"):
        sq._run_to_memory(spark, stream, "update")


def test_memory_pin_budget_names_operator_not_helper(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 item 2: when the pin is reached through a shared
    plan helper (_mdr_monitor), the budget error must name the
    registered operator, not the helper frame — and an explicit
    op= parameter always wins."""
    import pytest

    from mrtweety_analytic_spark.streaming import queries as sq

    src = str(tmp_path / "pin_name_src")
    _write_batch(
        spark, src, [(f"k{i}", "2024-01-01 10:00:00") for i in range(50)]
    )
    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .parquet(src)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    monkeypatch.setattr(sq, "_MEMORY_PIN_ROW_BUDGET", 10)

    def _mdr_monitor():  # same name as the shared helper -> skipped
        return sq._run_to_memory(spark, stream, "update")

    def s_fake_operator():
        return _mdr_monitor()

    with pytest.raises(RuntimeError, match="s_fake_operator"):
        s_fake_operator()
    with pytest.raises(RuntimeError, match="'s_explicit_name'"):
        sq._run_to_memory(spark, stream, "update", op="s_explicit_name")
