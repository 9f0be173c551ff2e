"""Golden test for the end-to-end reference pipeline (s_topk_sink):
tweet JSON → parse → explode → blacklist → sliding window count →
top-5 → {items, datetime} JSON file (FIXTURES.md §B), run BOTH as a
real Structured Streaming query and as the identical batch plan
(batch/stream equivalence, SURVEY.md §7.4).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mrtweety_analytic_spark.streaming.pipeline import (
    blacklist_filter,
    parse_hashtags,
    top_k_per_window,
    windowed_counts,
)
from mrtweety_analytic_spark.streaming.sink import (
    TopKFileSink,
    render_document,
    write_result_file,
)

# Fixture rows per FIXTURES.md §B1: multiple hashtags per record,
# absent entities, empty hashtags array, case variants, blacklisted
# terms in mixed case.
TWEETS = [
    '{"entities": {"hashtags": [{"text": "Spark"}, {"text": "flink"}]}}',
    '{"entities": {"hashtags": [{"text": "SPARK"}]}}',
    '{"entities": {"hashtags": [{"text": "spark"}]}}',
    '{"entities": {"hashtags": [{"text": "Europe"}, {"text": "EU"}]}}',  # blacklisted
    '{"entities": {"hashtags": []}}',                                    # empty array
    '{"no_entities_here": 1}',                                           # absent entities
    "not json at all",                                                   # malformed
    '{"entities": {"hashtags": [{"text": "kafka"}, {"text": "Flink"}]}}',
]
BASE_TS = "2024-01-01 00:00:"


def _tweet_df(spark):
    rows = [(TWEETS[i], f"{BASE_TS}{i:02d}") for i in range(len(TWEETS))]
    return spark.createDataFrame(rows, "value string, ts_str string").select(
        "value", F.col("ts_str").cast("timestamp").alias("ts")
    )


def _batch_result(spark):
    parsed = parse_hashtags(_tweet_df(spark))
    filtered = blacklist_filter(parsed)
    counts = windowed_counts(
        filtered, window="15 minutes", slide="15 minutes", watermark=None
    )
    return top_k_per_window(counts)


def test_parse_tolerates_absent_and_malformed(spark):
    parsed = parse_hashtags(_tweet_df(spark))
    # 8 records -> 8 hashtag rows: 2+1+1+2+0+0+0+2 (blacklisted terms
    # still parse — filtering is a separate operator; absent entities,
    # empty arrays and malformed JSON contribute nothing).
    assert parsed.count() == 8


def test_batch_pipeline_golden(spark):
    rows = _batch_result(spark).orderBy(F.desc("count"), "key").collect()
    got = [(r["key"], r["count"]) for r in rows]
    # spark×3 (case-merged), flink×2 (case-merged), kafka×1;
    # europe/eu blacklisted regardless of casing.
    assert got == [("spark", 3), ("flink", 2), ("kafka", 1)]
    # display casing = min() deterministic choice
    display = {r["key"]: r["hashtag"] for r in rows}
    assert display["spark"] == "SPARK"  # min of {Spark, SPARK, spark}


def test_stream_equals_batch(spark, tmp_path):
    src = tmp_path / "tweets"
    src.mkdir()
    pdf = _tweet_df(spark).toPandas()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(src / "p"))

    raw = (
        spark.readStream.schema("value string, ts timestamp")
        .parquet(str(src / "p"))
    )
    counts = windowed_counts(
        blacklist_filter(parse_hashtags(raw)),
        window="15 minutes",
        slide="15 minutes",
        watermark=None,
    )
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("golden_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    stream_rows = {
        (r["key"], r["count"])
        for r in spark.table("golden_stream").collect()
    }
    batch_rows = {
        (r["key"], r["count"]) for r in _batch_result(spark).collect()
    }
    assert stream_rows == batch_rows
    spark.catalog.dropTempView("golden_stream")


@pytest.mark.parametrize(
    "window, slide",
    [
        ("15 minutes", "7 seconds"),  # 7-s panes cannot tile 900 s
        ("15 mins", "10 seconds"),
        ("1.5 minutes", "10 seconds"),
        ("15 minutes", "0 seconds"),
        ("INTERVAL 15 MINUTES", "10 seconds"),
    ],
)
def test_windowed_counts_rejects_untileable_or_malformed(spark, window, slide):
    tags = parse_hashtags(_tweet_df(spark))
    with pytest.raises(ValueError):
        windowed_counts(tags, window=window, slide=slide)


@pytest.mark.parametrize(
    "window, slide, message",
    [
        ("15 minutes", "7 seconds", "whole multiple"),
        ("15 mins", "10 seconds", "is not '<n>"),
    ],
)
def test_cli_stream_rejects_bad_window(capsys, window, slide, message):
    """A bad --window/--slide is a usage error (exit 2) raised before
    any Spark session starts."""
    from mrtweety_analytic_spark.__main__ import main as cli_main

    with pytest.raises(SystemExit) as exc:
        cli_main(["stream", "--window", window, "--slide", slide])
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


_T0_MS = 1_704_110_400_000  # 2024-01-01 12:00:00 UTC


def _write_tweet_files(src, batches):
    """batches: per file, [(seconds after 12:00, [hashtag, ...]), ...].
    Files get increasing mtimes so the file source replays them in
    order, one per trigger."""
    src.mkdir()
    for i, events in enumerate(batches):
        path = src / f"batch-{i}.json"
        path.write_text(
            "\n".join(
                json.dumps(
                    {
                        "timestamp_ms": str(_T0_MS + int(sec * 1000)),
                        "entities": {"hashtags": [{"text": t} for t in tags]},
                    }
                )
                for sec, tags in events
            )
            + "\n"
        )
        mtime = _T0_MS / 1000 + 10 * i
        os.utime(path, (mtime, mtime))


def _stamped(raw):
    return raw.withColumn(
        "ts",
        F.timestamp_millis(F.get_json_object("value", "$.timestamp_ms").cast("long")),
    )


def _replay(spark, src, checkpoint, sink):
    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    counts = windowed_counts(blacklist_filter(parse_hashtags(_stamped(raw))))
    q = (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=180), "replay did not finish"
    return q


def test_late_events_match_batch_sliding_window(spark, tmp_path):
    """Events 5 min late (past the 1-min watermark, inside the 15-min
    window) must be counted: the replayed document equals the top-5 of
    the trailing 15 min / 10 s sliding window computed in batch, and
    the pane aggregate drops no row by watermark."""
    src = tmp_path / "tweets"
    _write_tweet_files(
        src,
        [
            [
                (-120, ["Old", "old"]),            # before the trailing window
                (5, ["Spark", "kafka"]),
                (180, ["flink", "EU"]),
                (480, ["spark", "Flink"]),
            ],
            [(720, ["kafka"]), (845, ["kafka", "KAFKA", "spark"])],
            [
                (545, ["flink", "FLINK", "flink"]),  # 5 min late
                (555, ["beam"]),                     # 5 min late
                (-55, ["edge", "edge", "edge"]),     # late, 5 s before the window
            ],
        ],
    )
    out = tmp_path / "analytic.json"
    q = _replay(spark, src, tmp_path / "ckpt", TopKFileSink(str(out), k=5))
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 0

    tags = blacklist_filter(parse_hashtags(_stamped(spark.read.text(str(src)))))
    rows = (
        tags.groupBy(
            F.window("ts", "15 minutes", "10 seconds").alias("w"),
            F.lower("hashtag").alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("count"), F.min("hashtag").alias("hashtag"))
        .collect()
    )
    from datetime import timedelta

    boundary = max(r["w"]["start"] for r in rows) + timedelta(seconds=10)
    trailing = sorted(
        (r for r in rows if r["w"]["end"] == boundary),
        key=lambda r: (-r["count"], r["key"]),
    )[:5]
    expected = [{"count": r["count"], "hashtag": r["hashtag"]} for r in trailing]
    assert json.loads(out.read_text())["items"] == expected
    assert expected == [
        {"count": 5, "hashtag": "FLINK"},
        {"count": 4, "hashtag": "KAFKA"},
        {"count": 3, "hashtag": "Spark"},
        {"count": 1, "hashtag": "beam"},
    ]


def test_pane_plan_has_no_expand(spark, tmp_path):
    """15 min / 10 s counts aggregate one pane row per event: the
    executed streaming plan has no Expand (a sliding window would
    expand every hashtag into 90 window rows before the state store)."""
    src = tmp_path / "tweets"
    _write_tweet_files(src, [[(0, ["spark"]), (30, ["kafka"])]])
    sink = TopKFileSink(str(tmp_path / "analytic.json"), k=5)
    q = _replay(spark, src, tmp_path / "ckpt", sink)
    plan = q._jsq.explainInternal(False)
    assert "StateStoreSave" in plan
    assert "Expand" not in plan


def test_json_document_contract(spark, tmp_path):
    """Output must match the reference result document shape
    (≙ web/analytic.json: items[{hashtag,count}] + ISO datetime)."""
    from datetime import datetime

    out = tmp_path / "analytic.json"
    emit = TopKFileSink(str(out), k=5)
    emit(_batch_result(spark), epoch_id=0)
    doc = json.loads(out.read_text())
    assert set(doc) == {"items", "datetime"}
    assert len(doc["items"]) <= 5
    counts = [i["count"] for i in doc["items"]]
    assert counts == sorted(counts, reverse=True)
    assert {"europe", "eu"}.isdisjoint(
        {i["hashtag"].lower() for i in doc["items"]}
    )
    datetime.fromisoformat(doc["datetime"])  # parseable ISO-8601
    # overwrite semantics: emitting again fully replaces the file
    emit(_batch_result(spark), epoch_id=1)
    assert json.loads(out.read_text())["items"] == doc["items"]


def _pane_rows(spark, rows):
    """rows: (pane_start_str, pane_end_str, key, count, hashtag)."""
    df = spark.createDataFrame(
        rows, "ps string, pe string, key string, count long, hashtag string"
    )
    return df.select(
        F.struct(
            F.col("ps").cast("timestamp").alias("start"),
            F.col("pe").cast("timestamp").alias("end"),
        ).alias("w"),
        "key",
        "count",
        "hashtag",
    )


def test_sink_selects_trailing_window_not_newest(spark, tmp_path):
    """ADVICE r1 (high): the newest pane holds only the last slide of
    events. The document must carry the TRAILING window — the panes in
    [boundary - 15m, boundary) with boundary = newest pane end —
    exactly what reduceByKeyAndWindow(Minutes(15)) reports; a pane
    that ended before the window is left out."""
    out = tmp_path / "analytic.json"
    emit = TopKFileSink(str(out), k=5, window="15 minutes")
    # 5-min panes, newest event at ~12:14 → boundary 12:15, trailing
    # window [12:00, 12:15): spark 4+2+1, kafka 4; "old" is outside.
    emit(
        _pane_rows(
            spark,
            [
                ("2024-01-01 11:55:00", "2024-01-01 12:00:00", "old", 9, "old"),
                ("2024-01-01 12:00:00", "2024-01-01 12:05:00", "spark", 4, "Spark"),
                ("2024-01-01 12:00:00", "2024-01-01 12:05:00", "kafka", 4, "kafka"),
                ("2024-01-01 12:05:00", "2024-01-01 12:10:00", "spark", 2, "spark"),
                ("2024-01-01 12:10:00", "2024-01-01 12:15:00", "spark", 1, "Spark"),
            ],
        ),
        epoch_id=0,
    )
    doc = json.loads(out.read_text())
    assert doc["items"] == [
        {"count": 7, "hashtag": "Spark"},  # min casing across panes
        {"count": 4, "hashtag": "kafka"},
    ]


def test_sink_merges_update_mode_deltas_across_triggers(spark, tmp_path):
    """ADVICE r1 (medium): update mode delivers only changed keys per
    trigger; keys untouched this trigger must keep their cached counts
    in the written top-k, while panes that leave the window drop out."""
    out = tmp_path / "analytic.json"
    emit = TopKFileSink(str(out), k=5, window="15 minutes")
    # Trigger 1: spark/kafka events between 11:50 and 12:04 (5-min
    # panes) → boundary 12:05, window [11:50, 12:05).
    emit(
        _pane_rows(
            spark,
            [
                ("2024-01-01 11:50:00", "2024-01-01 11:55:00", "spark", 1, "Spark"),
                ("2024-01-01 11:55:00", "2024-01-01 12:00:00", "spark", 2, "Spark"),
                ("2024-01-01 11:55:00", "2024-01-01 12:00:00", "kafka", 1, "kafka"),
                ("2024-01-01 12:00:00", "2024-01-01 12:05:00", "spark", 3, "Spark"),
                ("2024-01-01 12:00:00", "2024-01-01 12:05:00", "kafka", 3, "kafka"),
            ],
        ),
        epoch_id=0,
    )
    assert json.loads(out.read_text())["items"] == [
        {"count": 6, "hashtag": "Spark"},
        {"count": 4, "hashtag": "kafka"},
    ]
    # Trigger 2: only flink events (at ~12:06) arrive — spark/kafka send
    # NO rows, yet keep their cached counts in the trailing window
    # [11:55, 12:10); the 11:50 pane has left it.
    emit(
        _pane_rows(
            spark,
            [("2024-01-01 12:05:00", "2024-01-01 12:10:00", "flink", 6, "flink")],
        ),
        epoch_id=1,
    )
    doc = json.loads(out.read_text())
    assert doc["items"] == [
        {"count": 6, "hashtag": "flink"},
        {"count": 5, "hashtag": "Spark"},
        {"count": 4, "hashtag": "kafka"},
    ]


def test_sink_sums_window_across_missing_panes(spark, tmp_path):
    """Empty slides leave no pane: events two slides apart give a pane
    grid with gaps (the case that fooled slide inference from the
    smallest start gap). The document still sums exactly the panes
    starting in [boundary - window, boundary)."""
    out = tmp_path / "analytic.json"
    emit = TopKFileSink(str(out), k=5, window="30 seconds")
    # 10-s panes at :00 and :20 (no :10 pane) → boundary :30, window
    # [:00, :30): a 3+1, b 2.
    emit(
        _pane_rows(
            spark,
            [
                ("2024-01-01 12:00:00", "2024-01-01 12:00:10", "a", 3, "a"),
                ("2024-01-01 12:00:20", "2024-01-01 12:00:30", "a", 1, "a"),
                ("2024-01-01 12:00:20", "2024-01-01 12:00:30", "b", 2, "b"),
            ],
        ),
        epoch_id=0,
    )
    assert json.loads(out.read_text())["items"] == [
        {"count": 4, "hashtag": "a"},
        {"count": 2, "hashtag": "b"},
    ]
    # Next pane at :40 (no :30 pane) → boundary :50, window [:20, :50):
    # the :00 pane is out, the :20 pane is still in.
    emit(
        _pane_rows(
            spark,
            [("2024-01-01 12:00:40", "2024-01-01 12:00:50", "b", 2, "b")],
        ),
        epoch_id=1,
    )
    assert json.loads(out.read_text())["items"] == [
        {"count": 4, "hashtag": "b"},
        {"count": 1, "hashtag": "a"},
    ]


def test_sink_empty_batch_keeps_last_document(spark, tmp_path):
    out = tmp_path / "analytic.json"
    emit = TopKFileSink(str(out), k=5)
    pane = ("2024-01-01 12:00:00", "2024-01-01 12:15:00")
    emit(_pane_rows(spark, [(*pane, "spark", 5, "Spark")]), epoch_id=0)
    first = json.loads(out.read_text())["items"]
    emit(_pane_rows(spark, []), epoch_id=1)  # trailing empty batch
    assert json.loads(out.read_text())["items"] == first


def test_document_byte_shape_matches_reference_sample():
    """Pin the serialized shape against the reference's committed
    sample (web/analytic.json): item keys count+hashtag, top-level
    items+datetime, UTC datetime with millisecond precision + Z."""
    from datetime import datetime, timezone

    doc = render_document(
        [{"hashtag": "#test1", "count": 1}],
        now=datetime(2000, 1, 1, tzinfo=timezone.utc),
    )
    assert doc == (
        '{"items": [{"count": 1, "hashtag": "#test1"}], '
        '"datetime": "2000-01-01T00:00:00.000Z"}'
    )


def test_write_result_file_atomic(tmp_path):
    p = tmp_path / "r.json"
    write_result_file(str(p), render_document([]))
    first = p.read_text()
    write_result_file(str(p), render_document([{"hashtag": "x", "count": 2}]))
    second = json.loads(p.read_text())
    assert json.loads(first)["items"] == []
    assert second["items"] == [{"hashtag": "x", "count": 2}]
    assert len(list(os.listdir(tmp_path))) == 1  # no temp litter


def test_kafka_source_options_reference_parity():
    """R1 parity: topic and offset semantics match the reference's
    direct-stream config (SparkApplication.scala:45-61)."""
    from mrtweety_analytic_spark.streaming.kafka import (
        kafka_source_options,
    )

    opts = kafka_source_options("broker:9092")
    assert opts["subscribe"] == "tweet"
    assert opts["startingOffsets"] == "latest"
    assert opts["kafka.bootstrap.servers"] == "broker:9092"


def test_kafka_sink_serializes_all_columns(spark):
    """The sink payload must be ONE `value` column whose JSON parses
    back to every input column (the serialization contract, testable
    without a broker on a batch DataFrame)."""
    import json

    from mrtweety_analytic_spark.streaming.kafka import kafka_payload

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 3.0)], "n int, tag string, x double"
    )
    out = kafka_payload(df)
    assert out.columns == ["value"]
    rows = [json.loads(r.value) for r in out.collect()]
    assert sorted(rows, key=lambda r: r["n"]) == [
        {"n": 1, "tag": "a", "x": 2.5},
        {"n": 2, "tag": "b", "x": 3.0},
    ]


def test_custom_stream_source_incremental_offsets(spark):
    """The Python streaming source must deliver every row exactly once
    across multiple microbatches (offset bookkeeping + chunked
    drain)."""
    import time

    from mrtweety_analytic_spark.sources_python_ds import (
        register_tweetgen_stream,
    )

    register_tweetgen_stream(spark)
    df = (
        spark.readStream.format("tweetgen_stream")
        .option("rows", "500")
        .option("chunk", "100")
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("tg_stream_test")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("tg_stream_test").count() >= 500:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.table("tg_stream_test").select("id").collect()
    ids = sorted(r.id for r in rows)
    assert ids == list(range(500))  # every row once, none duplicated


def test_live_processing_time_trigger(spark, tmp_path):
    """The reference's actual operating mode (SparkApplication.scala:
    37, 97-102): a live processingTime trigger over the tweet stream
    source, document re-emitted per trigger. Bounded: start, wait for
    two result-file generations (distinct `datetime` stamps), stop.
    Trigger/window shrunk from the reference's 10 s/15 min so the
    test completes in seconds — the MODE (processing-time trigger +
    awaitTermination lifecycle) is what's under test."""
    import json
    import time

    from mrtweety_analytic_spark.streaming.live import start_live_topk

    out = str(tmp_path / "analytic.json")
    q = start_live_topk(
        spark,
        out,
        trigger="1 seconds",
        window="4 seconds",
        slide="2 seconds",
        rows=1_000_000,
        chunk=50,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        assert q.isActive
        stamps: set[str] = set()
        deadline = time.time() + 60
        while len(stamps) < 2 and time.time() < deadline:
            time.sleep(0.5)
            try:
                with open(out) as f:
                    doc = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # not yet written / racing the writer
            stamps.add(doc["datetime"])
            assert isinstance(doc["items"], list)
            for item in doc["items"]:
                assert set(item) == {"count", "hashtag"}
        assert len(stamps) >= 2, (
            f"expected 2 result-file generations within 60s, saw {stamps}"
        )
    finally:
        q.stop()
        q.awaitTermination(timeout=30)
