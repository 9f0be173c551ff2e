"""Live processing-time mode — the reference's actual operating loop.

Reference parity: `SparkApplication.scala:37` runs the DStream with a
10-second batch interval (`Durations.seconds(10)`) and `:97-102`
starts the context and blocks in `awaitTermination`. Every other
entry point in this engine replays with `trigger(availableNow=True)`
(the right choice for CI and oracle determinism); this module wires
the genuine `trigger(processingTime='10 seconds')` + awaitTermination
path over the replayable tweet-JSON stream source, emitting the
`{items, datetime}` document each trigger — BASELINE.md's "≤10 s
refresh" row demonstrated, not argued.

Windows are processing-time (arrival wall-clock stamped as event
time), exactly the reference's DStream semantics; the watermark
bounds state store growth during an unbounded run (the reference
needed none only because DStream windows drop old RDDs wholesale).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..sources_python_ds import register_tweetgen_stream
from .pipeline import (
    SLIDE_DURATION,
    TOP_K,
    WINDOW_DURATION,
    blacklist_filter,
    parse_hashtags,
    stamp_processing_time,
    windowed_counts,
)
from .sink import TopKFileSink


def start_live_topk(
    spark: SparkSession,
    out_path: str,
    *,
    trigger: str = SLIDE_DURATION,
    window: str = WINDOW_DURATION,
    slide: str = SLIDE_DURATION,
    k: int = TOP_K,
    rows: int = 1_000_000,
    chunk: int = 200,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Start (and return, NOT await) the live R1-R10 chain:
    tweet-JSON stream -> parse/explode -> blacklist -> case-folded
    pane count -> per-trigger top-k file document over the trailing
    window.

    The caller owns the lifecycle: `q.awaitTermination()` for the
    reference's run-forever mode, or await with a timeout + `q.stop()`
    for a bounded run (CLI --duration, pytest).
    """
    register_tweetgen_stream(spark)
    raw = (
        spark.readStream.format("tweetgen_stream")
        .option("rows", str(rows))
        .option("chunk", str(chunk))
        .load()
    )
    tags = blacklist_filter(parse_hashtags(raw))
    counts = windowed_counts(
        stamp_processing_time(tags.drop("id")),
        window=window,
        slide=slide,
        watermark="1 minute",
    )
    writer = (
        counts.writeStream.outputMode("update")
        .foreachBatch(TopKFileSink(out_path, k=k, window=window))
        .trigger(processingTime=trigger)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
