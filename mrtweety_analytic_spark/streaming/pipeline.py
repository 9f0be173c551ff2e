"""The reference dataflow as a pure DataFrame transformation.

Reference pipeline (SparkApplication.scala:63-95):
  Kafka value -> JSON parse -> explode entities.hashtags[].text ->
  blacklist filter -> case-insensitive count over a 15-min window
  sliding every 10 s -> sort desc -> top 5 -> JSON file overwrite.

Here the count is kept per 10-s pane (`windowed_counts`) and the
sink (`sink.TopKFileSink`) sums the trailing 15 minutes of panes.

Everything here is expressed as functions DataFrame -> DataFrame so
the SAME code runs in batch (tests, oracle comparison) and streaming
(readStream + writeStream) — the batch/stream equivalence strategy of
SURVEY.md §7.4.

Time semantics: the reference's DStream windows are processing-time.
This engine uses event-time + watermark (a documented upgrade); for
exact reference parity `stamp_processing_time` substitutes ingest
wall-clock as the event time.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import TWEET_SCHEMA

# ≙ reference WORD_BLACKLIST (SparkApplication.scala:29): terms the
# producer tracks and the analytic job therefore suppresses.
WORD_BLACKLIST = ("europe", "europa", "eu", "euro")

WINDOW_DURATION = "15 minutes"   # ≙ Minutes(15), SparkApplication.scala:88
SLIDE_DURATION = "10 seconds"    # ≙ batch interval, SparkApplication.scala:37
TOP_K = 5                        # ≙ take(5), SparkApplication.scala:93

_DURATION = re.compile(r"(\d+) (second|minute|hour|day)s?")
_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def parse_hashtags(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """value (JSON string) -> one row per hashtag text.

    ≙ the flatMap at SparkApplication.scala:66-85: from_json yields a
    null struct for malformed/absent entities and explode drops
    null/empty arrays, so such records contribute no rows (:82-84).
    Passes through every other column (e.g. the event-time stamp).
    """
    passthrough = [c for c in raw.columns if c != value_col]
    return (
        raw.withColumn("_tweet", F.from_json(F.col(value_col), TWEET_SCHEMA))
        .select(
            *passthrough,
            F.explode(F.col("_tweet.entities.hashtags.text")).alias("hashtag"),
        )
        .filter(F.col("hashtag").isNotNull())
    )


def blacklist_filter(
    df: DataFrame, col: str = "hashtag", blacklist: tuple = WORD_BLACKLIST
) -> DataFrame:
    """Case-insensitive NOT-IN ≙ SparkApplication.scala:29,77."""
    return df.filter(~F.lower(F.col(col)).isin(*blacklist))


def duration_seconds(text: str) -> int:
    """'<n> second|minute|hour|day[s]' -> whole seconds (n > 0).

    The one duration format the windowed pipeline accepts; anything
    else (other units, fractions, Spark's wider interval syntax)
    raises ValueError so a pane width is always exact."""
    m = _DURATION.fullmatch(text)
    if m is None or int(m[1]) == 0:
        raise ValueError(
            f"duration {text!r} is not '<n> second|minute|hour|day[s]'"
        )
    return int(m[1]) * _UNIT_SECONDS[m[2]]


def check_window(window: str, slide: str) -> tuple[int, int]:
    """(window, slide) in seconds; ValueError unless `slide`-wide
    panes tile `window` exactly."""
    window_s, slide_s = duration_seconds(window), duration_seconds(slide)
    if window_s % slide_s:
        raise ValueError(
            f"window {window!r} is not a whole multiple of slide {slide!r}"
        )
    return window_s, slide_s


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "hashtag",
    window: str = WINDOW_DURATION,
    slide: str = SLIDE_DURATION,
    watermark: str | None = "1 minute",
) -> DataFrame:
    """Case-folded counts per tumbling `slide`-wide pane.

    ≙ reduceByKeyAndWindow(_+_, Minutes(15)) with the Hashtag
    case-insensitive key (SparkApplication.scala:88, Hashtag.scala:
    11-17), decomposed into panes (Li et al., "No pane, no gain",
    SIGMOD Record 2005): each event lands in ONE pane row instead of
    window/slide overlapping window rows (90 for 15 min / 10 s), so
    the state store holds one row per (pane, key) and the plan has no
    Expand. TopKFileSink sums the window/slide panes of the trailing
    window — the window the reference reports. Key display casing:
    min() (deterministic) instead of the reference's first-seen-wins
    race; the sink takes min() again across panes.

    Watermark: a streaming input gets `watermark + window - slide`, not
    the bare `watermark`. A sliding window stays open until its end
    passes the watermark, so an event later than `watermark` is still
    counted in the windows that are open; a pane must therefore live
    until the last window covering it closes. Consequently
    `numRowsDroppedByWatermark` counts (pane, key) rows too late for
    every window covering them, not expanded rows of windows that
    already closed — 0 for any event still inside the trailing window.

    `window`, `slide` and `watermark` take '<n> second|minute|hour|
    day[s]'; ValueError when `window` is not a whole multiple of
    `slide`.
    """
    window_s, slide_s = check_window(window, slide)
    if watermark is not None and df.isStreaming:
        delay_s = duration_seconds(watermark) + window_s - slide_s
        df = df.withWatermark(ts_col, f"{delay_s} seconds")
    return (
        df.groupBy(
            F.window(F.col(ts_col), slide).alias("w"),
            F.lower(F.col(key_col)).alias("key"),
        )
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min(key_col).alias("hashtag"),
        )
    )


def top_k_per_window(counts: DataFrame, k: int = TOP_K) -> DataFrame:
    """Latest-window top-k with deterministic tiebreak (count desc,
    key asc) ≙ sortByKey(desc) + take(5) (SparkApplication.scala:
    90-93), planned as TakeOrderedAndProject / WindowGroupLimit
    instead of a full sort.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("w").orderBy(F.desc("count"), F.asc("key"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def stamp_processing_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Processing-time mode for exact reference parity (DStream windows
    are wall-clock): stamp arrival time as the event time.
    """
    return df.withColumn(ts_col, F.current_timestamp())
