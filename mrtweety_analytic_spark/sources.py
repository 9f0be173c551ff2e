"""Table loaders and explicit schemas for the test corpus.

Batch reads rely on the parquet footer schema (self-describing;
Catalyst pushes filters/pruning into the scan), inferred once per file
(table_schema). Streaming file reads require an explicit schema —
declared here once (FIXTURES.md §A).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Streaming-source schema for the events table (FIXTURES.md §A).
# The corpus has shipped with two physical encodings of ts across
# driver generations — timestamp[ns] (which Spark's parquet reader
# only accepts as long nanos, see the nanosAsLong conf in
# session.RUNTIME_CONF) and native timestamp[us]. The file-stream
# source needs an explicit schema, so it is derived from the parquet
# footer at call time (_events_stream_schema) rather than hard-coded;
# _normalize_timestamps then lands every variant on µs TimestampType.
_EVENTS_FIELDS = (
    ("event_id", T.LongType()),
    ("user_id", T.LongType()),
    ("event_type", T.StringType()),
    ("value", T.DoubleType()),
    ("props", T.StringType()),
)


def _events_stream_schema(sf_dir: str) -> T.StructType:
    """Streaming schema for events, with ts typed to match the file's
    physical encoding (int64 nanos vs timestamp[us] ntz/ltz)."""
    import pyarrow.parquet as pq

    arrow_ts = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
    # ns-unit parquet (tz-tagged or not) reaches Spark as INT64 under
    # the nanosAsLong conf — matching on the naive string form alone
    # would misroute a timestamp[ns, tz=...] file to the LTZ branch
    # and crash every micro-batch with a column-type mismatch.
    if str(arrow_ts) == "int64" or getattr(arrow_ts, "unit", None) == "ns":
        ts_type: T.DataType = T.LongType()
    elif getattr(arrow_ts, "tz", None):
        ts_type = T.TimestampType()
    else:
        ts_type = T.TimestampNTZType()
    by_name = dict(_EVENTS_FIELDS)
    order = ("event_id", "ts", "user_id", "event_type", "value", "props")
    return T.StructType(
        [
            T.StructField(n, ts_type if n == "ts" else by_name[n])
            for n in order
        ]
    )


# Columns that are temporal by contract (FIXTURES.md); a LongType
# reading of one of these means the file is physically timestamp[ns]
# surfaced through the nanosAsLong conf, never a genuine integer.
_TEMPORAL_COLUMNS = frozenset({"ts", "l_shipdate", "o_orderdate"})


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Land every timestamp variant on µs TimestampType (LTZ, session
    tz = UTC), preserving column order.

    - long nanos (nanosAsLong read of timestamp[ns], temporal-named
      columns only): integer DIV 1000 — not `/`, float division of
      ~1.7e18 ns exceeds the double mantissa and lands ±1 µs off —
      then timestamp_micros. Lossless: corpus values are µs precision.
    - TIMESTAMP_NTZ (native timestamp[us] corpus): cast to LTZ; under
      the UTC session timezone this is value-identity, and it keeps
      LTZ-only functions (unix_micros etc.) working downstream.
    - TimestampType: pass through.
    """
    from pyspark.sql import functions as F

    def is_long_nanos(field: T.StructField) -> bool:
        return field.name in _TEMPORAL_COLUMNS and isinstance(
            field.dataType, T.LongType
        )

    def fix(field: T.StructField):
        if is_long_nanos(field):
            return F.timestamp_micros(
                F.expr(f"{field.name} DIV 1000")
            ).alias(field.name)
        if isinstance(field.dataType, T.TimestampNTZType):
            return F.col(field.name).cast("timestamp").alias(field.name)
        return F.col(field.name)

    if any(
        is_long_nanos(f) or isinstance(f.dataType, T.TimestampNTZType)
        for f in df.schema.fields
    ):
        return df.select(*[fix(f) for f in df.schema.fields])
    return df

# Tweet-input contract of the reference pipeline: records navigated as
# entities.hashtags[].text, tolerating absent `entities`
# (reference: SparkApplication.scala:66-85). `from_json` with this
# schema + null-dropping explode reproduces those semantics.
TWEET_SCHEMA = T.StructType(
    [
        T.StructField(
            "entities",
            T.StructType(
                [
                    T.StructField(
                        "hashtags",
                        T.ArrayType(
                            T.StructType([T.StructField("text", T.StringType())])
                        ),
                    )
                ]
            ),
        )
    ]
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# path -> ((inode, size, mtime_ns), schema Spark inferred for that file)
_SCHEMAS: dict[str, tuple[tuple[int, int, int], T.StructType]] = {}


def table_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark infers for the parquet table at `path`, under
    the tuned session (nanosAsLong: timestamp[ns] stays long nanos).

    Inference reads the footer in a one-task Spark job, so a regular
    file's schema is inferred once per process and reused while the
    file keeps its identity (inode, size, mtime_ns): a file rewritten
    in place is inferred afresh. Anything
    else — a directory, whose identity does not change when a part
    file does, or a path os.stat cannot see — is inferred on every
    call, as spark.read.parquet would.
    """
    tune(spark)
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    ident = (st.st_ino, st.st_size, st.st_mtime_ns)
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != ident:
        hit = _SCHEMAS[path] = (ident, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-load one corpus table, tuning the session on the way.

    The footer schema comes from table_schema, so a repeat load of an
    unchanged file launches no Spark job and plans exactly as the
    first; _normalize_timestamps then lands every timestamp encoding
    on µs TimestampType.
    """
    path = table_path(sf_dir, name)
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    return _normalize_timestamps(df)


def load_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a replayable file-source stream — the
    ingest feed of a training-data pipeline (new shards arriving as
    files). Documents carry no event time, so consumers use
    update-mode aggregation with MONOTONE state (min/count), never
    watermarked windows; the fixed batch schema is declared inline
    (no timestamp column ⇒ no encoding normalization needed)."""
    tune(spark)
    return (
        spark.readStream.schema(
            "doc_id long, text string, lang string, "
            "source string, n_chars long"
        )
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a replayable file-source stream.

    Stands in for the reference's Kafka direct stream
    (SparkApplication.scala:45-61) in a broker-less test environment;
    the downstream pipeline code is source-agnostic.
    """
    tune(spark)
    raw = (
        spark.readStream.schema(_events_stream_schema(sf_dir))
        .format("parquet")
        # File stream sources take a directory; the glob filter picks
        # the events table out of the shared sf_dir.
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return _normalize_timestamps(raw)
