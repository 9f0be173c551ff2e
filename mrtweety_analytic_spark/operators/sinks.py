"""Sink operators (§2B sources/sinks beyond the R10 JSON document).

The partitioned-parquet round-trip is oracle-checked: the query
writes its aggregate partitioned by key to a scratch dir, reads it
back, and returns the read-back DataFrame — so the DuckDB comparison
certifies the whole write→read path (schema, partition values,
nullability), not just the in-memory result.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import cents_sum


# Scratch dirs handed out per (name, sf_dir), newest last — two
# generations are retained (see _scratch docstring); older ones are
# deleted on supersession and everything at interpreter exit.
_SCRATCH_LIVE: dict[tuple[str, str], list[str]] = {}


def _cleanup_scratch() -> None:
    import shutil

    for paths in _SCRATCH_LIVE.values():
        for path in paths:
            shutil.rmtree(path, ignore_errors=True)
    _SCRATCH_LIVE.clear()


atexit.register(_cleanup_scratch)


def _scratch(name: str, sf_dir: str) -> str:
    """Fresh scratch dir per call — sf_dir-tagged AND uuid-suffixed.

    A fixed path would let a later call (different sf_dir, concurrent
    session, or a harness re-evaluating a still-lazy earlier result)
    rmtree the directory out from under an uncollected DataFrame that
    lazily reads it. Unique paths make every returned DataFrame's
    backing files immutable for its lifetime. Unboundedness is
    handled by bounded succession: the slot keeps the newest TWO
    dirs — the previous generation may still back a lazily
    re-evaluated DataFrame the caller holds (e.g. bench's cold pass
    while the warm pass runs), so only the generation before THAT is
    deleted — and everything still live is removed atexit. Only a
    crash leaks, and at most two dirs per slot.
    """
    import shutil

    tag = sf_dir.strip("/").replace("/", "_")
    key = (name, tag)
    paths = _SCRATCH_LIVE.setdefault(key, [])
    path = os.path.join(
        tempfile.gettempdir(),
        f"mrtweety_{name}_{tag}_{uuid.uuid4().hex[:8]}",
    )
    paths.append(path)
    while len(paths) > 2:
        shutil.rmtree(paths.pop(0), ignore_errors=True)
    return path


def write_partitioned_parquet(df: DataFrame, path: str, *keys: str) -> None:
    """Hive-style partitioned parquet layout — the canonical big-table
    sink: partition columns become directories (partition pruning on
    read), data files stay columnar+compressed.
    """
    df.write.mode("overwrite").partitionBy(*keys).parquet(path)


def write_json_lines(df: DataFrame, path: str) -> None:
    """JSON-lines table sink (one object per row)."""
    df.write.mode("overwrite").json(path)


@register(
    "q_sink_parquet_roundtrip",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang, source
    """,
)
def q_sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    out = _scratch("sink_roundtrip", sf_dir)
    write_partitioned_parquet(agg, out, "lang")
    back = spark.read.schema(
        "source string, n_docs long, sum_chars long, lang string"
    ).parquet(out)
    # Partition column comes back typed as read-schema string; restore
    # column order and types to match the oracle.
    return back.select(
        F.col("lang").cast("string"),
        "source",
        "n_docs",
        F.col("sum_chars").cast("long"),
    )


@register(
    "q_sink_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 4) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write→read round-trip with an explicit read schema (CSV is
    typeless on disk; schema-on-read is declared, never inferred, so
    the certified contract covers header handling + quoting + type
    restoration). CSV is the interchange sink; parquet stays the
    at-scale format (q_sink_parquet_roundtrip).
    """
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        cents_sum("o_totalprice").alias("total"),
    )
    out = _scratch("sink_csv", sf_dir)
    agg.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.option("header", True).schema(
        "o_orderstatus string, n bigint, total double"
    ).csv(out)
    return back


@register(
    "q_sink_orc_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 4) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read round-trip (the other columnar format Spark
    ships natively — stripe-level min/max indexes give the same
    pushdown story as parquet row groups). Certified end-to-end: the
    oracle checks the read-back aggregate, so schema + value fidelity
    through the ORC writer/reader is what's being tested.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        cents_sum("value").alias("sum_value"),
    )
    out = _scratch("sink_orc", sf_dir)
    agg.write.mode("overwrite").orc(out)
    return spark.read.orc(out).select("event_type", "n", "sum_value")


@register(
    "q_sink_json_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def q_sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write→read round-trip with an EXPLICIT read schema
    (schema inference costs a full extra pass at scale; production
    JSON reads always declare). Completes the format matrix —
    parquet / csv / orc / json all certified through the same
    write→read→oracle path.
    """
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_chars").alias("max_chars"),
    )
    out = _scratch("sink_json", sf_dir)
    write_json_lines(agg, out)
    back = spark.read.schema("lang string, n_docs long, max_chars long").json(
        out
    )
    return back.select("lang", "n_docs", "max_chars")


@register(
    "q_sink_custom_pyds",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def q_sink_custom_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK through the Python Data Source writer API
    (sources_python_ds.JsonLinesDirWriter): partition-parallel
    JSON-lines write with two-phase commit (task temp files →
    driver-side rename + _SUCCESS manifest, the Hadoop committer
    protocol in miniature), then read back with an explicit schema and
    certified value-for-value against the source table. Together with
    the custom reader (q_source_custom_pyds) this closes the connector
    contract both ways — the piece a 100 TB deployment swaps for its
    real external system.
    """
    from ..sources_python_ds import register_jsonldir

    register_jsonldir(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out = _scratch("sink_pyds", sf_dir)
    docs.write.format("jsonldir").mode("overwrite").save(out)
    return spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(out)


@register(
    "q_maintenance_compact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
)
def q_maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance operator every
    long-running ingest needs (streaming sinks and per-task writers
    leave thousands of KB-sized files; scan cost at 100 TB is driven
    by file count as much as bytes). Deliberately fragments the table
    into 64 shards, then compacts to ceil(bytes / 32 MB) files via
    coalesce — a shuffle-free repack (coalesce merges map-side;
    repartition would shuffle every row). Value fidelity through
    fragment→compact is what the oracle certifies; the file-count
    contract is pinned by tests/test_operators.py.
    """
    import math

    global LAST_COMPACT_BASE
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    base = LAST_COMPACT_BASE = _scratch("compact", sf_dir)
    frag, compact = f"{base}/frag", f"{base}/compact"
    docs.repartition(64).write.parquet(frag)
    n_bytes = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(n_bytes / (32 << 20)))
    # read back with the written schema: inferring it is a job per read
    read = spark.read.schema(docs.schema)
    read.parquet(frag).coalesce(n_files).write.parquet(compact)
    return read.parquet(compact)


# Where the most recent q_maintenance_compact call wrote (scratch
# paths are per-call unique; the file-count test inspects this).
LAST_COMPACT_BASE: str | None = None


@register(
    "q_scan_schema_merge",
    oracle="""
    WITH merged AS (
        SELECT doc_id, n_chars, NULL AS lang
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, n_chars, lang
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT coalesce(lang, '<pre-evolution>') AS lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM merged GROUP BY 1
    """,
)
def q_scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (mergeSchema): two parquet
    generations of the same table — the older one written BEFORE a
    `lang` column existed — are scanned as one dataset; the union
    schema is reconciled by field name and the missing column
    null-fills. This is the data-lake reality at 100 TB: a corpus is
    never rewritten when a field is added, so the scan layer must
    reconcile schema drift (the batch counterpart of the streaming
    footer-derived schema handling in sources.py). The oracle
    re-derives the same union from the source table, so what's
    certified is the null-fill semantics, not just row counts.

    Scale note: mergeSchema reads every file footer at planning time
    — O(files) driver work, the documented cost of on-read evolution.
    Production tables bound it with a metastore/table-format schema;
    the per-file reconciliation semantics certified here are the same
    ones those formats apply.
    """
    docs = load_table(spark, sf_dir, "documents")
    out = _scratch("schema_merge", sf_dir)
    gen1 = os.path.join(out, "gen1")
    gen2 = os.path.join(out, "gen2")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "n_chars"
    ).write.mode("overwrite").parquet(gen1)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "n_chars", "lang"
    ).write.mode("overwrite").parquet(gen2)
    merged = spark.read.option("mergeSchema", True).parquet(gen1, gen2)
    return (
        merged.groupBy(
            F.coalesce("lang", F.lit("<pre-evolution>")).alias("lang")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "q_scan_corrupt_tolerant",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 2 = 0
    GROUP BY lang
    """,
)
def q_scan_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file tolerance at the scan: a directory holding one
    good parquet generation (the even doc_ids) plus one garbage file
    (truncated-upload / bit-rot stand-in) is read with
    `ignoreCorruptFiles` — the poison file is skipped, the good rows
    all survive, and the oracle certifies the survivors value-for-
    value. At 100 TB a handful of bad objects is a statistical
    certainty; without this posture one rotted file kills the whole
    job (the read-side sibling of q_fn_try_cast's poison-record
    stance). The flag is scoped to this read via the DataFrameReader
    option, not session-wide — tolerance is a per-pipeline decision.

    Scale: no extra cost on the good path — corruption is detected at
    footer/page decode of the bad file only; everything else is a
    plain pruned parquet scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    out = _scratch("corrupt_scan", sf_dir)
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(out)
    # A file parquet will open (it matches the glob) but cannot parse:
    # wrong magic, truncated footer.
    with open(os.path.join(out, "part-corrupt.parquet"), "wb") as f:
        f.write(b"NOTPARQUET" * 13)
    merged = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(out)
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@register(
    "q_source_json_corrupt",
    oracle="""
    WITH lines AS (
        SELECT event_id,
               CAST(props->>'$.k' AS BIGINT) AS k,
               event_id % 7 = 0 AS corrupt
        FROM events
    )
    SELECT count(*) FILTER (WHERE NOT corrupt) AS n_good,
           count(*) FILTER (WHERE corrupt) AS n_corrupt,
           CAST(sum(k) FILTER (WHERE NOT corrupt) AS BIGINT) AS sum_k,
           CAST(min(event_id) FILTER (WHERE corrupt) AS BIGINT)
               AS first_corrupt_id
    FROM lines
    """,
)
def q_source_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON-lines ingest with corrupt-record capture: a
    feed where every 7th record is malformed (truncated JSON) is read
    with `columnNameOfCorruptRecord`, so poison lines land in a
    quarantine column instead of killing the job or silently
    vanishing — and they stay ATTRIBUTABLE (the raw line is kept, so
    the quarantine report can name the offending records). Completes
    the poison-tolerance triad: q_fn_try_cast (value level),
    q_scan_corrupt_tolerant (file level), this (record level).

    The corrupt line embeds its event_id in a recoverable prefix, so
    the gate certifies all three behaviors: good rows parse
    value-for-value, corrupt rows are counted not dropped, and the
    quarantined raw text is the original line (first_corrupt_id is
    re-parsed OUT of the quarantine column).

    Scale: schema-on-read JSON scan, no shuffle until the final 1-row
    report; quarantine adds one string column on the corrupt subset
    only.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )
    line = F.when(
        F.col("event_id") % 7 == 0,
        # Malformed: opening brace + id, no closing — a truncated write.
        F.concat(F.lit('{"event_id": '), F.col("event_id"), F.lit(", TRUNC")),
    ).otherwise(
        F.to_json(F.struct("event_id", "k"))
    )
    out = _scratch("json_corrupt", sf_dir)
    ev.select(line.alias("value")).write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema(
            "event_id long, k long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("k"))).alias("sum_k"),
        F.min(
            F.regexp_extract(F.col("_corrupt_record"), r'"event_id": (\d+)', 1)
            .cast("long")
        ).alias("first_corrupt_id"),
    )


@register(
    "q_sink_partition_overwrite",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY 1, 2
    """,
)
def q_sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the physical layer of
    incremental refresh (q_mv_incremental is the logical layer): a
    monthly-partitioned table holds one STALE month (simulating a
    late-data restatement); the corrected month is rewritten with
    partitionOverwriteMode=dynamic, which replaces ONLY the
    partitions present in the written frame and leaves every other
    month's files untouched (no-rewrite pinned by the pytest file
    audit). The certified final state is the full recompute — the
    restatement invariant. At 100 TB this is the difference between
    rewriting one month and rewriting the table.
    """
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format(
        F.date_trunc("month", "o_orderdate"), "yyyy-MM"
    ).alias("month")
    correct = orders.groupBy(month, "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    last = correct.agg(F.max("month").alias("m"))
    # generation 1: every month correct EXCEPT the newest (stale rows
    # carry zeroed revenue — the late-data gap)
    stale = correct.crossJoin(F.broadcast(last)).select(
        "month",
        "o_orderpriority",
        "n_orders",
        F.when(F.col("month") == F.col("m"), F.lit(0.0))
        .otherwise(F.col("revenue"))
        .alias("revenue"),
    )
    out = _scratch("sink_dyn_overwrite", sf_dir)
    stale.write.mode("overwrite").partitionBy("month").parquet(out)
    # restatement: rewrite ONLY the stale month, dynamic mode
    fix = (
        correct.crossJoin(F.broadcast(last))
        .where(F.col("month") == F.col("m"))
        .select("month", "o_orderpriority", "n_orders", "revenue")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fix.write.mode("overwrite").partitionBy("month").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.schema(
        "o_orderpriority string, n_orders long, revenue double,"
        " month string"
    ).parquet(out)
    return back.select(
        F.col("month").cast("string"),
        "o_orderpriority",
        "n_orders",
        "revenue",
    )


@register(
    "q_maintenance_vacuum",
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
def q_maintenance_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table VACUUM — completes the maintenance trio
    (compact, zorder, vacuum). Builds a keyed copy-on-write table by
    applying three deterministic changelog slices through
    UpsertKeyedSink's MERGE protocol, plants the two crash-leftover
    classes a two-phase commit can leave behind (a version directory
    written but never referenced by the manifest, and a stale
    `_CURRENT.tmp` pointer), then vacuums: everything unreachable
    from the committed manifest is deleted, nothing reachable is
    touched. The oracle recomputes keep-latest-per-key relationally,
    so the certificate proves the table still reads EXACTLY right
    after the GC — vacuum correctness is "removed the garbage,
    changed no committed byte".

    Scale: vacuum is a pure manifest-vs-listing reconciliation —
    O(files) driver metadata work, zero data movement; the merge law
    (max over the full version struct) makes the slice order
    irrelevant, which is also why replayed batches can never corrupt
    the table the vacuum audits.
    """
    from ..streaming.queries import UpsertKeyedSink

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    base = _scratch("vacuum", sf_dir)
    sink = UpsertKeyedSink(base_dir=base)
    for i in range(3):
        sink(ev.where(F.pmod(F.col("event_id"), F.lit(3)) == i), i)
    # plant crash leftovers: an uncommitted version dir + a stale
    # pointer temp file
    orphan = os.path.join(base, "v999999")
    os.makedirs(os.path.join(orphan, "bucket=0"), exist_ok=True)
    with open(os.path.join(orphan, "bucket=0", "part-orphan.parquet"), "w") as f:
        f.write("crash leftover")
    with open(os.path.join(base, "_CURRENT.tmp"), "w") as f:
        f.write("{}")
    stats = sink.vacuum()
    assert stats["n_orphans_removed"] >= 1 and stats["n_tmp_removed"] >= 1
    return sink.table().select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 6).alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "q_sink_text_roundtrip",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           min(md5(text)) AS min_digest
    FROM documents
    """,
)
def q_sink_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text write→read round-trip — the last first-class Spark
    file format in the matrix (parquet / csv / orc / json / binary /
    custom-pyds / text): one string column per line out, one line per
    row back. The corpus's texts are single-line by construction
    (FIXTURES.md), so line framing is lossless; the read-back
    aggregate (count, char mass, min content digest) is certified
    against the source table, covering the whole writer/reader path
    including charset round-tripping.

    Scale: text is the format training tokenizers stream — the write
    is partition-parallel with no encoder CPU beyond UTF-8, and the
    read is splittable by line. (Avro is the one absent format: its
    datasource module jar is not in this container — env-blocked,
    like Kafka's broker.)
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    out = _scratch("sink_text", sf_dir)
    docs.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("sum_chars"),
        F.min(F.md5("value")).alias("min_digest"),
    )
