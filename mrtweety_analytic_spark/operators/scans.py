"""Scans and schema-on-read sources (§2B: q_scan_*, q_source_*).

These verify the Catalyst scan path: column pruning and predicate
pushdown must reach the parquet reader (`PushedFilters`/`ReadSchema`
in .explain), which is what makes a 100 TB scan read only the bytes
the query needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..sources import load_table, table_path, table_schema
from ..util import app_temp_dir, cents_sum, md5_int


@register(
    "q_scan_parquet",
    oracle="SELECT count(*) AS n_rows FROM lineitem",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan count — planned as a metadata-only parquet row-count
    (no column materialization at all).
    """
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "q_scan_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + filter, both pushed into the scan: ReadSchema is
    3 of 11 columns and PushedFilters carries the range predicate
    (row-group min/max skipping at scale).
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "q_source_json_lines",
    oracle="""
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
    FROM events
    """,
)
def q_source_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over a JSON-string column with an explicit
    StructType — the declarative form of the reference's imperative
    org.json navigation (SparkApplication.scala:66-85); malformed
    JSON yields NULL (≙ optJSONObject tolerance at :68).
    """
    events = load_table(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    return events.select(
        "event_id", F.from_json(F.col("props"), schema).getField("k").alias("k")
    )


@register(
    "q_sample_hash_mod",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 10 = 3
    """,
)
def q_sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by key modulus. Unlike
    TABLESAMPLE/df.sample (RNG per task attempt — not reproducible
    across retries or engines), a key-modulus predicate is a pure
    filter: reproducible, pushdown-eligible, and stable under
    partition reshuffles — the only sampling that is safe to cite in
    a data-lineage audit of a 100 TB corpus.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


# Which (SparkContext, sf_dir) pairs already wrote the partitioned
# copy THIS session. SESSION-scoped on purpose (the q_join_bucketed
# pattern): the Hive-partitioned write is the layout work any event
# lake pays once, so repeat calls within one session read the copy —
# but a fresh process/session always re-pays the write. Round 13
# removed cross-run memos (graph _EDGE_CACHE, bloom serve-from-pin);
# the previous size+mtime-keyed /tmp reuse here was the same class
# (an artifact keyed on /root/testdata surviving across bench/oracle
# invocations) and was removed in round 14.
_PART_EVENTS_WRITTEN: set[tuple[str, str]] = set()


def partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table materialized Hive-partitioned by event_type,
    written once per Spark session (never reused across sessions).
    Shared by the static (q_scan_partition_pruned) and dynamic
    (q_join_dpp) pruning certificates."""
    events = load_table(spark, sf_dir, "events")
    out = app_temp_dir(
        spark, "part_events_" + os.path.basename(os.path.normpath(sf_dir))
    )
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PART_EVENTS_WRITTEN:
        events.write.mode("overwrite").partitionBy("event_type").parquet(out)
        _PART_EVENTS_WRITTEN.add(key)
    # explicit schema: an empty source writes zero partition dirs and
    # schema inference would fail; declared-on-read is also the
    # production posture (audit_empty robustness)
    return spark.read.schema(events.schema).parquet(out)


@register(
    "q_scan_partition_pruned",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 100, 4) AS total
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type
    """,
)
def q_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan, certified end-to-end: materialize the
    events table Hive-partitioned by event_type (the write any 100 TB
    event lake does), then answer a two-type query — the scan touches
    only the two selected partition directories (static pruning; the
    dynamic variant is certified by q_join_dpp and
    test_dynamic_partition_pruning).
    The oracle states the same semantics over the unpartitioned table,
    so the partitioned layout is proven value-preserving too.
    """
    part = partitioned_events(spark, sf_dir)
    return (
        part.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy(F.col("event_type").cast("string").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            cents_sum("value").alias("total"),
        )
    )


@register(
    "q_source_custom_pyds",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 999)) AS i),
    ks AS (SELECT unnest(generate_series(0, 2)) AS k),
    tags AS (
        SELECT lower((['spark','Spark','SPARK','python','data',
                       'streaming','europe','kafka','scale','parquet']
                     )[((i * 7 + k * 3) % 10) + 1]) AS hashtag
        FROM ids JOIN ks ON k < i % 4
    )
    SELECT hashtag, count(*) AS n
    FROM tags
    WHERE hashtag NOT IN ('europe', 'europa', 'eu', 'euro')
    GROUP BY hashtag
    """,
)
def q_source_custom_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector (Python Data Source API) driven through the
    reference's R3+R4 parse path: the deterministic tweetgen source
    emits partition-parallel tweet JSON, from_json+explode extracts
    hashtags, the blacklist drops the reference's tracked terms, and
    the case-folded count is checked against a pure-SQL re-derivation
    of the generator — certifying source partitioning, JSON parsing,
    null-entity tolerance, and filter semantics in one query.
    """
    from ..sources_python_ds import register_tweetgen
    from ..streaming.pipeline import blacklist_filter, parse_hashtags

    register_tweetgen(spark)
    raw = (
        spark.read.format("tweetgen")
        .option("rows", "1000")
        .option("partitions", "8")
        .load()
    )
    tags = blacklist_filter(parse_hashtags(raw))
    return tags.groupBy(F.lower("hashtag").alias("hashtag")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q_source_binaryfile",
    oracle="""
    SELECT count(*) AS n_files,
           -- strlen = BYTE length in DuckDB: the files are written
           -- UTF-8-encoded, so compare bytes-vs-bytes (length() would
           -- count characters and drift on non-ASCII corpora).
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           count(DISTINCT md5(text)) AS n_distinct
    FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 20)
    """,
)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `binaryFile` source — Spark's native opaque-blob ingest
    (one row per file: path, modificationTime, length, content) and
    the front door for image/audio/video payloads at 100 TB (pair
    with pathGlobFilter + recursiveFileLookup over an object-store
    prefix; downstream decode is the multimodal mapInPandas tier).
    Certified end-to-end: 20 deterministic payload files are written
    out, read back through binaryFile, and the (count, bytes,
    distinct-digest) profile must equal the same profile computed
    relationally from the source table.
    """
    import os

    from .sinks import _scratch

    docs = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(20)
        .select("doc_id", "text")
        .collect()
    )
    # Succession-cleaned scratch slot (two generations retained,
    # atexit removal) — same lifecycle as the sink roundtrips.
    out = _scratch("binfiles", sf_dir)
    os.makedirs(out)
    for r in docs:
        with open(os.path.join(out, f"doc_{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    files = spark.read.format("binaryFile").load(out)
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("length").alias("total_bytes"),
        F.countDistinct(F.md5("content")).alias("n_distinct"),
    )


@register(
    "q_scan_file_metadata",
    oracle="""
    SELECT 'events.parquet' AS file_name,
           count(*) AS n_rows,
           count(DISTINCT event_id) AS n_ids
    FROM events
    """,
)
def q_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `_metadata` hidden column on file scans: every row carries
    its source file (name, path, size, mod time) with no extra I/O —
    row-level lineage. At 100 TB this is the quarantine primitive:
    when a corrupt producer file poisons a snapshot, grouping by
    `_metadata.file_name` identifies and excises exactly the affected
    rows without re-reading the lake. Certified by profiling the
    events table per source file against the relational row count.
    """
    path = table_path(sf_dir, "events")
    df = spark.read.schema(table_schema(spark, path)).parquet(path).select(
        F.col("_metadata.file_name").alias("file_name"), "event_id"
    )
    return df.groupBy("file_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@register(
    "q_join_dpp",
    oracle="""
    WITH dim AS (
        SELECT event_type FROM events
        GROUP BY event_type HAVING avg(value) > 25
    )
    SELECT e.event_type, count(*) AS n,
           round(CAST(sum(CAST(floor(CAST(e.value AS DOUBLE) * 100 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 100, 4) AS total
    FROM events e JOIN dim USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, certified end-to-end: the
    Hive-partitioned fact is joined to a dim whose qualifying keys
    are only known at RUNTIME (event types with avg value > 25), so
    no static filter exists for the planner to push — Catalyst
    instead plants a dynamicpruning subquery in the fact's partition
    filters and the scan reads only the dim-selected directories
    once the build side materializes. At 100 TB this is the
    difference between reading the selected event_type directories
    and the whole lake whenever the selective predicate lives on the
    dimension. Value parity is oracle-certified; the
    dynamicpruningexpression plan shape is pinned by
    tests/test_operators.py::test_join_dpp_plan_has_dynamic_pruning.
    """
    part = partitioned_events(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.avg("value").alias("av"))
        .filter(F.col("av") > 25)
        .select("event_type")
    )
    return (
        part.join(dim, "event_type")
        .groupBy(F.col("event_type").cast("string").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            cents_sum("value").alias("total"),
        )
    )


@register(
    "q_sample_time_split",
    oracle="""
    WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
               FROM events),
    cut AS (SELECT mn + CAST(floor(0.8 * (mx - mn)) AS BIGINT) AS t1
            FROM b),
    lab AS (
        SELECT e.user_id, e.ts,
               CASE WHEN epoch_us(e.ts) < c.t1 THEN 'train'
                    WHEN epoch_us(e.ts) >= c.t1 + 86400000000
                        THEN 'test'
                    ELSE 'embargo' END AS split
        FROM events e CROSS JOIN cut c
    )
    SELECT split, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM lab GROUP BY split
    """,
)
def q_sample_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split with a 1-day EMBARGO gap — the
    backtesting contract for temporal models: train ends at the 80%
    point of the event timeline, test starts a full day later, and
    everything between is quarantined so trailing-window features
    computed at train time (e.g. q_events_feature_window's 7-day
    sums) cannot straddle the boundary and leak test-period signal.
    Complements q_split_leakage_safe (which guards CONTENT leakage
    via near-dup clusters) on the temporal axis.

    Scale: the timeline bounds are one tiny aggregate broadcast back
    onto a stateless per-row CASE — the split is a map-only pass that
    composes with partition pruning (a date-partitioned 100 TB layout
    prunes each split to its partition range). Integer-microsecond
    cutoff arithmetic, one double multiply, floor — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.unix_micros("ts").alias("us")
    )
    b = ev.agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    ).select(
        (
            F.col("mn")
            + F.floor(0.8 * (F.col("mx") - F.col("mn"))).cast("bigint")
        ).alias("t1")
    )
    lab = ev.crossJoin(F.broadcast(b)).select(
        "user_id",
        "ts",
        F.when(F.col("us") < F.col("t1"), "train")
        .when(F.col("us") >= F.col("t1") + 86400000000, "test")
        .otherwise("embargo")
        .alias("split"),
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


@register(
    "q_scan_zonemap_skip",
    oracle="""
    WITH zones AS (
        SELECT l_orderkey % 64 AS file_id,
               min(l_shipdate) AS zmin, max(l_shipdate) AS zmax,
               count(*) AS n_rows,
               sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                        THEN 1 ELSE 0 END) AS n_match
        FROM lineitem GROUP BY 1
    )
    SELECT count(*) AS n_files,
           CAST(sum(CASE WHEN zmax < TIMESTAMP '1997-01-01'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_files,
           CAST(sum(CASE WHEN zmax >= TIMESTAMP '1997-01-01'
                    THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS rows_matched,
           CAST(sum(CASE WHEN zmax < TIMESTAMP '1997-01-01'
                    THEN n_match ELSE 0 END) AS BIGINT)
               AS rows_lost_to_skip,
           round(1.0 - sum(CASE WHEN zmax >= TIMESTAMP '1997-01-01'
                                THEN n_rows ELSE 0 END)
                     / CAST(sum(n_rows) AS DOUBLE), 6) AS skip_ratio
    FROM zones
    """,
)
def q_scan_zonemap_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping certificate — the min/max-statistics
    pruning contract behind every modern table format (parquet
    row-group stats, Delta/Iceberg file stats, ORC stripe indexes).
    Rows are binned into simulated files (l_orderkey % 64 — a
    deterministic stand-in for the physical file split so both
    engines agree on it), each file gets a (min, max) zone map on
    l_shipdate, and the predicate `l_shipdate >= 1997-01-01` skips
    every file whose max falls below the cutoff. The certificate is
    `rows_lost_to_skip`: matches inside skipped files, provably 0 by
    the zone-map invariant (max < cutoff ⇒ no row ≥ cutoff) — the
    engine doesn't assert skipping is safe, it MEASURES it, alongside
    the realized skip_ratio (the fraction of bytes a stats-aware scan
    never reads).

    Scale: at 100 TB this is the difference between scanning 100 TB
    and scanning the ~20% of files a time-range predicate touches —
    the certificate pattern generalizes to any clustered column
    (see q_maintenance_zorder, which MAKES columns clustered so zone
    maps bite). One groupBy on the file key (map-side combinable to
    64 rows), then a single-row aggregate: two tiny shuffles, one
    scan, no window.
    """
    cutoff = F.lit("1997-01-01").cast("timestamp")
    zones = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy((F.col("l_orderkey") % 64).alias("file_id"))
        .agg(
            F.min("l_shipdate").alias("zmin"),
            F.max("l_shipdate").alias("zmax"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("l_shipdate") >= cutoff, 1).otherwise(0)
            ).alias("n_match"),
        )
    )
    skipped = F.col("zmax") < cutoff
    return zones.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(skipped, 1).otherwise(0)).alias("n_skipped_files"),
        F.sum(F.when(~skipped, F.col("n_rows")).otherwise(0)).alias(
            "rows_scanned"
        ),
        F.sum("n_match").alias("rows_matched"),
        F.sum(F.when(skipped, F.col("n_match")).otherwise(0)).alias(
            "rows_lost_to_skip"
        ),
        F.round(
            1.0
            - F.sum(F.when(~skipped, F.col("n_rows")).otherwise(0))
            / F.sum("n_rows").cast("double"),
            6,
        ).alias("skip_ratio"),
    )


BLOOM_M = 65536
BLOOM_K = 3


@register(
    "q_scan_bloom_skip",
    oracle=f"""
    WITH fk AS (
        SELECT DISTINCT l_orderkey % 64 AS file_id, l_partkey AS v
        FROM lineitem
    ),
    seeds AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS j),
    bits AS (
        SELECT DISTINCT file_id, j,
               CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                     || CAST(v AS VARCHAR)), 1, 8)) AS BIGINT)
               % {BLOOM_M} AS pos
        FROM fk, seeds
    ),
    probes AS (
        SELECT p_partkey AS v FROM part WHERE p_partkey % 101 = 0
    ),
    pairs AS (
        SELECT f.file_id, p.v
        FROM (SELECT DISTINCT file_id FROM fk) f CROSS JOIN probes p
    ),
    hits AS (
        SELECT pr.file_id, pr.v, count(*) AS k_hits
        FROM pairs pr
        JOIN seeds s ON true
        JOIN bits b
          ON b.file_id = pr.file_id AND b.j = s.j
         AND b.pos = CAST(('0x' || substr(md5(CAST(s.j AS VARCHAR)
                          || ':' || CAST(pr.v AS VARCHAR)), 1, 8))
                          AS BIGINT) % {BLOOM_M}
        GROUP BY 1, 2
    ),
    ev AS (
        SELECT pr.file_id, pr.v,
               CASE WHEN coalesce(h.k_hits, 0) = {BLOOM_K}
                    THEN 1 ELSE 0 END AS maybe,
               CASE WHEN fk2.v IS NOT NULL THEN 1 ELSE 0 END AS present
        FROM pairs pr
        LEFT JOIN hits h ON h.file_id = pr.file_id AND h.v = pr.v
        LEFT JOIN fk fk2 ON fk2.file_id = pr.file_id AND fk2.v = pr.v
    )
    SELECT count(*) AS n_pairs,
           CAST(sum(present) AS BIGINT) AS n_present,
           CAST(sum(maybe) AS BIGINT) AS n_maybe,
           CAST(sum(CASE WHEN present = 1 AND maybe = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives,
           CAST(sum(CASE WHEN present = 0 AND maybe = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           round(sum(CASE WHEN present = 0 AND maybe = 1
                          THEN 1 ELSE 0 END)
                 / CAST(nullif(count(*) - sum(present), 0) AS DOUBLE),
                 6) AS fp_rate,
           round(1.0 - sum(maybe)
                 / CAST(nullif(count(*), 0) AS DOUBLE), 6) AS skip_ratio
    FROM ev
    """,
)
def q_scan_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point-lookup file-skip certificate — the
    membership twin of `q_scan_zonemap_skip`: zone maps prune RANGE
    predicates on clustered columns, blooms prune EQUALITY lookups on
    UNclustered ones (parquet bloom filters, Delta/Iceberg bloom
    indexes), where min/max zones are useless because every file
    spans the whole key domain. Each simulated file (l_orderkey % 64)
    gets a BLOOM_K-hash, BLOOM_M-bit bloom over its distinct
    l_partkey set, built from the engine-portable md5 positions
    (first 32 md5 bits of 'seed:value' mod m) so DuckDB reproduces
    every bit. A probe panel (part keys ≡ 0 mod 101 — present and
    absent values both represented) is tested against every file's
    bloom; `maybe` = all k positions set. Two measured guarantees:
    `n_false_negatives` is provably 0 (a present value set its own
    bits — the bloom contract; pytest-pinned), and `fp_rate` is the
    realized false-positive rate the m/n sizing promised, alongside
    `skip_ratio` — the fraction of (probe, file) reads an index-aware
    scan never performs.

    Scale: the bloom build is one distinct + groupBy collapsing each
    file to <= m set-bit rows (mergeable by union, exactly how
    parquet writers build row-group blooms); probes x files is a
    broadcast of a deliberately bounded panel, never a fact-fact
    join. At 100 TB the measured fp_rate IS the extra-IO budget a
    point-lookup pays, and saturation (fill -> 1, skip_ratio -> 0)
    is detected by this same certificate rather than silently eaten.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # fk feeds THREE consumers (bloom bits, the file list, the
    # presence probe) — truncate the scan+distinct once (round-13
    # optimization pass; lazy localCheckpoint, materialized by the
    # first consumer's job).
    fk = li.select(
        (F.col("l_orderkey") % 64).alias("file_id"),
        F.col("l_partkey").alias("v"),
    ).distinct().localCheckpoint(eager=False)

    def pos(j: F.Column, v: F.Column) -> F.Column:
        return (
            md5_int(
                F.concat(j.cast("string"), F.lit(":"), v.cast("string")), 1, 8
            ).cast("bigint")
            % BLOOM_M
        )

    seeds = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    bits = (
        fk.select("file_id", "v", F.explode(seeds).alias("j"))
        .select(
            "file_id", "j", pos(F.col("j"), F.col("v")).alias("pos")
        )
        .distinct()
    )
    probes = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 101 == 0)
        .select(F.col("p_partkey").alias("v"))
    )
    pairs = (
        fk.select("file_id")
        .distinct()
        .crossJoin(F.broadcast(probes))
    )
    probe_bits = pairs.select(
        "file_id", "v", F.explode(seeds).alias("j")
    ).select("file_id", "v", "j", pos(F.col("j"), F.col("v")).alias("pos"))
    hits = (
        bits.join(F.broadcast(probe_bits), ["file_id", "j", "pos"])
        .groupBy("file_id", "v")
        .agg(F.count(F.lit(1)).alias("k_hits"))
    )
    # Presence of (file_id, v) in fk, restricted to panel values
    # FIRST: the semi-join against the broadcast panel is map-side
    # over fk and its output is bounded by files × panel — so the
    # presence attach below broadcasts too. Previously this was
    # `pairs LEFT JOIN fk` directly, which sort-merge-shuffled the
    # fact-sized fk against a 6k-row panel (round-14; guide §3.1 —
    # the plan's only SortMergeJoin pair, 2 Exchanges, removed).
    present = fk.join(F.broadcast(probes), "v", "left_semi").select(
        "file_id", "v", F.lit(1).alias("present0")
    )
    # hits is bounded by files × panel as well — broadcast both
    # attach joins so the certificate aggregation is shuffle-free
    # after the bloom build.
    ev = (
        pairs.join(F.broadcast(hits), ["file_id", "v"], "left")
        .join(F.broadcast(present), ["file_id", "v"], "left")
        .select(
            F.when(
                F.coalesce(F.col("k_hits"), F.lit(0)) == BLOOM_K, 1
            )
            .otherwise(0)
            .alias("maybe"),
            F.when(F.col("present0").isNotNull(), 1)
            .otherwise(0)
            .alias("present"),
        )
    )
    n_pairs = F.count(F.lit(1))
    n_present = F.sum("present")
    n_maybe = F.sum("maybe")
    fp = F.sum(
        F.when((F.col("present") == 0) & (F.col("maybe") == 1), 1).otherwise(0)
    )
    fn = F.sum(
        F.when((F.col("present") == 1) & (F.col("maybe") == 0), 1).otherwise(0)
    )
    return ev.agg(
        n_pairs.alias("n_pairs"),
        n_present.alias("n_present"),
        n_maybe.alias("n_maybe"),
        fn.alias("n_false_negatives"),
        fp.alias("n_false_positives"),
        F.round(
            fp / F.nullif(n_pairs - n_present, F.lit(0)).cast("double"), 6
        ).alias("fp_rate"),
        F.round(
            1.0 - n_maybe / F.nullif(n_pairs, F.lit(0)).cast("double"), 6
        ).alias("skip_ratio"),
    )
