"""Data-quality operators: column profiling, expectation checks,
changelog (CDC) application.

A 100 TB training-data pipeline gates ingest on exactly these:
profile the batch, assert the contract, apply the upstream changelog
— all as single-pass declarative plans, never row-at-a-time
validators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import md5_int
from .aggregates import _cdf_distance
from .textops import _STOP_SQL, STOPWORDS, tokens

PROFILE_COLS = ("o_orderstatus", "o_custkey", "o_totalprice", "o_orderpriority")


@register(
    "q_dq_profile",
    oracle="""
    SELECT 'o_orderstatus' AS col_name,
           count(*) FILTER (WHERE o_orderstatus IS NULL) AS n_nulls,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           count(*) FILTER (WHERE o_custkey IS NULL),
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           count(*) FILTER (WHERE o_totalprice IS NULL),
           CAST(count(DISTINCT o_totalprice) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           count(*) FILTER (WHERE o_orderpriority IS NULL),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders
    """,
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null count + exact distinct per column) in
    ONE scan: all metrics computed in a single wide aggregate, then
    unpivoted to long form with stack(). The oracle's UNION ALL reads
    the table 4 times; the engine reads it once — at 100 TB that is
    the difference between one pass and four. (Exact distincts expand
    to one hash-agg each; the approx tier for very-high-cardinality
    columns is q_agg_approx_distinct.)
    """
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in PROFILE_COLS:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"nn_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_args}) "
        "AS (col_name, n_nulls, n_distinct)"
    )


@register(
    "q_dq_expectations",
    oracle="""
    SELECT 'pk_orders_unique' AS check_name,
           count(*) - CAST(count(DISTINCT o_orderkey) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'fk_lineitem_orders',
           count(*) FILTER (WHERE o.o_orderkey IS NULL)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'discount_in_range',
           count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
    FROM lineitem
    UNION ALL
    SELECT 'price_positive',
           count(*) FILTER (WHERE o_totalprice <= 0)
    FROM orders
    """,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract assertions as data: PK uniqueness, FK orphan count,
    range and sign checks — one row per expectation with its
    violation count, computed in TWO fact passes (the oracle's
    UNION-ALL formulation needs four): the scalar orders checks share
    one wide aggregate, and the lineitem range check rides the same
    scan as the FK probe (a LEFT JOIN + null-count, so it shares the
    plan family — and the broadcast — with ordinary dimension joins).
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    orders_checks = orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("price"),
    ).selectExpr(
        "stack(2, 'pk_orders_unique', pk, 'price_positive', price)"
        " AS (check_name, n_violations)"
    )

    li_checks = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("fk"),
            F.count(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                )
            ).alias("disc"),
        )
        .selectExpr(
            "stack(2, 'fk_lineitem_orders', fk, 'discount_in_range', disc)"
            " AS (check_name, n_violations)"
        )
    )

    return orders_checks.unionByName(li_checks)


@register(
    "q_cdc_apply",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, round(value, 4) AS last_value, ts AS last_ts
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog application (CDC upsert/delete → snapshot): keep the
    latest change per key — 'error' events act as deletes, anything
    else upserts. One WindowGroupLimit pass (partial top-1 per key
    before the shuffle), then the delete filter; the MERGE INTO
    pattern without a transactional table format. Generalizes
    q_dedup_keep_latest (reference has no state recovery at all —
    SURVEY.md §2A negative space).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.round("value", 4).alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


@register(
    "q_table_diff",
    oracle="""
    WITH v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 0 THEN text || ' v2' ELSE text END
                   AS text
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, 'new doc' AS text
        FROM documents WHERE doc_id % 53 = 0
    ),
    j AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               md5(a.text) AS h_a, md5(b.text) AS h_b
        FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT count(*) FILTER (WHERE id_a IS NULL) AS n_added,
           count(*) FILTER (WHERE id_b IS NULL) AS n_deleted,
           count(*) FILTER (WHERE id_a IS NOT NULL AND id_b IS NOT NULL
                            AND h_a <> h_b) AS n_changed,
           count(*) FILTER (WHERE h_a = h_b) AS n_unchanged
    FROM j
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (table diff): added/deleted/changed/
    unchanged counts between two versions of a table. The v2 side is
    a deterministic simulation (drop doc_id%97, edit doc_id%31, add
    shifted ids for doc_id%53) so the diff itself is the operator
    under test.

    100 TB shape: each side collapses to (key, content_hash) BEFORE
    the full outer join — the payload column never crosses the
    shuffle, only 16-byte digests — and the classifier aggregate is
    partial-combinable, so the whole diff is one thin-key shuffle
    regardless of row width. This is the anti-entropy audit run after
    any backfill/migration (does the rewritten table equal the old
    one, and where not, how much).
    """
    docs = load_table(spark, sf_dir, "documents")
    v2 = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 31 == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 53 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.lit("new doc").alias("text"),
            )
        )
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"), F.md5("text").alias("h_a")
    )
    b = v2.select(
        F.col("doc_id").alias("id_b"), F.md5("text").alias("h_b")
    )
    j = a.join(b, a.id_a == b.id_b, "full_outer")
    return j.agg(
        F.count(F.when(F.col("id_a").isNull(), 1)).alias("n_added"),
        F.count(F.when(F.col("id_b").isNull(), 1)).alias("n_deleted"),
        F.count(
            F.when(
                F.col("id_a").isNotNull()
                & F.col("id_b").isNotNull()
                & (F.col("h_a") != F.col("h_b")),
                1,
            )
        ).alias("n_changed"),
        F.count(F.when(F.col("h_a") == F.col("h_b"), 1)).alias(
            "n_unchanged"
        ),
    )


@register(
    "q_anomaly_zscore",
    oracle="""
    WITH daily AS (
        SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS day,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               avg(n) OVER w AS mu,
               stddev_samp(n) OVER w AS sigma,
               day, n
        FROM daily
        WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_type, day, n,
           round((n - mu) / sigma, 6) AS z
    FROM stats
    WHERE sigma > 0 AND abs((n - mu) / sigma) > 2
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: daily event counts per type, z-scored
    against that type's own day distribution, rows beyond 2 sigma
    flagged — the ingest-monitoring primitive that catches a producer
    outage or a crawler loop before it poisons a training snapshot.
    Two thin aggregations: the day grid is O(types x days) rows, so
    the stats window costs nothing after the first groupBy collapses
    the event stream map-side.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "day",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
    )
    return stats.filter(
        (F.col("sigma") > 0)
        & (F.abs((F.col("n") - F.col("mu")) / F.col("sigma")) > 2)
    ).select(
        "event_type",
        "day",
        "n",
        F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
    )


@register(
    "q_dq_kanonymity",
    oracle="""
    WITH classes AS (
        SELECT lang, source, count(*) AS class_size
        FROM documents GROUP BY lang, source
    )
    SELECT count(*) AS n_classes,
           count(*) FILTER (WHERE class_size < 5) AS n_below_k,
           CAST(coalesce(sum(class_size) FILTER (WHERE class_size < 5), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(min(class_size) AS BIGINT) AS min_class_size
    FROM classes
    """,
)
def q_dq_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (lang, source): equivalence-class sizes, the number of classes
    (and rows) below k=5, and the smallest class — the re-
    identification risk report a governed corpus release runs before
    publishing. Rows in sub-k classes are the suppression/
    generalization candidates.

    Scale: one partial-aggregable groupBy on the quasi-identifier
    tuple (shuffle O(classes)), then a second aggregate over the
    O(classes) result — the fact table is scanned once and never
    re-shuffled. Generalizing to wider quasi-identifier sets only
    widens the first groupBy key.
    """
    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    below = F.col("class_size") < 5
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.count(F.when(below, 1)).alias("n_below_k"),
        F.coalesce(
            F.sum(F.when(below, F.col("class_size"))), F.lit(0)
        ).alias("n_rows_at_risk"),
        F.min("class_size").alias("min_class_size"),
    )


@register(
    "q_dq_referential",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS fk,
           (SELECT count(*) FROM lineitem) AS child_rows,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
               AS orphan_rows,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey))
               AS childless_parents
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey)),
           (SELECT count(*) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_nationkey = n.n_nationkey))
    """,
)
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's three FK
    edges: orphaned children (FK with no parent — broken ingest) and
    childless parents (coverage holes) per relationship. Each
    direction is one anti-join on the key — the parent side of every
    edge here is dimension-sized, so the probe broadcasts and the
    fact is scanned once per edge with only a count leaving the
    executors; at 100 TB the orders<->lineitem edge flips to a
    shuffled anti-join on the key, which is still O(rows) with
    map-side pre-aggregation of the distinct probe keys. The output
    is O(edges) rows — the gate a warehouse runs before trusting a
    snapshot for joins.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def edge(
        fk: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str
    ) -> DataFrame:
        child_rows = child.agg(F.count(F.lit(1)).alias("child_rows"))
        orphans = child.join(
            parent, child[ckey] == parent[pkey], "left_anti"
        ).agg(F.count(F.lit(1)).alias("orphan_rows"))
        childless = parent.join(
            child, parent[pkey] == child[ckey], "left_anti"
        ).agg(F.count(F.lit(1)).alias("childless_parents"))
        return (
            child_rows.crossJoin(F.broadcast(orphans))
            .crossJoin(F.broadcast(childless))
            .select(
                F.lit(fk).alias("fk"),
                "child_rows",
                "orphan_rows",
                "childless_parents",
            )
        )

    return (
        edge("lineitem.l_orderkey -> orders", li, "l_orderkey",
             orders.select("o_orderkey"), "o_orderkey")
        .unionByName(
            edge("orders.o_custkey -> customer",
                 orders.select("o_custkey"), "o_custkey",
                 cust.select("c_custkey"), "c_custkey"))
        .unionByName(
            edge("customer.c_nationkey -> nation",
                 cust.select("c_nationkey"), "c_nationkey",
                 nation, "n_nationkey"))
    )


# Shared by the batch audit (q_dq_drift) and the streaming monitor
# (s_dq_drift) — the replayed stream must converge to the same PSI.
_DRIFT_ORACLE = """
    WITH bounds AS (
        SELECT event_type,
               min(CAST(ts AS DATE)) AS d0,
               max(CAST(ts AS DATE)) AS d1,
               min(value) AS vmin, max(value) AS vmax
        FROM events GROUP BY event_type
    ),
    binned AS (
        SELECT e.event_type,
               CASE WHEN CAST(e.ts AS DATE) <= b.d0
                         + CAST(floor(date_diff('day', b.d0, b.d1) / 2)
                                AS INTEGER)
                    THEN 'early' ELSE 'late' END AS period,
               least(9, CAST(floor((e.value - b.vmin)
                             / (b.vmax - b.vmin) * 10) AS INTEGER)) AS bin
        FROM events e JOIN bounds b ON e.event_type = b.event_type
    ),
    counts AS (
        SELECT event_type, bin,
               count(*) FILTER (WHERE period = 'early') AS ne,
               count(*) FILTER (WHERE period = 'late') AS nl
        FROM binned GROUP BY event_type, bin
    ),
    tot AS (
        SELECT event_type, sum(ne) AS te, sum(nl) AS tl
        FROM counts GROUP BY event_type
    )
    SELECT c.event_type,
           round(sum(
               (CAST(c.ne + 1 AS DOUBLE) / (t.te + 10)
                - CAST(c.nl + 1 AS DOUBLE) / (t.tl + 10))
               * ln((CAST(c.ne + 1 AS DOUBLE) / (t.te + 10))
                    / (CAST(c.nl + 1 AS DOUBLE) / (t.tl + 10)))
           ), 6) AS psi,
           CAST(max(t.te) AS BIGINT) AS n_early,
           CAST(max(t.tl) AS BIGINT) AS n_late
    FROM counts c JOIN tot t ON c.event_type = t.event_type
    GROUP BY c.event_type
    """


@register(
    "q_dq_drift",
    oracle=_DRIFT_ORACLE,
)
def q_dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit (Population Stability Index): per
    event type, the PSI between the `value` distribution of the
    calendar first half and second half of the log, over 10
    equal-width bins with +1 Laplace smoothing — the train/serve
    skew alarm every production feature pipeline runs (PSI > 0.2 ≈
    investigate). Smoothing makes empty bins well-defined on both
    sides, so the statistic is total.

    Scale: two passes over the fact — one partial-aggregable bounds
    reduce (min/max per type, broadcast back), one map-side
    bin+period classification feeding a (type × 10-bin) aggregate.
    The PSI fold itself runs on ≤ types × 10 rows. No window, no
    sort, no raw-row shuffle beyond the tiny bin aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    return drift_psi(
        drift_classified(ev, drift_bounds(ev)).groupBy(
            "event_type", "period", "bin"
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )


def drift_bounds(ev: DataFrame) -> DataFrame:
    """Per-type reference profile for the PSI audit: calendar range
    and value range. In production this is FROZEN from a reference
    window; here it is derived from the same log (q_dq_drift) or
    reused as the static side of the streaming monitor (s_dq_drift).
    """
    return ev.groupBy("event_type").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


def drift_classified(ev: DataFrame, bounds: DataFrame) -> DataFrame:
    """Map-side period + equal-width-bin classification against a
    (broadcast) reference profile — works identically on a batch
    frame and on a stream (stream-static broadcast join)."""
    mid_off = F.floor(F.datediff("d1", "d0") / 2).cast("int")
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.when(
            F.to_date("ts") <= F.date_add(F.col("d0"), mid_off), "early"
        )
        .otherwise("late")
        .alias("period"),
        F.least(
            F.lit(9),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 10
            ).cast("int"),
        ).alias("bin"),
    )


def drift_psi(counts: DataFrame) -> DataFrame:
    """Fold (event_type, period, bin, cnt) counts into the smoothed
    PSI per type — shared by the batch audit and the streaming
    monitor, so both certify the same statistic."""
    wide = counts.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("period") == "early", F.col("cnt"))).alias("ne0"),
        F.sum(F.when(F.col("period") == "late", F.col("cnt"))).alias("nl0"),
    ).select(
        "event_type",
        "bin",
        F.coalesce("ne0", F.lit(0)).alias("ne"),
        F.coalesce("nl0", F.lit(0)).alias("nl"),
    )
    tot = wide.groupBy("event_type").agg(
        F.sum("ne").alias("te"), F.sum("nl").alias("tl")
    )
    pe = (F.col("ne") + 1).cast("double") / (F.col("te") + 10)
    pl = (F.col("nl") + 1).cast("double") / (F.col("tl") + 10)
    return (
        wide.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.sum((pe - pl) * F.log(pe / pl)), 6).alias("psi"),
            F.max("te").cast("long").alias("n_early"),
            F.max("tl").cast("long").alias("n_late"),
        )
    )


@register(
    "q_dq_skew",
    oracle="""
    WITH keys AS (
        SELECT l_suppkey AS k, count(*) AS n
        FROM lineitem GROUP BY l_suppkey
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(max(n) AS BIGINT) AS max_key_rows,
               quantile_cont(n, 0.5) AS p50,
               quantile_cont(n, 0.99) AS p99
        FROM keys
    )
    SELECT n_keys, n_rows, max_key_rows,
           round(CAST(max_key_rows AS DOUBLE) / n_rows, 6)
               AS top_key_share,
           round(CAST(p99 AS DOUBLE) / p50, 4) AS p99_over_p50
    FROM stats
    """,
)
def q_dq_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the number you read BEFORE choosing
    between a plain hash join, AQE skew splitting, and ahead-of-time
    salting (q_join_salted): per-key row counts of the fact's join
    key reduced to (top-key share, p99/p50 ratio). A top-key share
    near 1/reducers means one task drags the stage; p99/p50 >> 1
    means salting pays. Interpolated quantiles (Spark `percentile`
    = DuckDB quantile_cont) run over the KEY-COUNT table — O(keys)
    rows, so the percentile buffer holds key counts, never fact rows
    (the O(group)-memory caveat that bans the aggregate form on raw
    data does not apply here).

    Scale: one partial-aggregable key count (O(keys) rows out), then
    a scalar aggregate over it — the diagnostic never touches the
    fact twice. The same two-pass shape works on any key column; the
    operator is the template.
    """
    li = load_table(spark, sf_dir, "lineitem")
    keys = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = keys.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.expr("percentile(n, 0.5)").alias("p50_c"),
        F.expr("percentile(n, 0.99)").alias("p99_c"),
    )
    return stats.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("max_key_rows").cast("long").alias("max_key_rows"),
        F.round(
            F.col("max_key_rows").cast("double") / F.col("n_rows"), 6
        ).alias("top_key_share"),
        F.round(F.col("p99_c") / F.col("p50_c"), 4).alias("p99_over_p50"),
    )


@register(
    "q_dq_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                                  AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    obs AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / (SELECT sum(n) FROM obs), 6)
               AS obs_share,
           round(log10(1 + CAST(1 AS DOUBLE) / digit), 6) AS exp_share,
           round(CAST(n AS DOUBLE) / (SELECT sum(n) FROM obs)
                 - log10(1 + CAST(1 AS DOUBLE) / digit), 6) AS deviation
    FROM obs
    """,
)
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance check on order totals: distribution
    of the first significant digit vs the expected log10(1 + 1/d)
    curve — the classic fabricated-/corrupted-amounts detector for a
    monetary column (synthetic uniform-ish prices will deviate, real
    multiplicative totals won't; either way the per-digit deviation
    is the drift signal a DQ monitor alerts on).

    The leading digit is extracted from the INTEGER cent value's
    decimal string (leading digit is invariant under the *100
    shift), never from floor(log10(x)) — integer-to-string is
    bit-identical across engines while log10 near a power of ten is
    not. One map-side-combinable 9-group aggregate over the fact
    table; the total is a 1-row broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("t"))
    exp_share = F.log10(F.lit(1) + F.lit(1).cast("double") / F.col("digit"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("obs_share"),
        F.round(exp_share, 6).alias("exp_share"),
        F.round(
            F.col("n").cast("double") / F.col("t") - exp_share, 6
        ).alias("deviation"),
    )


@register(
    "q_dq_duplicate_charges",
    oracle="""
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.o_totalprice AS amount_a, b.o_totalprice AS amount_b,
           CAST(CAST(b.o_orderdate AS DATE)
                - CAST(a.o_orderdate AS DATE) AS BIGINT) AS gap_days
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(CAST(CAST(b.o_orderdate AS DATE)
                   - CAST(a.o_orderdate AS DATE) AS BIGINT)) <= 7
      AND abs(a.o_totalprice - b.o_totalprice)
          <= 0.02 * least(a.o_totalprice, b.o_totalprice)
    """,
)
def q_dq_duplicate_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspected duplicate-charge pairs: same customer, order totals
    within 2% of each other, order dates within 7 days — the
    double-billing / double-ingest detector every billing DQ suite
    runs (the 2% band catches retried charges with added fees or FX
    drift, which exact-amount equality misses entirely).

    Scale: the join is EQUI on custkey — candidate fan-out is the
    per-customer order count within the window (single digits for
    commerce data), never |orders|² — and the amount band plus
    ±7-day window are residual filters after the hash join. Both
    band comparisons are the identical IEEE expression in both
    engines, so no epsilon mismatch is possible.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.to_date("o_orderdate").alias("day"),
    )
    a = orders.alias("a")
    b = orders.alias("b")
    gap = F.datediff(F.col("b.day"), F.col("a.day"))
    band = F.abs(
        F.col("a.o_totalprice") - F.col("b.o_totalprice")
    ) <= F.lit(0.02) * F.least(
        F.col("a.o_totalprice"), F.col("b.o_totalprice")
    )
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter((F.abs(gap) <= 7) & band)
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_totalprice").alias("amount_a"),
            F.col("b.o_totalprice").alias("amount_b"),
            gap.cast("bigint").alias("gap_days"),
        )
    )


@register(
    "q_dq_freshness",
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
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness: how many whole hours each event type's
    latest event lags behind the newest event in the corpus — the
    stalled-producer detector (a type whose staleness grows batch
    over batch has a dead upstream, the exact condition
    s_threshold_alert monitors live). Deliberately measured against
    the corpus max, not wall-clock now(), so the metric is
    deterministic and replayable.

    Timestamp arithmetic stays in integer microseconds end to end
    (unix_micros ↔ epoch_us, the only certified cross-engine ts
    pairing) with ONE integer division to hours. One
    map-side-combinable max/count per type; the global max is a
    1-row broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    g = per_type.agg(F.max("last_us").alias("g"))
    return per_type.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        F.floor(
            (F.col("g") - F.col("last_us")) / F.lit(3600000000)
        ).cast("bigint").alias("staleness_hours"),
    )


@register(
    "q_dq_reconciliation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               round(sum(l_extendedprice), 2) AS line_total,
               count(*) AS n_lines
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT o.o_orderkey, o.o_totalprice, li.line_total,
               li.n_lines,
               CASE
                 WHEN li.l_orderkey IS NULL THEN 'no_lines'
                 WHEN abs(o.o_totalprice - li.line_total)
                      <= 0.01 * o.o_totalprice THEN 'ok'
                 ELSE 'mismatch'
               END AS status
        FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT status,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_amount,
           round(sum(coalesce(abs(o_totalprice - line_total), 0)), 2)
               AS total_abs_gap
    FROM j GROUP BY status
    """,
)
def q_dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE value reconciliation: does each order's header
    total agree with the sum of its line amounts (1% tolerance)?
    This is the financial-close audit that key-level referential
    checks (q_dq_referential) cannot see — keys can all resolve
    while the MONEY disagrees, which is how silent partial loads
    and double-applied CDC batches actually surface. Orders with no
    lines are their own class (header-only orphans), and the
    absolute gap is totaled per class so the blast radius is
    quantified, not just counted.

    Scale: one partial-aggregable rollup per order on the fact
    side, one key-partitioned join against headers, a 3-group
    closing aggregate. Both shuffles are keyed by order — no
    skew beyond natural order size.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("line_total"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
    gap = F.abs(F.col("o_totalprice") - F.col("line_total"))
    status = (
        F.when(F.col("l_orderkey").isNull(), "no_lines")
        .when(gap <= 0.01 * F.col("o_totalprice"), "ok")
        .otherwise("mismatch")
    )
    return (
        j.select("o_totalprice", gap.alias("gap"), status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_amount"),
            F.round(
                F.sum(F.coalesce(F.col("gap"), F.lit(0.0))), 2
            ).alias("total_abs_gap"),
        )
    )


@register(
    "q_dq_table_checksum",
    oracle="""
    WITH d AS (
        SELECT CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|'
                   || CAST(o_custkey AS VARCHAR) || '|'
                   || o_orderstatus || '|' || o_orderpriority), 1, 12))
                   AS BIGINT) AS h,
               CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|'
                   || CAST(o_custkey AS VARCHAR) || '|'
                   || o_orderstatus || '|' || o_orderpriority), 1, 8))
                   AS BIGINT) AS h32
        FROM orders
    )
    SELECT count(*) AS n_rows,
           CAST(sum(h32) AS BIGINT) AS digest_sum,
           CAST(sum(h) AS VARCHAR) AS digest_sum48,
           bit_xor(h) AS digest_xor,
           min(h) AS digest_min,
           max(h) AS digest_max
    FROM d
    """,
)
def q_dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content checksum — the one-pass
    migration/replication validator: to certify that two copies of a
    table (engine A vs engine B, pre- vs post-compaction, source vs
    replica region) hold IDENTICAL content without sorting or
    shuffling either side, fold a per-row 48-bit md5 digest of the
    key columns through four commutative aggregates (count, sum,
    xor, min/max). Any row inserted, dropped, or mutated moves at
    least one of them; sum and xor catch complementary tamper
    classes (xor misses duplicated pairs, sum misses balanced
    swaps). The digest uses the cross-engine md5 gate, so this very
    query IS the validator run here: Spark computes the fingerprint,
    DuckDB recomputes it from the same parquet, and the driver's
    hash-compare asserts they agree — checksum validation of a
    cross-engine 'migration' every round. Columns are restricted to
    integers and strings, whose textual rendering both engines share
    (float rendering differs; checksum floats via their IEEE bit
    pattern instead).

    Scale: fully map-side-combinable — each partition folds to 5
    numbers, the shuffle moves 5 numbers per partition, nothing
    sorts. The SUMMED digest is the 32-bit md5 prefix, not the
    48-bit one, precisely because of int64 headroom: a 48-bit sum
    exceeds 2^63 at ~32k rows, and the two engines then DIVERGE
    rather than agree-wrongly (Spark wraps mod 2^64, DuckDB promotes
    to HUGEINT — caught live by the round-7 sf0.1 differential,
    where the two values differed by exactly 2^64). The 32-bit sum
    is exact to ~2.1×10^9 rows GUARANTEED (2^63 / 2^32 worst case,
    every digest near 2^32) and ~4.3×10^9 expected (mean h32 ≈
    2^31); size shard folds to the guaranteed bound.
    digest_sum48 removes the bound entirely via 128-bit
    accumulation — Spark sums the full 48-bit digest as
    decimal(38,0), DuckDB's BIGINT sum promotes to HUGEINT, and
    both render the exact integer as a string (the representation
    the hash compare can't be fooled by): exact to ~3.6×10^23 rows,
    i.e. unbounded for any physical table. Keep digest_sum for
    engines without a 128-bit sum; beyond its bound, fold per-shard
    checksums
    (this query per partition/day) and compare the shard LIST —
    also the incremental-validation shape (only changed shards
    re-checksum). xor/min/max keep the full 48-bit digest: they
    cannot overflow.
    """
    o = load_table(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    h = md5_int(row, 1, 12).cast("bigint")
    h32 = md5_int(row, 1, 8).cast("bigint")
    return o.select(h.alias("h"), h32.alias("h32")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("h32").alias("digest_sum"),
        F.sum(F.col("h").cast("decimal(38,0)"))
        .cast("string")
        .alias("digest_sum48"),
        F.bit_xor("h").alias("digest_xor"),
        F.min("h").alias("digest_min"),
        F.max("h").alias("digest_max"),
    )


# Two-sample KS test: the asymptotic Kolmogorov series truncated at
# k=5 (term 5 is < 1e-40 at any lambda the rejection region cares
# about; both engines evaluate the same truncation on the same
# rounded lambda).
KS_A = "click"
KS_B = "purchase"
KS_SERIES_K = 5


@register(
    "q_dq_ks_test",
    oracle=f"""
    WITH v AS (
        SELECT CAST(value AS DOUBLE) AS x,
               CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END AS ia,
               CASE WHEN event_type = '{KS_B}' THEN 1 ELSE 0 END AS ib
        FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
    ),
    g AS (SELECT x, sum(ia) AS ca, sum(ib) AS cb FROM v GROUP BY x),
    n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
    cum AS (
        SELECT sum(ca) OVER (ORDER BY x) AS cum_a,
               sum(cb) OVER (ORDER BY x) AS cum_b
        FROM g
    ),
    d AS (
        SELECT round(max(abs(CAST(cum_a AS DOUBLE) / n.na
                             - CAST(cum_b AS DOUBLE) / n.nb)), 6) AS ks
        FROM cum, n
    ),
    lam AS (
        SELECT d.ks,
               round(d.ks * sqrt(CAST(n.na * n.nb AS DOUBLE)
                                 / (n.na + n.nb)), 6) AS lambda
        FROM d, n
    )
    SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
           lam.ks AS ks_stat, lam.lambda,
           round(least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
               {" + ".join(f"2.0 * {(-1) ** (k - 1)} * exp(-2.0 * {k * k} * lambda * lambda)" for k in range(1, KS_SERIES_K + 1))})), 6)
             AS p_value
    FROM lam, n
    """,
)
def q_dq_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test between two event
    types' value distributions — the distribution-shape drift gate
    that PSI (q_dq_drift) can't give a significance level for: PSI
    needs binning and a heuristic threshold; KS is binning-free,
    nonparametric, and comes with an asymptotic p-value, so the
    train/serve drift monitor can alarm at a chosen false-positive
    rate instead of a magic 0.2.

    Exactness without a global sort of the fact table: `value` sits
    on an exact 0.01 grid (pytest-pinned), so the two samples
    collapse to ONE map-side-combinable groupBy over distinct values
    — the supremum of |F_a − F_b| over all reals is attained at an
    observed value, so evaluating at grid points is the EXACT KS
    statistic, not an approximation. The CDF cumsum then runs over
    the bounded O(grid) collapsed table (the whitelisted
    vocab-rank window shape — at 100 TB this is still ≤ ~51k rows
    for any [0, 512) money-like column), and the statistic is a
    single max. D is a ratio of exact integer counts (bit-identical
    cross-engine); λ and the truncated Kolmogorov series are rounded
    at each stage so the exp() ulps can't flip the hash.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KS_A, KS_B)
    )
    g = ev.groupBy(F.col("value").cast("double").alias("x")).agg(
        F.sum(F.when(F.col("event_type") == KS_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_type") == KS_B, 1).otherwise(0)).alias("cb"),
    )
    n, d = _cdf_distance(g, "x")
    lam = d.crossJoin(F.broadcast(n)).select(
        "na",
        "nb",
        "ks",
        F.round(
            F.col("ks")
            * F.sqrt(
                (F.col("na") * F.col("nb")).cast("double")
                / (F.col("na") + F.col("nb"))
            ),
            6,
        ).alias("lambda"),
    )
    return lam.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("ks").alias("ks_stat"),
        "lambda",
        _ks_p_value(F.col("lambda")).alias("p_value"),
    )


def _ks_p_value(lmb):
    """Truncated Kolmogorov series, clamped to [0, 1]. The clamp is
    load-bearing, not cosmetic: for small lambda (similar
    distributions) the alternating terms stop cancelling and the
    5-term partial sum exceeds 1, tending to 2 as lambda -> 0 — an
    invalid probability. The oracle applies the identical
    least/greatest clamp so the hash can't diverge at the boundary.
    Pytest-pinned at lambda = 0.05 (test_ks_p_value_clamped)."""
    series = None
    for k in range(1, KS_SERIES_K + 1):
        term = (
            F.lit(2.0)
            * F.lit(float((-1) ** (k - 1)))
            * F.exp(F.lit(-2.0 * k * k) * lmb * lmb)
        )
        series = term if series is None else series + term
    return F.round(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), series)), 6
    )


@register(
    "q_dq_chi2",
    oracle="""
    WITH cells AS (
        SELECT source, lang, count(*) AS o
        FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT source, sum(o) AS r FROM cells GROUP BY 1),
    ct AS (SELECT lang, sum(o) AS c FROM cells GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM cells),
    terms AS (
        SELECT cells.source, cells.lang,
               CAST(cells.o * cells.o AS DOUBLE) * n.n / (rt.r * ct.c)
                   AS t
        FROM cells JOIN rt USING (source) JOIN ct USING (lang), n
    ),
    folded AS (
        SELECT list_aggregate(list(t ORDER BY source, lang), 'sum')
                   AS chi2_plus_n
        FROM terms
    )
    SELECT (SELECT count(*) FROM rt) AS n_rows,
           (SELECT count(*) FROM ct) AS n_cols,
           ((SELECT count(*) FROM rt) - 1)
               * ((SELECT count(*) FROM ct) - 1) AS dof,
           CAST(n.n AS BIGINT) AS n_docs,
           round(folded.chi2_plus_n - n.n, 4) AS chi2,
           round(sqrt((folded.chi2_plus_n - n.n)
                      / (n.n * (least((SELECT count(*) FROM rt),
                                      (SELECT count(*) FROM ct)) - 1))),
                 6) AS cramers_v
    FROM folded, n
    """,
)
def q_dq_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document source and
    language — the categorical counterpart to q_agg_anova (numeric
    across groups) and q_dq_ks_test (two continuous samples): a
    corpus where language depends on source needs per-source
    language mixing (q_text_domain_mix) before training, and
    Cramér's V gives the effect size a threshold can act on where
    raw χ² only grows with n.

    Determinism: χ² = Σ o²·n/(r·c) − n (the algebraic form — o, n,
    r, c are all exact integer counts, so each term is one double
    division of exact integers), and the cell-term sum is a
    FIXED-ORDER fold: both engines sort the O(sources×langs) terms
    by (source, lang) and sum left-to-right (Spark: aggregate over
    sort_array(collect_list); DuckDB: list_aggregate over an ORDER
    BY list), so no shuffle-merge order can perturb the hash — the
    same discipline as the md5 sketch suite's register folds.

    Scale: one map-side-combinable groupBy to O(cells) rows; margins
    are two tiny re-aggregations; the fold runs over the bounded
    cell list. The fact table is scanned once.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("o")
    )
    rt = cells.groupBy("source").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("lang").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    terms = (
        cells.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "lang",
            (
                (F.col("o") * F.col("o")).cast("double")
                * F.col("n")
                / (F.col("r") * F.col("c"))
            ).alias("t"),
        )
    )
    folded = terms.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("source", "lang", "t"))
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("chi2_plus_n")
    )
    # 1-row x 1-row; broadcast is a no-op for the plan but keeps the
    # crossJoin-implies-explicit-broadcast convention grep-auditable
    # (VERDICT r11 item 2).
    shape = rt.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(F.broadcast(
        ct.agg(F.count(F.lit(1)).alias("n_cols"))
    ))
    chi2 = F.col("chi2_plus_n") - F.col("n")
    return (
        shape.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(folded))
        .select(
            "n_rows",
            "n_cols",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
            F.col("n").alias("n_docs"),
            F.round(chi2, 4).alias("chi2"),
            F.round(
                F.sqrt(
                    chi2
                    / (
                        F.col("n")
                        * (F.least(F.col("n_rows"), F.col("n_cols")) - 1)
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# Gopher-style quality-rule thresholds, stated as INTEGER cross-
# multiplications so both engines compare exact int64s (a double
# ratio sitting exactly on a threshold grid point is the known
# cross-engine divergence class; integers cannot sit "almost" on one):
#   R1 too-short:        n_tokens < 20
#   R2 short-words:      sum_len / n_tokens < 4.2   <=> 10*sum_len < 42*n_tokens
#   R3 no-function-words: n_stop / n_tokens < 0.02  <=> 50*n_stop  < n_tokens
#   R4 repetitive:       max_cnt / n_tokens > 0.2   <=> 5*max_cnt  > n_tokens


def _gopher_flags() -> tuple[F.Column, F.Column, F.Column, F.Column]:
    """(f_len, f_wordlen, f_stop, f_rep): the four Gopher rule flags,
    1 when a document fails the rule, over its per-document integers
    n_tokens, sum_len, n_stop and max_cnt — the one rule set of
    q_dq_gopher_rules and s_quality_gate."""
    n = F.col("n_tokens")
    f_len = F.when(n < 20, 1).otherwise(0)
    f_wordlen = F.when(10 * F.col("sum_len") < 42 * n, 1).otherwise(0)
    f_stop = F.when(50 * F.col("n_stop") < n, 1).otherwise(0)
    f_rep = F.when(5 * F.col("max_cnt") > n, 1).otherwise(0)
    return f_len, f_wordlen, f_stop, f_rep


@register(
    "q_dq_gopher_rules",
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
               CASE WHEN 50 * n_stop < n_tokens THEN 1 ELSE 0 END AS f_stop,
               CASE WHEN 5 * max_cnt > n_tokens THEN 1 ELSE 0 END AS f_rep
        FROM per
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(f_len) AS BIGINT) AS n_fail_len,
           CAST(sum(f_wordlen) AS BIGINT) AS n_fail_word_len,
           CAST(sum(f_stop) AS BIGINT) AS n_fail_stopword,
           CAST(sum(f_rep) AS BIGINT) AS n_fail_repetition,
           CAST(sum(CASE WHEN f_len + f_wordlen + f_stop + f_rep = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           round(CAST(sum(CASE WHEN f_len + f_wordlen + f_stop + f_rep = 0
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS retention_rate
    FROM flags GROUP BY source
    """,
)
def q_dq_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality-rule matrix per source — the ingest
    gate an LLM corpus runs before anything else: per-document
    heuristics (too short, degenerate word lengths, no function
    words, single-term repetition) rolled up into a per-source
    rule-failure census plus the retention rate a mixture planner
    budgets against. Unlike `q_text_quality` (per-doc signals, the
    microscope), this is the fleet-level report card: which SOURCE
    is bleeding documents, and to which rule.

    Every rule is an integer cross-multiplication (see module
    comment above the registration) — no double ratio ever touches
    a threshold, so the Spark and DuckDB verdicts are exactly equal
    document-by-document, not just in aggregate.

    Scale: one explode of the token stream into a (doc, term)
    hash-aggregate (partial map-side combine), one per-doc
    aggregate, one per-source aggregate — three shuffles, each a
    strict reduction of the previous; nothing is held per-document
    beyond four int64s. At 100 TB the token explode dominates and
    is embarrassingly parallel; rule evaluation adds zero extra
    passes.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        tokens(docs, ["doc_id", "source"])
        .groupBy("doc_id", "source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stop = F.col("term").isin(*STOPWORDS)
    per = tf.groupBy("doc_id", "source").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("term")).alias("sum_len"),
        F.sum(F.when(stop, F.col("cnt")).otherwise(0)).alias("n_stop"),
        F.max("cnt").alias("max_cnt"),
    )
    names = ("f_len", "f_wordlen", "f_stop", "f_rep")
    flags = per.select(
        "source", *[f.alias(n) for f, n in zip(_gopher_flags(), names)]
    )
    all_pass = (
        F.col("f_len") + F.col("f_wordlen") + F.col("f_stop") + F.col("f_rep")
        == 0
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_len").alias("n_fail_len"),
        F.sum("f_wordlen").alias("n_fail_word_len"),
        F.sum("f_stop").alias("n_fail_stopword"),
        F.sum("f_rep").alias("n_fail_repetition"),
        F.sum(F.when(all_pass, 1).otherwise(0)).alias("n_pass"),
        F.round(
            F.sum(F.when(all_pass, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("retention_rate"),
    )
