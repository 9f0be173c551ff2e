"""Join operators (§2B: q_join_*).

Scale notes baked into each plan:
- Dimension tables (nation 25 rows, region 5) are broadcast — no
  shuffle of the fact side, ever, at any scale.
- The theta/range self-join carries an equi predicate (user_id) so it
  plans as a shuffled equi-join with a residual range filter, NOT a
  broadcast-nested-loop over the cross product.
- The as-of join is expressed as equi-join + max(struct) — an
  order-statistics aggregation that map-side combines, instead of a
  per-row sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import cents_sum


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-mitigated equi join: replicate the (small) dim once per
    salt, spread each fact row across salts by a deterministic hash of
    its whole row, and join on (key, salt) — a hot key's rows now land
    on n_salts reducers instead of one. Complements AQE's runtime
    skew-join splitting when skew is known ahead of time (AQE only
    splits sort-merge partitions; salting also works for hash joins
    and aggregations). Result is row-identical to the plain join.
    """
    salt = F.pmod(F.xxhash64(F.struct(*fact.columns)), F.lit(n_salts))
    salted_fact = fact.withColumn("_salt", salt)
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = salted_fact.join(
        replicated_dim,
        (F.col(fact_key) == F.col(dim_key))
        & (salted_fact["_salt"] == replicated_dim["_salt"]),
        "inner",
    )
    return joined.drop("_salt")


@register(
    "q_join_inner_hash",
    oracle="""
    SELECT c_custkey, c_name, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return customer.join(
        F.broadcast(nation),
        customer.c_nationkey == nation.n_nationkey,
        "inner",
    ).select("c_custkey", "c_name", "n_name")


@register(
    "q_join_multiway",
    oracle="""
    SELECT r_name, count(*) AS n_customers,
           round(CAST(sum(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 4) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: both dims broadcast, single pass over the fact."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            cents_sum("c_acctbal").alias("sum_acctbal"),
        )
    )


@register(
    "q_join_left",
    oracle="""
    SELECT n_name, count(c_custkey) AS n_customers
    FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    return (
        nation.join(customer, nation.n_nationkey == customer.c_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "q_join_full",
    oracle="""
    SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
           coalesce(c.n_cust, 0) AS n_cust,
           coalesce(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey, count(*) AS n_cust
          FROM customer GROUP BY c_nationkey) c
    FULL OUTER JOIN
         (SELECT s_nationkey, count(*) AS n_supp
          FROM supplier GROUP BY s_nationkey) s
    ON c.c_nationkey = s.s_nationkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        F.coalesce(c.c_nationkey, s.s_nationkey).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no URGENT order. The filtered
    right side keeps the result (and the removed matches) non-empty
    at every corpus SF — the unfiltered customers-without-orders form
    is empty on the dense synthetic corpus, a trivially-passing gate.
    """
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "q_join_theta_range",
    oracle="""
    SELECT a.event_id AS event_id, count(*) AS n_within_hour
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '1 hour'
    GROUP BY a.event_id
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band self-join: for each event, how many same-user events follow
    within one hour. The user_id equi-key keeps this a hash join with
    a residual band predicate (never a cross product).
    """
    events = load_table(spark, sf_dir, "events")
    a = events.alias("a")
    b = events.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        a.join(b, cond, "inner")
        .groupBy(F.col("a.event_id").alias("event_id"))
        .agg(F.count(F.lit(1)).alias("n_within_hour"))
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT p.event_id AS event_id,
           (SELECT v.value FROM events v
            WHERE v.event_type = 'view'
              AND v.user_id = p.user_id
              AND v.ts <= p.ts
            ORDER BY v.ts DESC, v.event_id DESC
            LIMIT 1) AS last_view_value
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks the latest view at-or-before it
    (same user). Expressed as equi-join + max(struct(ts, id, value)) —
    the struct max is a partial-aggregable order statistic, so the
    'latest row' resolves map-side instead of via a per-group sort.
    Ties on ts resolve to the larger event_id, matching the oracle's
    ORDER BY ts DESC, event_id DESC.
    """
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_event_id"),
        F.col("value").alias("v_value"),
    )
    joined = p.join(
        v,
        (p.user_id == v.v_user_id) & (v.v_ts <= p.ts),
        "left",
    )
    best = F.max(F.struct("v_ts", "v_event_id", "v_value")).alias("best")
    return (
        joined.groupBy("event_id")
        .agg(best)
        .select("event_id", F.col("best.v_value").alias("last_view_value"))
    )


@register(
    "q_join_range_bucketed",
    oracle="""
    SELECT a.event_id AS event_id, count(*) AS n_close
    FROM events a JOIN events b
      ON b.event_id <> a.event_id
     AND b.ts >= a.ts - INTERVAL 1 SECOND
     AND b.ts <= a.ts + INTERVAL 1 SECOND
    GROUP BY a.event_id
    """,
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join WITHOUT an equi key (neighbors within ±1 s across the
    whole stream). A naive theta join is a BroadcastNestedLoop —
    O(n²) and a non-starter at 100 TB. The scalable form: quantize ts
    into band-width buckets, explode each left row to its bucket ± 1,
    equi-join on the bucket (hash shuffle, partition-parallel), then
    apply the exact band predicate as a residual filter. Each pair
    matches exactly once because the right side keeps its single true
    bucket. Cost: O(n · bucket_occupancy) instead of O(n²).
    """
    events = load_table(spark, sf_dir, "events")
    sec = (F.unix_timestamp("ts")).alias("bucket")
    a = events.select("event_id", "ts", sec).withColumn(
        "jb", F.explode(F.array(F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1))
    )
    b = events.select(
        F.col("event_id").alias("b_event_id"),
        F.col("ts").alias("b_ts"),
        sec,
    ).withColumnRenamed("bucket", "b_bucket")
    band = (
        (F.col("b_event_id") != F.col("event_id"))
        & (F.col("b_ts") >= F.col("ts") - F.expr("INTERVAL 1 SECOND"))
        & (F.col("b_ts") <= F.col("ts") + F.expr("INTERVAL 1 SECOND"))
    )
    return (
        a.join(b, (F.col("jb") == F.col("b_bucket")) & band)
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_close"))
    )


@register(
    "q_join_salted",
    oracle="""
    SELECT n_name, count(*) AS n_customers,
           round(CAST(sum(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 4) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew join as a driver-checked query: result must be
    row-identical to the plain equi join (which is exactly what the
    oracle states). Salting spreads each hot key over n_salts
    reducers — the ahead-of-time complement to AQE skew splitting,
    and the only remedy that also applies to broadcast-ineligible
    hash joins and aggregations.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    joined = salted_join(customer, nation, "c_nationkey", "n_nationkey")
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        cents_sum("c_acctbal").alias("total_bal"),
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH a AS (SELECT nullif(user_id % 5, 0) AS k, count(*) AS n_events
               FROM events GROUP BY 1),
    b AS (SELECT nullif(l_suppkey % 5, 0) AS k, count(*) AS n_lines
          FROM lineitem GROUP BY 1)
    SELECT a.k AS k, n_events, n_lines
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> ≙ IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics CDC and
    late-arriving-dimension joins need. Still plans as a hash join
    (the null bucket is just another key), not a BNLJ; both sides
    pre-aggregate so the join is O(distinct keys).
    """
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    a = ev.groupBy(
        F.nullif(F.col("user_id") % 5, F.lit(0)).alias("k")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    b = li.groupBy(
        F.nullif(F.col("l_suppkey") % 5, F.lit(0)).alias("kb")
    ).agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        a.join(b, a.k.eqNullSafe(b.kb))
        .select("k", "n_events", "n_lines")
    )


_BLOOM_CONF = {
    # InjectRuntimeFilter bails on joins it considers broadcast-able
    # BY SIZE (it reads autoBroadcastJoinThreshold directly and
    # ignores strategy hints), so the threshold must be off while the
    # plan is optimized+materialized below — at real fact⋈dim scale
    # neither side fits the default threshold and this conf is moot.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # Default 10GB gate is sized for real clusters; at test scale the
    # fact side is far smaller, so open the gate to demonstrate the
    # mechanism.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
}

# Supersession handle for the last q_join_bloom_runtime result —
# unpersisted on the next call so repeated bench runs don't
# accumulate cache entries. This is hygiene only: every call
# RECOMPUTES from parquet (round-13 removed the serve-from-pin memo
# that returned the previous call's pinned result for a repeated
# sf_dir — a module-level memo of a query RESULT, which the
# optimization-round rules prohibit).
from ..util import LastHandle  # noqa: E402

_LAST_BLOOM_OUT = LastHandle()


@register(
    "q_join_bloom_runtime",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
                                     * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def q_join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter pruned shuffle join: the selective dim
    filter (urgent orders) is aggregated into a bloom filter
    (`bloom_filter_agg`) that Catalyst injects as a semi-join
    predicate on the FACT side scan — probe rows that cannot match
    are dropped before the shuffle, the dominant cost of a fact⋈dim
    shuffle join at 100 TB when the dim is too big to broadcast.
    The injected `might_contain(...)` filter is pinned by
    `tests/test_operators.py::test_runtime_bloom_filter_plan`.

    Every call recomputes from the parquet inputs. The within-call
    persist+count exists only to freeze the bloom-conf'd physical
    plan: the injection is an optimizer rule gated on session confs
    that the finally-block restores, so the materialization must
    happen while the confs are set.
    """
    prev = {k: spark.conf.get(k, None) for k in _BLOOM_CONF}
    for k, v in _BLOOM_CONF.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        # MERGE hint forces the shuffle join in the logical plan
        # (runtime filters never apply to broadcast joins — a BHJ
        # already prunes probe rows at the join), so the strategy
        # survives any replanning without touching
        # autoBroadcastJoinThreshold.
        out = (
            li.join(
                orders.hint("merge"), li.l_orderkey == orders.o_orderkey
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                cents_sum("l_extendedprice", 2).alias("sum_price"),
            )
        )
        # The bloom injection itself is an optimizer rule gated on the
        # session conf at execution time, and the caller executes
        # AFTER the finally-block restores it — so materialize the
        # 1-row result into the cache now, under the conf. Later
        # actions read the cache; the supersession handle releases the
        # previous call's entry (no accumulation across bench runs).
        _LAST_BLOOM_OUT.persist(out)
        out.count()
        return out
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@register(
    "q_join_interval_overlap",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                         OR ts > lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                              + INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, session_id,
               min(ts) AS s_start, max(ts) AS s_end
        FROM (
            SELECT user_id, ts,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS session_id
            FROM ordered
        )
        GROUP BY user_id, session_id
    ),
    inc AS (
        SELECT CAST(floor(epoch(ts) / 600) AS BIGINT) AS iw,
               min(ts) AS i_start, max(ts) AS i_end,
               CAST(count(*) AS BIGINT) AS n_errors
        FROM events WHERE event_type = 'error'
        GROUP BY 1
    )
    SELECT i.i_start, i.n_errors,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM inc i JOIN sess s
      ON s.s_start <= i.i_end AND i.i_start <= s.s_end
    GROUP BY i.i_start, i.n_errors
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL × INTERVAL overlap join — how many user activity
    sessions overlap each error incident (errors grouped into 10-min
    windows). Distinct from the point-in-band shapes
    (q_join_range_bucketed, q_join_theta_range): BOTH sides are
    intervals, so both sides explode to the 1-hour buckets they span
    and meet on a bucket equi-join; because two intervals can share
    several buckets, each pair is counted in exactly ONE canonical
    bucket — max(start-bucket of either side), the first bucket where
    both are live — so no distinct/dedup shuffle is ever needed (the
    standard interval-join trick). The exact overlap predicate
    (s_start <= i_end AND i_start <= s_end) runs as a residual
    filter on the bucket-matched candidates.

    Scale: fan-out per row = intervals' span / bucket width (sessions
    are gap-bounded, incidents <= 10 min), so candidate volume is
    O(n · occupancy), never O(n²); the join is a plain hash shuffle
    on the bucket key. Both inputs are aggregates of one
    user-partitioned window pass / one map-side reduce.
    """
    from .analytics import sessionize

    events = load_table(spark, sf_dir, "events")
    sess = (
        sessionize(events)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    inc = (
        events.filter(F.col("event_type") == "error")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 600).alias("iw")
        )
        .agg(
            F.min("ts").alias("i_start"),
            F.max("ts").alias("i_end"),
            F.count(F.lit(1)).cast("long").alias("n_errors"),
        )
    )
    hb = 3600
    sb = F.floor(F.unix_timestamp("s_start") / hb)
    ib = F.floor(F.unix_timestamp("i_start") / hb)
    s_x = sess.select(
        "s_start",
        "s_end",
        sb.alias("s_b0"),
        F.explode(
            F.sequence(sb, F.floor(F.unix_timestamp("s_end") / hb))
        ).alias("b"),
    )
    i_x = inc.select(
        "i_start",
        "i_end",
        "n_errors",
        ib.alias("i_b0"),
        F.explode(
            F.sequence(ib, F.floor(F.unix_timestamp("i_end") / hb))
        ).alias("b"),
    )
    pairs = s_x.join(i_x, "b").where(
        (F.col("b") == F.greatest("s_b0", "i_b0"))
        & (F.col("s_start") <= F.col("i_end"))
        & (F.col("i_start") <= F.col("s_end"))
    )
    return pairs.groupBy("i_start", "n_errors").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )


@register(
    "q_join_asof_nearest",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'view'
    ),
    cand AS (
        SELECT p.event_id,
               v.event_id AS v_event_id,
               abs(epoch_us(v.ts - p.ts)) AS abs_us,
               epoch_us(v.ts - p.ts) AS signed_us
        FROM p JOIN v
          ON v.user_id = p.user_id
         AND v.ts >= p.ts - INTERVAL '10 minutes'
         AND v.ts <= p.ts + INTERVAL '10 minutes'
    )
    SELECT event_id, v_event_id AS nearest_view_id,
           round(signed_us / 1000000.0, 6) AS lag_sec
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_id
                                     ORDER BY abs_us, v_event_id) AS rn
        FROM cand
    ) WHERE rn = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor-in-time join: each purchase pairs with the
    closest same-user view within ±10 minutes (signed lag reported)
    — the both-directions sibling of q_join_asof (backward-only) and
    the sensor-alignment primitive (pair each reading with the
    closest reference sample, tolerance-bounded).

    Scale: candidates come from a 10-min bucket equi-join (each
    purchase probes its bucket ±1 — bounded fan-out, the
    range_bucketed pattern), the tolerance predicate is the residual
    filter, and the argmin is `min(struct(abs_us, id, ...))` — a
    partial-aggregable order statistic resolving map-side, no
    per-group sort. Integer-microsecond arithmetic (unix_micros)
    keeps ties exact; tiebreak is the smaller view id, mirrored in
    the oracle's ORDER BY.
    """
    events = load_table(spark, sf_dir, "events")
    bucket = lambda c: F.floor(F.unix_timestamp(c) / 600)  # noqa: E731
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withColumn(
            "jb",
            F.explode(
                F.array(
                    bucket("ts") - 1, bucket("ts"), bucket("ts") + 1
                )
            ),
        )
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        bucket("ts").alias("v_b"),
    )
    signed_us = F.unix_micros("v_ts") - F.unix_micros("ts")
    cand = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("jb") == F.col("v_b")),
    ).where(F.abs(signed_us) <= 600 * 1_000_000)
    best = F.min(
        F.struct(
            F.abs(signed_us).alias("abs_us"),
            F.col("v_event_id").alias("vid"),
            signed_us.alias("signed_us"),
        )
    ).alias("best")
    return (
        cand.groupBy("event_id")
        .agg(best)
        .select(
            "event_id",
            F.col("best.vid").alias("nearest_view_id"),
            F.round(F.col("best.signed_us") / 1000000.0, 6).alias(
                "lag_sec"
            ),
        )
    )


@register(
    "q_join_asof_tolerance",
    oracle="""
    SELECT p.event_id,
           max(struct_pack(ts := v.ts, eid := v.event_id,
                           val := v.value)).val AS last_view_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY p.event_id
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE: each purchase picks
    the latest view at-or-before it, but only within the last hour —
    older context is rejected as stale and the purchase attributes
    to nothing (NULL), the pandas merge_asof(tolerance=...) /
    kdb wj-window semantic that plain q_join_asof lacks. For
    feature generation this is the correctness knob: a
    point-in-time feature older than its freshness SLA is a silent
    training-serving skew bug, not a match.

    Same scale shape as q_join_asof: equi-join on user_id with the
    [ts−1h, ts] band as residual filter, and the per-purchase
    'latest' resolved by a partial-aggregable max(struct) — no
    per-group sort, no window over the fact table.
    """
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_event_id"),
        F.col("value").alias("v_value"),
    )
    joined = p.join(
        v,
        (p.user_id == v.v_user_id)
        & (v.v_ts <= p.ts)
        & (v.v_ts >= p.ts - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    best = F.max(F.struct("v_ts", "v_event_id", "v_value")).alias("best")
    return (
        joined.groupBy("event_id")
        .agg(best)
        .select(
            "event_id", F.col("best.v_value").alias("last_view_value")
        )
    )


_HYBRID_HOT_MIN = 60  # fact rows above which a key counts as hot


@register(
    "q_join_skew_hybrid",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 4) AS total_value
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY c_mktsegment
    """,
)
def q_join_skew_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact⋈dim join via the HYBRID (differentiated
    re-plan) strategy: keys whose fact frequency exceeds
    {_HYBRID_HOT_MIN} rows are routed through a broadcast hash join
    (the hot dim slice is tiny by definition — at most
    |fact|/{_HYBRID_HOT_MIN} keys), while the cold long tail takes
    the normal shuffled join whose partitions are now skew-free.
    This is the alternative to q_join_salted when the dim side is
    too large to broadcast whole but the HOT SLICE of it is not —
    no key fan-out, no salt-factor tuning, and the hot rows never
    shuffle at all. The result is provably the plain join (the two
    key classes partition the fact), which is exactly what the
    oracle certifies.

    Scale: hot-key detection is one map-side-combinable count +
    filter, broadcast as a set; the fact splits by a broadcast
    semi/anti probe (no shuffle); only cold rows pay an Exchange.
    AQE's OptimizeSkewedJoin does this re-plan adaptively for sort-
    merge joins — this operator is the explicit form that also
    covers the broadcast-hot case AQE cannot choose (it will not
    switch join strategy per key group).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    # The hot-key table feeds THREE broadcast probes (fact semi,
    # fact anti, dim semi) — without truncation each probe re-runs
    # the full fact count+filter aggregation (guide §2.1). The frame
    # is tiny by construction (at most |fact|/{hot_min} keys), so the
    # checkpoint is bounded at any corpus size.
    hot_keys = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > _HYBRID_HOT_MIN)
        .select("user_id")
        .localCheckpoint(eager=False)
    )
    hot_fact = ev.join(F.broadcast(hot_keys), "user_id", "left_semi")
    cold_fact = ev.join(F.broadcast(hot_keys), "user_id", "left_anti")
    hot_dim = cust.join(F.broadcast(hot_keys), "user_id", "left_semi")
    hot = hot_fact.join(F.broadcast(hot_dim), "user_id")
    cold = cold_fact.join(cust, "user_id")
    return (
        hot.unionAll(cold)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            cents_sum("value").alias("total_value"),
        )
    )


@register(
    "q_join_asof_forward",
    oracle="""
    SELECT p.event_id AS event_id,
           (SELECT v.value FROM events v
            WHERE v.event_type = 'view'
              AND v.user_id = p.user_id
              AND v.ts >= p.ts
            ORDER BY v.ts ASC, v.event_id ASC
            LIMIT 1) AS next_view_value,
           (SELECT epoch_us(v.ts) FROM events v
            WHERE v.event_type = 'view'
              AND v.user_id = p.user_id
              AND v.ts >= p.ts
            ORDER BY v.ts ASC, v.event_id ASC
            LIMIT 1) - epoch_us(p.ts) AS us_to_next
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — `q_join_asof`'s mirror: each purchase
    picks the EARLIEST view at-or-after it (same user), the lookup
    shape of label attribution ('what did the user do next?'),
    re-engagement latency, and leakage-safe feature/label splits
    (features from the backward as-of, labels from the forward one).
    Same partial-aggregable order-statistic trick with min(struct):
    the 'earliest row' resolves map-side, no per-group sort; ties on
    ts resolve to the smaller event_id, matching the oracle's ORDER
    BY ts ASC, event_id ASC. The latency is kept in integer
    microseconds end-to-end (unix_micros <-> epoch_us, the only safe
    cross-engine timestamp pairing), so it is exact, not rounded.

    Scale: identical to the backward op — equi-join on user_id with
    the range predicate as a residual, then one map-side-combinable
    struct-min; never a window over the fact.
    """
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_event_id"),
        F.col("value").alias("v_value"),
    )
    joined = p.join(
        v,
        (p.user_id == v.v_user_id) & (v.v_ts >= p.ts),
        "left",
    )
    best = F.min(F.struct("v_ts", "v_event_id", "v_value")).alias(
        "best"
    )
    return (
        joined.groupBy("event_id", "ts")
        .agg(best)
        .select(
            "event_id",
            F.col("best.v_value").alias("next_view_value"),
            (
                F.unix_micros(F.col("best.v_ts"))
                - F.unix_micros(F.col("ts"))
            ).alias("us_to_next"),
        )
    )
