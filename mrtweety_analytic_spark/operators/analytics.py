"""Second-wave analytics operators: percentiles, pivot/unpivot,
ranking distributions, subqueries, composite TPC-H-style queries,
ordered collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import LastHandle, cents, cents_sum, md5_unit, unit_sum

# Supersession holder for q_date_spine's persisted daily rollup.
_LAST_SPINE = LastHandle()


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (≙ DuckDB quantile_cont: linear
    interpolation on the sorted group), computed by DISTRIBUTED sort +
    rank interpolation rather than Spark's `percentile` aggregate.
    The aggregate form buffers every group value inside one
    aggregation buffer — O(group) executor memory, the thing that
    OOMs on a 100 TB fact table. Here each measure column gets one
    window sort (distributed, spillable), the two rank-neighbors of
    each target quantile are picked by row_number, and the
    interpolation is plain arithmetic in the final tiny aggregate —
    identical results (verified value-for-value against the aggregate
    form at sf 0.1), memory O(1) per row.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def exact_pcts(col: str, ps: list[tuple[float, str]]) -> DataFrame:
        ws = W.partitionBy("l_returnflag").orderBy(col)
        wn = W.partitionBy("l_returnflag")
        # quantile_cont ignores NULLs; drop them BEFORE ranking so
        # neither rn (NULLS FIRST would rank them lowest) nor n
        # (count(*) would include them) skews the interpolation on a
        # nullable measure column (ADVICE r05 item 1).
        ranked = li.where(F.col(col).isNotNull()).select(
            "l_returnflag",
            F.col(col).alias("v"),
            F.row_number().over(ws).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        aggs = []
        for p, nm in ps:
            # target rank h = 1 + (n-1)p; vlo/vhi are its floor/ceil
            # neighbors (per-row n is group-constant, so the WHEN
            # condition is stable); frac re-derives h from max(n).
            h = 1 + (F.col("n") - 1) * F.lit(p)
            lo = F.floor(h)
            vlo = F.max(F.when(F.col("rn") == lo, F.col("v")))
            vhi = F.max(F.when(F.col("rn") == lo + 1, F.col("v")))
            hh = 1 + (F.max("n") - 1) * F.lit(p)
            frac = hh - F.floor(hh)
            aggs.append(
                F.round(
                    vlo + frac * (F.coalesce(vhi, vlo) - vlo), 4
                ).alias(nm)
            )
        return ranked.groupBy("l_returnflag").agg(*aggs)

    qty = exact_pcts("l_quantity", [(0.5, "p50_qty"), (0.9, "p90_qty")])
    price = exact_pcts("l_extendedprice", [(0.5, "p50_price")])
    return qty.join(price, "l_returnflag")


@register("q_agg_approx_quantile")  # rows-only: sketch ≠ oracle exact
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile sketch — the 100 TB path (mergeable
    KLL-style sketch, no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx")
    )


@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0), 4)
               AS qty_O,
           round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0), 4)
               AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no discovery scan — at
    scale, enumerating pivot values avoids a full pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
    )
    return p.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 4).alias("qty_O"),
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 4).alias("qty_F"),
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT o_orderkey, metric, round(val, 4) AS val
    FROM (
        SELECT o_orderkey, 'total' AS metric, o_totalprice AS val FROM orders
        UNION ALL
        SELECT o_orderkey, 'half' AS metric, o_totalprice / 2 AS val FROM orders
    )
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack() — wide→long without a join."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.selectExpr(
        "o_orderkey",
        "stack(2, 'total', o_totalprice, 'half', o_totalprice / 2)"
        " AS (metric, val)",
    ).select("o_orderkey", "metric", F.round("val", 4).alias("val"))


@register(
    "q_win_ntile_dist",
    oracle="""
    SELECT c_custkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_win_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ranking-distribution functions (ntile / percent_rank /
    cume_dist) over the dimension-sized customer table. The
    partition-less window is the operator's SEMANTICS (total order)
    and is fine for any dimension that fits one partition; for a
    fact-scale total order the same quartiles come from
    percentile-threshold bucketing (two scans, no global sort) — the
    documented q_events_rfm scale note applies here identically.
    """
    customer = load_table(spark, sf_dir, "customer")
    w = W.orderBy(F.desc("c_acctbal"), "c_custkey")
    return customer.select(
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "q_ts_pattern_match",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, value,
               lead(value, 1) OVER w AS v1,
               lead(value, 2) OVER w AS v2,
               lead(value, 3) OVER w AS v3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    dists AS (
        SELECT user_id,
               (value - 10)*(value - 10) + (v1 - 20)*(v1 - 20)
             + (v2 - 30)*(v2 - 30) + (v3 - 40)*(v3 - 40) AS d2
        FROM seq WHERE v3 IS NOT NULL
    )
    SELECT user_id, round(min(d2), 4) AS best_dist2
    FROM dists GROUP BY user_id
    ORDER BY best_dist2, user_id
    LIMIT 10
    """,
)
def q_ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k time-series subsequence similarity: slide a length-4
    query pattern over each user's event-value series (lead() windows
    — no self-join, no explosion), per-offset squared euclidean
    distance, best offset per user, global top-10. The distributed
    sliding-distance pattern of the EDBT'19/'20 time-series similarity
    papers (PAPERS.md), expressed in pure window algebra.
    """
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pattern = [10.0, 20.0, 30.0, 40.0]
    seq = events.select(
        "user_id",
        "value",
        F.lead("value", 1).over(w).alias("v1"),
        F.lead("value", 2).over(w).alias("v2"),
        F.lead("value", 3).over(w).alias("v3"),
    ).filter(F.col("v3").isNotNull())
    cols = [F.col("value"), F.col("v1"), F.col("v2"), F.col("v3")]
    d2 = sum(
        ((c - q) * (c - q) for c, q in zip(cols, pattern)),
        F.lit(0.0),
    )
    return (
        seq.select("user_id", d2.alias("d2"))
        .groupBy("user_id")
        .agg(F.round(F.min("d2"), 4).alias("best_dist2"))
        .orderBy("best_dist2", "user_id")
        .limit(10)
    )


@register(
    "q_win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING
                                    AND CURRENT ROW) AS n_last_hour
    FROM events
    """,
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame: events per user in the
    trailing hour — frame bounds in event-time units, not row counts
    (rows with equal order values share a frame, unlike ROWS)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    )


@register(
    "q_agg_corr_stats",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS qty_price_cov,
           round(stddev_samp(l_extendedprice), 4) AS price_sd,
           round(var_samp(l_quantity), 4) AS qty_var
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics — single-pass, map-side combinable
    (Welford-style merge), the profile columns of a data-quality scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_cov"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
    )


@register(
    "q_fn_null_handling",
    oracle="""
    SELECT e.event_id,
           coalesce(c.c_name, 'unknown') AS cust_name,
           (c.c_custkey IS NOT NULL) AS has_customer,
           ifnull(c.c_acctbal, 0.0) AS acctbal_or_zero,
           nullif(e.event_type, 'error') AS type_or_null
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_fn_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-extension surface over an outer join: coalesce / is-null /
    ifnull / nullif semantics match ANSI exactly."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    j = events.join(
        customer, events.user_id == customer.c_custkey, "left"
    )
    return j.select(
        "event_id",
        F.coalesce("c_name", F.lit("unknown")).alias("cust_name"),
        F.col("c_custkey").isNotNull().alias("has_customer"),
        F.ifnull(F.col("c_acctbal"), F.lit(0.0)).alias("acctbal_or_zero"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT r_name, q.bucket
    FROM region
    CROSS JOIN (SELECT unnest(['low', 'mid', 'high']) AS bucket) q
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit small-dimension cross join (broadcast, never a
    shuffle; the only sanctioned cross-product shape)."""
    region = load_table(spark, sf_dir, "region")
    buckets = spark.createDataFrame(
        [("low",), ("mid",), ("high",)], "bucket string"
    )
    return region.crossJoin(F.broadcast(buckets)).select("r_name", "bucket")


@register(
    "q_set_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (UNION ALL) — no dedup shuffle at all."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s)


@register(
    "q_agg_collect",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, '|' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collect, canonicalized to a scalar: array_sort(collect_list)
    gives deterministic element order, array_join makes the result
    hashable by the driver's comparator (arrays are not)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias("nations")
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (Catalyst rewrites to left-semi join)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_sq")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM v_orders_sq
        WHERE o_custkey IN (
            SELECT c_custkey FROM v_customer_sq WHERE c_mktsegment = 'BUILDING'
        )
        """
    )


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (computed once, broadcast into the filter)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_ssq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM v_orders_ssq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM v_orders_ssq)
        """
    )


@register(
    "q_tpch_q3like",
    oracle="""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> agg ->
    top-10. Customer side broadcast after the segment filter."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q5like",
    oracle="""
    SELECT n_name,
           round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000, 4) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_tpch_q5like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join, all dims broadcast, single
    shuffle for the final group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            unit_sum(
                cents("l_extendedprice") * (100 - cents("l_discount")), 4
            ).alias("revenue")
        )
    )


@register(
    "q_sessionize_gaps",
    oracle="""
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM (
        SELECT user_id, ts,
               sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   coalesce(
                       ts > lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                            + INTERVAL 30 MINUTE,
                       TRUE) AS is_new
            FROM events
        )
    )
    GROUP BY user_id, session_id
    """,
)
def q_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks when
    the gap to the previous event exceeds 30 min; session_id is the
    running count of breaks. Two window passes over ONE hash
    partitioning by user_id (Catalyst reuses the exchange), then a
    partial-agg rollup — the scalable batch twin of session_window
    (s_session). Tiebreak event_id makes lag deterministic.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        sessionize(events)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Assign a per-user session_id (1-based) by inactivity gap —
    the reusable core of q_sessionize_gaps, also exercised directly
    by the unit test so semantics regressions are caught there.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = F.coalesce(
        F.col("ts") > F.lag("ts").over(w) + F.expr(f"INTERVAL {gap}"),
        F.lit(True),
    )
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return events.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum(F.col("is_new").cast("long")).over(run)
    )


@register(
    "q_events_funnel",
    oracle="""
    SELECT count(*) AS n_converted,
           round((1.0 * CAST(sum(epoch_us(first_purchase)
                                 - epoch_us(first_click)) AS BIGINT)
                  / count(*)) / 1e6, 2) AS avg_lag_sec
    FROM (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'click')
                   AS first_click,
               min(ts) FILTER (WHERE event_type = 'purchase')
                   AS first_purchase
        FROM events GROUP BY user_id
    )
    WHERE first_click IS NOT NULL
      AND first_purchase IS NOT NULL
      AND first_purchase > first_click
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel (click → later purchase) as ONE conditional
    aggregation pass — no self-join of the event log against itself,
    which is the difference between O(n) and O(n·k) at 100 TB.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = per_user.filter(
        F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") > F.col("first_click"))
    )
    # Integer-microsecond lag summed exactly (no double cast of an
    # epoch timestamp — ~2e-7 s representation error each — and no
    # order-dependent double summation); ONE double division at the
    # end is bit-identical to the oracle's.
    lag_us = F.unix_micros("first_purchase") - F.unix_micros("first_click")
    return converted.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(
            (F.sum(lag_us) * F.lit(1.0) / F.count(F.lit(1))) / F.lit(1e6), 2
        ).alias("avg_lag_sec"),
    )


@register(
    "q_tpch_q10like",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20.
    The returnflag filter pushes into the lineitem scan; customer and
    nation broadcast; the only fact-wide shuffle is the final agg,
    and orderBy+limit plans as TakeOrderedAndProject.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q18like",
    oracle="""
    SELECT c_custkey, o_orderkey,
           round(sum(l_quantity), 4) AS total_qty
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, o_orderkey
    HAVING sum(l_quantity) > 250
    ORDER BY total_qty DESC, o_orderkey
    """,
)
def q_tpch_q18like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): group-by + HAVING over
    the fact, dims broadcast. The HAVING is a post-aggregation filter
    — it runs on the (small) aggregate, never the fact.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "o_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
        .orderBy(F.desc("total_qty"), "o_orderkey")
    )


@register(
    "q_lateral_subquery",
    oracle="""
    SELECT n_name, top.c_custkey, top.c_acctbal
    FROM nation,
         LATERAL (SELECT c_custkey, c_acctbal FROM customer
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey
                  LIMIT 2) top
    """,
)
def q_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 customers per nation),
    through Spark's SQL parser. Catalyst decorrelates it into the
    same WindowGroupLimit shape as q_win_topk_per_group — proof that
    the SQL surface and the DataFrame surface meet in one optimizer.
    """
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_v"
    )
    return spark.sql(
        """
        SELECT n_name, top.c_custkey, top.c_acctbal
        FROM nation_v,
             LATERAL (SELECT c_custkey, c_acctbal FROM customer_v
                      WHERE c_nationkey = n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey
                      LIMIT 2) top
        """
    )


@register(
    "q_date_spine",
    oracle="""
    WITH b AS (SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS lo,
                      CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS hi
               FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
              FROM b),
    daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     count(*) AS n_events,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events GROUP BY 1)
    SELECT s.day AS day,
           coalesce(d.n_events, 0) AS n_events,
           coalesce(d.n_users, 0) AS n_users
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap fill: generate every day between the data's
    min and max (sequence+explode — no driver loop, no side table),
    left-join the daily rollup, zero-fill missing days. At 100 TB the
    daily agg output is O(days) and the spine join is a trivial
    broadcast; the only real shuffle is the rollup itself, which is
    map-side partial-aggregated. (Spine generalization of the
    reference's fixed windowing, SparkApplication.scala:88.)
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    # The O(days) rollup feeds both the spine bounds and the join;
    # the consumers prune it differently so Catalyst would rescan
    # events for each — persist the tiny intermediate instead
    # (one scan total).
    daily = ev.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    _LAST_SPINE.persist(daily)
    spine = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("n_users", F.lit(0)).alias("n_users"),
    )


@register(
    "q_events_retention",
    oracle="""
    WITH ev AS (SELECT user_id,
                       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
                FROM events),
    f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
    SELECT f.cohort_day AS cohort_day,
           CAST(date_diff('day', f.cohort_day, ev.day) AS INTEGER)
               AS day_offset,
           CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_active
    FROM ev JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: first-seen day per user, then
    distinct actives per (cohort, day-offset). Both aggregations and
    the join hash on user_id, so Catalyst reuses one exchange for the
    cohort agg and the join probe; the final (cohort, offset) agg is
    tiny (days x days). No window function, no self-join — scales as
    two passes over events.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "q_tpch_q7like",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000, 4) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): fact joins two different
    dimension paths to the SAME tiny table (nation, aliased twice)
    with a cross-pair disjunction. All four dims broadcast; the only
    shuffle is the final (nation-pair, year) aggregate, which is
    O(pairs x years). The nation filter cannot be pushed into either
    scan alone (it spans both paths), so it runs as a post-join
    residual — exactly where Catalyst puts it.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            unit_sum(
                cents("l_extendedprice") * (100 - cents("l_discount")), 4
            ).alias("revenue")
        )
    )


@register(
    "q_tpch_q14like",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4)
               AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q_tpch_q14like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue ratio): date-sliced fact,
    broadcast part join, conditional-vs-total aggregate ratio in one
    pass — the month predicate prunes at the parquet scan via
    row-group min/max on l_shipdate.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01")
        & (F.col("l_shipdate") < "1997-10-01")
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q_tpch_q19like",
    oracle="""
    SELECT round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000, 4) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q_tpch_q19like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive multi-column predicates spanning
    both join sides): Catalyst extracts the common sub-predicates it
    CAN push (p_brand IN (...), l_quantity <= 40) below the join and
    leaves the full disjunction as the join residual — predicate
    decomposition no hand-written filter ordering would beat.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#13") & s.between(10, 30) & q.between(10, 30))
        | ((b == "Brand#20") & s.between(20, 50) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            unit_sum(
                cents("l_extendedprice") * (100 - cents("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_tpch_q22like",
    oracle="""
    WITH avg_bal AS (SELECT avg(c_acctbal) AS ab FROM customer
                     WHERE c_acctbal > 0)
    SELECT c_nationkey,
           count(*) AS numcust,
           round(CAST(sum(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100
                                     + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100, 4) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (churn-risk variant): scalar aggregate
    subquery as a 1-row broadcast threshold + anti join for
    high-balance customers with no RECENT order. The anti join's
    build side is the date-filtered o_custkey projection (filter
    pushed to the orders scan, then broadcast); no shuffle touches
    the customer scan until the final tiny groupBy.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= "2001-01-01"
            ).select("o_custkey"),
            cust.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            cents_sum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "q_events_anomaly_zscore",
    oracle="""
    WITH daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                          event_type, count(*) AS n
                   FROM events GROUP BY 1, 2)
    SELECT day, event_type, n,
           round((n - avg(n) OVER w) / stddev_samp(n) OVER w, 4) + 0.0 AS zscore
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    """,
)
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly score: each day's event count against
    the mean/stddev of the PRECEDING 7 days (current row excluded —
    an anomaly must not suppress its own score). Two-level plan: the
    daily rollup collapses events to O(days x types) before the
    window, so the window state is trivially small at any scale; the
    first rows emit NULL (insufficient history), preserved as the
    honest cold-start semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    return daily.select(
        "day",
        "event_type",
        "n",
        F.round(
            (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w), 4
        ).alias("zscore"),
    )


@register(
    "q_events_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    c AS (SELECT cur, nxt, count(*) AS n FROM seq
          WHERE nxt IS NOT NULL GROUP BY 1, 2)
    SELECT cur, nxt, n,
           round(1.0 * n / sum(n) OVER (PARTITION BY cur), 6) AS p
    FROM c
    """,
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() pairs consecutive events (no self-join), counts
    collapse to O(types²) BEFORE the normalizing window, so the
    row-probability pass runs on a 25-row table no matter the corpus
    size. The sequence-model feature extraction a behavioral pipeline
    runs ahead of training.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wc = W.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / F.sum("n").over(wc), 6).alias("p"),
    )


@register(
    "q_tpch_q16like",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 10, 15, 20)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q16like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): NOT-IN
    exclusion subquery + distinct-count over a filtered star. The
    NOT IN runs as a left-anti hash join against the (broadcast,
    pre-filtered) supplier projection — s_suppkey is non-null here,
    so anti-join and NOT IN agree (with nullable keys NOT IN would
    need the three-valued-logic variant). Distinct suppliers
    partial-aggregate per (brand, type, size) group.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            li.l_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_win_pct_change",
    oracle="""
    WITH daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                          event_type, count(*) AS n
                   FROM events GROUP BY 1, 2)
    SELECT day, event_type, n,
           round(100.0 * (n - lag(n) OVER w) / lag(n) OVER w, 4) + 0.0
               AS pct_change
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def q_win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day percent change per series (lag + arithmetic on
    the daily rollup — window state O(days x types)); first day NULL
    by design. The oracle normalizes IEEE -0.0 (a -0.004% change
    rounds to negative zero in DuckDB, positive zero in Spark).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("day")
    prev = F.lag("n").over(w)
    return daily.select(
        "day",
        "event_type",
        "n",
        F.round(100.0 * (F.col("n") - prev) / prev, 4).alias("pct_change"),
    )


@register(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE h AS (
        SELECT n_nationkey, n_name, 0 AS depth
        FROM nation WHERE n_nationkey = 0
        UNION ALL
        SELECT c.n_nationkey, c.n_name, h.depth + 1
        FROM nation c JOIN h ON (c.n_nationkey - 1) // 5 = h.n_nationkey
        WHERE c.n_nationkey > 0
    )
    SELECT n_nationkey, n_name, depth FROM h
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) resolving a synthetic
    parent hierarchy over nation (parent(k) = (k-1) div 5): depth per
    node via iterated self-join — the SQL-parser surface for the same
    fixed-point iteration q_dedup_clusters hand-rolls in DataFrames.
    Each recursion step is one broadcast join over the frontier; depth
    here is bounded (≤ 2) and Spark enforces a recursion limit, so no
    unbounded plans at scale.
    """
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_rec_v"
    )
    return spark.sql(
        """
        WITH RECURSIVE h AS (
            SELECT n_nationkey, n_name, 0 AS depth
            FROM nation_rec_v WHERE n_nationkey = 0
            UNION ALL
            SELECT c.n_nationkey, c.n_name, h.depth + 1
            FROM nation_rec_v c
            JOIN h ON (c.n_nationkey - 1) DIV 5 = h.n_nationkey
            WHERE c.n_nationkey > 0
        )
        SELECT n_nationkey, n_name, depth FROM h
        """
    )


@register(
    "q_events_attribution",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, ts, event_id, event_type
        FROM events WHERE event_type IN ('click', 'view')
    ),
    attributed AS (
        SELECT p.event_id, p.value,
               (SELECT t.event_type FROM touches t
                WHERE t.user_id = p.user_id
                  AND t.ts <= p.ts
                  AND t.ts > p.ts - INTERVAL 3 DAY
                ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS touch_type
        FROM purchases p
    )
    SELECT coalesce(touch_type, 'direct') AS touch_type,
           count(*) AS n_purchases,
           round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 100, 4) AS revenue
    FROM attributed GROUP BY 1
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the most
    recent click/view by the same user within a 3-day lookback (ties
    broken by event_id); purchases with no touch in the window are
    'direct'. The marketing-analytics staple, built from the as-of
    primitive (q_join_asof) plus the attribution rollup.

    Scale shape: the touch side joins on the user_id EQUI key with
    the lookback band as residual, and the per-purchase argmax is the
    partial-aggregable max(struct(ts, id, type)) — no per-group sort,
    no window over the fact table. Output is O(touch types): the
    whole fact volume collapses in two partial-agg shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = ev.filter(
        F.col("event_type").isin("click", "view")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("t_type"),
    )
    joined = purchases.join(
        touches,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("ts"))
        & (F.col("t_ts") > F.col("ts") - F.expr("INTERVAL 3 DAYS")),
        "left",
    )
    last_touch = joined.groupBy("event_id").agg(
        F.max(F.struct("t_ts", "t_id", "t_type")).alias("b"),
        F.first("value").alias("value"),
    )
    return (
        last_touch.groupBy(
            F.coalesce(F.col("b.t_type"), F.lit("direct")).alias(
                "touch_type"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            cents_sum("value").alias("revenue"),
        )
    )


@register(
    "q_events_window_funnel",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    t1 AS (
        SELECT user_id, min(ts) AS ts1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
        SELECT e.user_id, min(e.ts) AS ts2
        FROM events e JOIN t1 ON t1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.ts1
          AND e.ts <= t1.ts1 + INTERVAL 3 DAY
        GROUP BY e.user_id
    ),
    t3 AS (
        SELECT e.user_id, min(e.ts) AS ts3
        FROM events e
        JOIN t1 ON t1.user_id = e.user_id
        JOIN t2 ON t2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
          AND e.ts <= t1.ts1 + INTERVAL 3 DAY
        GROUP BY e.user_id
    )
    SELECT CASE WHEN t3.user_id IS NOT NULL THEN 3
                WHEN t2.user_id IS NOT NULL THEN 2
                WHEN t1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS depth,
           count(*) AS n_users
    FROM u
    LEFT JOIN t1 ON t1.user_id = u.user_id
    LEFT JOIN t2 ON t2.user_id = u.user_id
    LEFT JOIN t3 ON t3.user_id = u.user_id
    GROUP BY 1
    """,
)
def q_events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered window funnel (the ClickHouse `windowFunnel` shape):
    per user, the deepest prefix of view → click → purchase completed
    IN ORDER within a 3-day horizon opened by the first view; report
    users per depth. Strictly-increasing timestamps between steps
    (a click at the same instant as the view does not advance).

    Scale: ONE shuffle — all three step times are window aggregates
    over the same user_id partitioning (step k's minimum conditions
    on step k-1's column, so the sequential dependency costs extra
    window PASSES, not extra Exchanges), then an O(users) rollup.
    The oracle takes the equivalent 3-join form, which documents
    precisely the re-scan cost the window formulation avoids.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    horizon = F.expr("INTERVAL 3 DAYS")
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    staged = (
        ev.withColumn("ts1", F.min(F.when(is_("view"), F.col("ts"))).over(w))
        .withColumn(
            "ts2",
            F.min(
                F.when(
                    is_("click")
                    & (F.col("ts") > F.col("ts1"))
                    & (F.col("ts") <= F.col("ts1") + horizon),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "ts3",
            F.min(
                F.when(
                    is_("purchase")
                    & (F.col("ts") > F.col("ts2"))
                    & (F.col("ts") <= F.col("ts1") + horizon),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    depth = (
        F.when(F.col("ts3").isNotNull(), 3)
        .when(F.col("ts2").isNotNull(), 2)
        .when(F.col("ts1").isNotNull(), 1)
        .otherwise(0)
    )
    per_user = staged.groupBy("user_id").agg(F.max(depth).alias("depth"))
    return per_user.groupBy("depth").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "q_events_rfm",
    oracle="""
    WITH mx AS (SELECT max(ts) AS tmax FROM events),
    base AS (
        SELECT user_id,
               date_diff('day', max(ts), (SELECT tmax FROM mx)) AS recency_d,
               count(*) AS frequency,
               round(sum(value), 4) AS monetary
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    scored AS (
        SELECT user_id,
               ntile(4) OVER (ORDER BY recency_d DESC, user_id) AS r,
               ntile(4) OVER (ORDER BY frequency ASC, user_id) AS f,
               ntile(4) OVER (ORDER BY monetary ASC, user_id) AS m
        FROM base
    )
    SELECT r || '-' || f || '-' || m AS segment,
           count(*) AS n_users
    FROM scored GROUP BY 1
    """,
)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-analytics rollup:
    per-user Recency (days since last purchase), Frequency, Monetary,
    each quartiled (higher score = better: recent, frequent, big),
    users counted per R-F-M segment. Ntile ties are broken by user_id
    in BOTH engines so quartile edges are deterministic.

    Scale: one partial-aggregable groupBy collapses the fact to
    O(users); the three ntiles run over that collapsed frame (a
    single-partition sort of O(users) rows — at 10⁹ users you would
    swap ntile for percentile-threshold bucketing, which this
    operator's quartile semantics reduce to); the segment rollup is
    O(64) rows.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    mx = ev.agg(F.max("ts").alias("tmax"))
    base = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.to_date(F.first("tmax")), F.to_date(F.max("ts"))
            ).alias("recency_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
    )
    scored = base.select(
        "user_id",
        F.ntile(4).over(W.orderBy(F.desc("recency_d"), "user_id")).alias("r"),
        F.ntile(4).over(W.orderBy(F.asc("frequency"), "user_id")).alias("f"),
        F.ntile(4).over(W.orderBy(F.asc("monetary"), "user_id")).alias("m"),
    )
    seg = F.concat_ws("-", "r", "f", "m")
    return scored.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "q_events_feature_window",
    oracle="""
    WITH t AS (
        SELECT event_id, user_id, ts, event_type, value,
               epoch_us(ts) AS us
        FROM events
    ),
    feat AS (
        SELECT event_id, user_id, ts, event_type,
               count(*) FILTER (WHERE event_type = 'view') OVER w
                   AS n_views_7d,
               count(*) FILTER (WHERE event_type = 'purchase') OVER w
                   AS n_purchases_7d,
               round(coalesce(sum(value)
                   FILTER (WHERE event_type = 'purchase') OVER w,
                   0.0), 4) AS spend_7d
        FROM t
        WINDOW w AS (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN 604800000000 PRECEDING
                               AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts, CAST(n_views_7d AS BIGINT)
               AS n_views_7d,
           CAST(n_purchases_7d AS BIGINT) AS n_purchases_7d,
           spend_7d
    FROM feat WHERE event_type = 'purchase'
    """,
)
def q_events_feature_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature extraction — the feature-store
    contract for training data: for every purchase (the label row),
    the user's trailing-7-day view count, purchase count, and spend
    computed over STRICTLY EARLIER events (RANGE frame ending at
    1 microsecond preceding), so a label can never see itself or any
    simultaneous event — the train-serve-skew / leakage bug this
    operator exists to prevent. One RANGE window over
    integer-microsecond event time; conditional aggregates fold all
    three features into a single frame pass.

    Scale: one shuffle on user_id. The frame is time-bounded, so
    window state is O(events-per-user-per-week), independent of
    history length; features for all labels materialize in one scan
    instead of a per-label as-of join fan-out.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-604800000000, -1)
    )
    is_view = F.col("event_type") == "view"
    is_pur = F.col("event_type") == "purchase"
    feat = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.count(F.when(is_view, 1)).over(w).alias("n_views_7d"),
        F.count(F.when(is_pur, 1)).over(w).alias("n_purchases_7d"),
        F.round(
            F.coalesce(
                F.sum(F.when(is_pur, F.col("value"))).over(w),
                F.lit(0.0),
            ),
            4,
        ).alias("spend_7d"),
    )
    return feat.filter(is_pur).drop("event_type")


@register(
    "q_events_bot_detect",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)))
                   / 1000000.0 AS gap_s
        FROM events
    ),
    stats AS (
        SELECT user_id,
               count(gap_s) AS n_gaps,
               avg(gap_s) AS mean_gap,
               stddev_samp(gap_s) AS sd_gap
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           round(mean_gap, 4) AS mean_gap_s,
           round(sd_gap / nullif(mean_gap, 0.0), 4) AS gap_cv,
           CASE WHEN n_gaps >= 20
                     AND sd_gap / nullif(mean_gap, 0.0) < 0.1
                THEN 1 ELSE 0 END AS is_bot
    FROM stats
    """,
)
def q_events_bot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation flagging by TIMING REGULARITY: humans are
    bursty, schedulers are metronomes — a user whose inter-event
    gaps have coefficient of variation < 0.1 over >= 20 gaps is
    firing on a timer. The curation use is upstream of every
    engagement metric here (DAU, funnels, LTV) and of training-data
    quality: machine-generated event streams poison both. One
    lag window for the gaps (integer-microsecond exact), then a
    per-user moment aggregate; the flag thresholds are explicit
    columns so the report shows WHY a user was flagged, not just
    that it was.

    Scale: one shuffle on user_id; gap state is one row lookback;
    the moment aggregate is partial-aggregable (count/mean/stddev
    co-moments). Flags for 100 TB of events cost one pass.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / 1000000.0
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    stats = gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        F.avg("gap_s").alias("mean_gap"),
        F.stddev_samp("gap_s").alias("sd_gap"),
    )
    cv = F.col("sd_gap") / F.nullif(F.col("mean_gap"), F.lit(0.0))
    return stats.select(
        "user_id",
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.round("mean_gap", 4).alias("mean_gap_s"),
        F.round(cv, 4).alias("gap_cv"),
        F.when((F.col("n_gaps") >= 20) & (cv < 0.1), 1)
        .otherwise(0)
        .alias("is_bot"),
    )


@register(
    "q_events_audience_overlap",
    oracle="""
    WITH au AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
        SELECT event_type, count(*) AS n FROM au GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_common
        FROM au a JOIN au b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    """,
)
def q_events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity between the
    distinct-user sets of every event-type pair — which behaviors
    share an audience (feeds segmentation and the funnel ordering
    q_events_window_funnel assumes). Same inverted-index shape as
    q_dedup_ngram_jaccard: the pair fan-out happens PER USER, and a
    user contributes at most T(T−1)/2 pairs where T ≤ |event types|
    (single digits), so the join never approaches |users|² — the
    user_id hash partition carries it. Set sizes join back on the
    tiny per-type aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    au = ev.select("event_type", "user_id").distinct()
    sizes = au.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = au.select(F.col("event_type").alias("type_a"), "user_id")
    b = au.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "q_events_time_to_convert",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'click' THEN ts END) AS c,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
        FROM events GROUP BY user_id
    )
    SELECT least(CAST(CAST(p AS DATE) - CAST(c AS DATE) AS BIGINT),
                 7) AS days_bucket,
           count(*) AS n_users
    FROM per_user
    WHERE c IS NOT NULL AND p IS NOT NULL AND p >= c
    GROUP BY 1
    """,
)
def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for users whose first purchase
    follows their first click, the day gap between the two, bucketed
    0..6 with a 7+ tail — the funnel-latency histogram behind
    q_events_funnel's single conversion rate.

    Scale: ONE conditional-min pass over the log (no self-join),
    then a ≤8-group bucket count. Deliberately a bounded histogram,
    not a percentile over O(users) raw gaps: the exact-percentile
    buffer over an unbounded user set is the memory trap, the
    histogram is two map-side-combinable aggregates.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("c"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p"),
    )
    return (
        per_user.filter(
            F.col("c").isNotNull()
            & F.col("p").isNotNull()
            & (F.col("p") >= F.col("c"))
        )
        .select(
            F.least(
                F.datediff(F.to_date("p"), F.to_date("c")).cast("bigint"),
                F.lit(7).cast("bigint"),
            ).alias("days_bucket")
        )
        .groupBy("days_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q_events_stickiness",
    date_as_ts=True,
    oracle="""
    WITH au AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM au),
    fan AS (
        SELECT a.day + CAST(o.off AS INTEGER) AS wday, a.user_id
        FROM au a CROSS JOIN (SELECT unnest(range(28)) AS off) o
    ),
    mau AS (
        SELECT f.wday AS day, count(DISTINCT f.user_id) AS mau
        FROM fan f JOIN days d ON d.day = f.wday
        GROUP BY f.wday
    ),
    dau AS (SELECT day, count(*) AS dau FROM au GROUP BY day)
    SELECT dau.day, dau.dau, mau.mau,
           round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM dau JOIN mau ON mau.day = dau.day
    """,
)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: distinct daily actives over
    distinct trailing-28-day actives — the engagement ratio product
    dashboards track (≈1 means users come back every day).

    The rolling distinct is EXACT and still equi-join-only: each
    (day, user) active fans out to the ≤28 window-end days it
    belongs to (explode of a 28-literal offset array — bounded
    fan-out, same trick as q_join_range_bucketed), then a distinct
    count per window-end day; a semi join against the observed-day
    spine drops phantom window ends past the calendar. No range
    join, no BNLJ, no per-day rescan of the log — the log is reduced
    to distinct (day, user) ONCE and everything downstream is
    O(actives × 28).
    """
    ev = load_table(spark, sf_dir, "events")
    au = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = au.select("day").distinct()
    fan = au.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(27))
        ).alias("off"),
        "day",
        "user_id",
    ).select(F.date_add("day", F.col("off")).alias("wday"), "user_id")
    mau = (
        fan.join(
            F.broadcast(days), fan.wday == days.day, "left_semi"
        )
        .groupBy(F.col("wday").alias("day"))
        .agg(F.count_distinct("user_id").alias("mau"))
    )
    dau = au.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(mau, "day").select(
        "day",
        "dau",
        "mau",
        F.round(
            F.col("dau").cast("double") / F.col("mau"), 6
        ).alias("stickiness"),
    )


@register(
    "q_events_behavior_entropy",
    oracle="""
    WITH ut AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (SELECT user_id, sum(c) AS t FROM ut GROUP BY user_id),
    ent AS (
        SELECT ut.user_id,
               sum(-(CAST(ut.c AS DOUBLE) / tot.t)
                   * ln(CAST(ut.c AS DOUBLE) / tot.t)) AS h
        FROM ut JOIN tot ON tot.user_id = ut.user_id
        GROUP BY ut.user_id
    )
    SELECT CAST(floor(h * 10) AS BIGINT) AS entropy_decibucket,
           count(*) AS n_users
    FROM ent GROUP BY 1
    """,
)
def q_events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity histogram: Shannon entropy of each
    user's event-type distribution (0 = single-behavior bots and
    lurkers, ln(5) ≈ 1.6 = uniformly mixed usage), bucketed to 0.1
    nats — the population-level segmentation signal complementing
    q_events_bot_detect's per-user timing test (metronome timing AND
    zero behavioral entropy is the strongest bot evidence).

    Scale: two map-side-combinable aggregates (user×type, then per
    user) and a ≤17-bucket histogram — per-user state never exceeds
    the type cardinality, and no raw-event self-join. Entropy terms
    are -(c/t)·ln(c/t) evaluated in identical order in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = ut.groupBy("user_id").agg(F.sum("c").alias("t"))
    p = F.col("c").cast("double") / F.col("t")
    ent = (
        ut.join(tot, "user_id")
        .groupBy("user_id")
        .agg(F.sum(-p * F.log(p)).alias("h"))
    )
    return (
        ent.select(
            F.floor(F.col("h") * 10).cast("bigint").alias(
                "entropy_decibucket"
            )
        )
        .groupBy("entropy_decibucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q_events_seq_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type AS t1, t2, t3, count(*) AS n
    FROM seq
    WHERE t3 IS NOT NULL
    GROUP BY 1, 2, 3
    HAVING count(*) >= 5
    """,
)
def q_events_seq_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavior trigrams: counts of three-consecutive-event
    type sequences per user (threshold ≥5) — the order-2 extension
    of q_events_transitions' Markov bigrams, which is what exposes
    patterns like view→view→purchase vs view→error→view that a
    first-order chain cannot distinguish (and the next-event
    training dataset for a tiny behavioral LM).

    Scale: the lead windows ride the user_id partition (bounded by
    per-user history), the trigram rollup is a ≤|types|³-group
    map-side-combinable count — no self-joins of the log, same plan
    family as the certified transitions op.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


@register(
    "q_orders_ship_sla",
    oracle="""
    WITH lags AS (
        SELECT o.o_orderpriority,
               CAST(CAST(l.l_shipdate AS DATE)
                    - CAST(o.o_orderdate AS DATE) AS BIGINT) AS lag_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           count(*) AS n_lines,
           round(quantile_cont(lag_days, 0.5), 4) AS p50_lag_days,
           round(CAST(sum(CASE WHEN lag_days <= 7 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS pct_within_7d
    FROM lags GROUP BY o_orderpriority
    """,
)
def q_orders_ship_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping SLA by priority: median order-to-ship lag and the
    fraction of line items shipped within 7 days — the operational
    metric that validates whether the priority field means anything
    downstream (a 1-URGENT class whose p50 matches 5-LOW is a broken
    SLA), complementing q_agg_anova's "does priority explain spend"
    test with "does priority explain speed".

    Scale: the fact join is the standard orders⋈lineitem equi-join
    (orders side prunable to two columns), lag arithmetic is integer
    days, and the per-priority rollup is 5 groups — the median over
    a bounded per-group day-lag domain matches quantile_cont via the
    exact percentile on integer inputs.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.to_date("o_orderdate").alias("oday"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sday")
    )
    lags = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff("sday", "oday").cast("bigint").alias("lag_days"),
    )
    return lags.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.expr("percentile(lag_days, 0.5)"), 4).alias(
            "p50_lag_days"
        ),
        F.round(
            F.sum(F.when(F.col("lag_days") <= 7, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("pct_within_7d"),
    )


@register(
    "q_events_bounce_rate",
    date_as_ts=True,
    oracle="""
    WITH sessions AS (
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(ts) AS session_start
        FROM (
            SELECT user_id, ts,
                   sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM (
                SELECT user_id, ts, event_id,
                       coalesce(
                           ts > lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                                + INTERVAL 30 MINUTE,
                           TRUE) AS is_new
                FROM events
            )
        )
        GROUP BY user_id, session_id
    )
    SELECT CAST(session_start AS DATE) AS day,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounces,
           round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS bounce_rate
    FROM sessions GROUP BY 1
    """,
)
def q_events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of 30-min-gap sessions containing
    exactly ONE event, keyed by the session's start day — the
    engagement-quality headline that sits on top of
    q_sessionize_gaps (whose session definition this reuses
    verbatim, so the two can never drift apart).

    Scale: sessionization is the certified two-window single
    exchange per user; the bounce rollup adds one O(sessions)
    map-side-combinable aggregate and a ≤|days| histogram.
    """
    events = load_table(spark, sf_dir, "events")
    sessions = (
        sessionize(events)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
        )
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return sessions.groupBy(
        F.to_date("session_start").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(bounce).cast("bigint").alias("n_bounces"),
        F.round(
            F.sum(bounce).cast("double") / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
    )


@register(
    "q_orders_reorder_gaps",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE)
                    - CAST(lag(o_orderdate) OVER w AS DATE)
                    AS BIGINT) AS gap_days
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    )
    SELECT least(CAST(floor(gap_days / 7) AS BIGINT), 8)
               AS gap_weeks_bucket,
           count(*) AS n_gaps
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY 1
    """,
)
def q_orders_reorder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-interval distribution: day gaps between a customer's
    consecutive orders, bucketed by week with an 8+ tail — the
    purchase-cadence histogram behind replenishment reminders and
    the churn definition q_events_growth_accounting needs a
    threshold for (pick the week bucket where the tail flattens).

    Scale: the lag rides the o_custkey partition (bounded per-
    customer history, one exchange), gap arithmetic is integer days
    with an explicit floor (the cross-engine double→bigint cast
    rounds differently), and the rollup is a ≤9-bucket histogram.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            F.to_date("o_orderdate"),
            F.to_date(F.lag("o_orderdate").over(w)),
        )
        .cast("bigint")
        .alias("gap_days")
    )
    return (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy(
            F.least(
                F.floor(F.col("gap_days") / 7).cast("bigint"), F.lit(8)
            ).alias("gap_weeks_bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


@register(
    "q_events_calendar_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hour,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_events_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity matrix (ISO weekday 1=Mon..7=Sun)
    — the standard traffic heatmap behind capacity planning and the
    visual sanity check on q_ts_seasonal's day-of-week profile.
    ISO weekday numbers, not locale weekday NAMES, because name
    formatting is locale-dependent across engines while isodow /
    DAYOFWEEK_ISO are exact integers.

    One map pass into a ≤168-group map-side-combinable count — the
    cheapest possible full-log rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_events_gini",
    oracle="""
    WITH ux AS (SELECT event_type, user_id, count(*) AS x
                FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, x,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY x, user_id) AS i
          FROM ux)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(2 * sum(i * x) - (count(*) + 1) * sum(x)
                      AS DOUBLE)
                 / (count(*) * CAST(sum(x) AS DOUBLE)), 6) AS gini
    FROM r GROUP BY event_type
    """,
)
def q_events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity concentration, by event
    type — the inequality audit behind 'do 1% of users generate 90%
    of the traffic'. Complements q_agg_hhi (market-share
    concentration over groups) with the exact rank-based population
    form: G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) over ascending-sorted
    activity counts, ties broken by user_id so the rank sum is
    deterministic. All sums stay in INTEGER arithmetic (exact across
    engines); doubles appear only in the final 5-row division.
    Headroom: Σ i·x grows as n²·x̄/2, past int64 near ~1e9 users per
    type (where Spark would wrap and DuckDB would promote to
    HUGEINT — the r7/r8 divergence class), so the rank-weighted sum
    accumulates as decimal(38,0) and the whole numerator
    2Σix − (n+1)Σx stays exact 128-bit until the single cast.

    Scale: the raw log collapses to O(types × users) counts in one
    partial-aggregable pass; the rank is a per-type window sort over
    that reduced frame (distributed, spillable); the closing
    aggregate is map-side combinable. Nothing touches raw-event
    cardinality after the first groupBy.
    """
    ev = load_table(spark, sf_dir, "events")
    ux = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("x")
    )
    w = W.partitionBy("event_type").orderBy("x", "user_id")
    r = ux.select(
        "event_type", "x", F.row_number().over(w).alias("i")
    )
    n = F.count(F.lit(1))
    sx = F.sum("x")
    s_ix = F.sum(
        (F.col("i").cast("bigint") * F.col("x")).cast("decimal(38,0)")
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * s_ix
        - (n + 1).cast("decimal(38,0)") * sx.cast("decimal(38,0)")
    )
    return r.groupBy("event_type").agg(
        n.cast("bigint").alias("n_users"),
        F.round(
            num.cast("double") / (n * sx.cast("double")),
            6,
        ).alias("gini"),
    )


@register(
    "q_events_survival",
    oracle="""
    WITH u AS (SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
               FROM events GROUP BY 1),
    g AS (SELECT max(ts) AS mx FROM events),
    d AS (SELECT CAST(week(first_ts) AS BIGINT) AS cohort,
                 (epoch_us(last_ts) - epoch_us(first_ts))
                     // 86400000000 AS dur,
                 CASE WHEN epoch_us(g.mx) - epoch_us(last_ts)
                           > 7 * 86400000000
                      THEN 1 ELSE 0 END AS churned
          FROM u, g),
    by_t AS (SELECT cohort, dur, count(*) AS ended,
                    sum(churned) AS d_t
             FROM d GROUP BY 1, 2),
    w AS (SELECT cohort, dur, ended, d_t,
                 sum(ended) OVER (PARTITION BY cohort ORDER BY dur
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS ended_cum,
                 sum(ended) OVER (PARTITION BY cohort) AS n_total
          FROM w0),
    f AS (SELECT cohort, dur, d_t,
                 n_total - ended_cum + ended AS n_risk,
                 1e0 - CAST(d_t AS DOUBLE)
                     / (n_total - ended_cum + ended) AS factor
          FROM w),
    s AS (SELECT cohort, dur, d_t, n_risk,
                 sum(CASE WHEN factor > 0 THEN ln(factor) ELSE 0 END)
                     OVER pw AS lnsum,
                 max(CASE WHEN factor = 0 THEN 1 ELSE 0 END)
                     OVER pw AS hit_zero
          FROM f
          WINDOW pw AS (PARTITION BY cohort ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW))
    SELECT cohort, dur, CAST(d_t AS BIGINT) AS d_t,
           CAST(n_risk AS BIGINT) AS n_risk,
           CASE WHEN hit_zero = 1 THEN 0e0
                ELSE round(exp(lnsum), 6) END AS survival
    FROM s
    """.replace("FROM w0", "FROM by_t"),
)
def q_events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of user lifetime (days between
    first and last event), cohorted by ISO week of first activity,
    with right-censoring: a user still active within 7 days of the
    corpus end has not churned — counting them as deaths (the naive
    churn-rate query) biases lifetime DOWN, which is exactly the
    mistake KM exists to fix. At each distinct lifetime t:
    S(t) = Π_{u≤t} (1 − d_u / n_u) with d = churned at u,
    n = still at risk. The cumulative product is computed as
    exp(Σ ln(·)) under a cohort-partitioned ordered window, with a
    zero-factor flag short-circuiting S to exactly 0 in both engines
    (Spark's ln(0) is NULL, DuckDB's is -inf — neither is allowed to
    reach the sum).

    Scale: the raw log collapses to one row per user (min/max
    partial-agg), then to one row per (cohort, lifetime-day); every
    window is partitioned by cohort and runs over that reduced
    frame. The corpus-end scalar is a 1-row broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    g = ev.agg(F.unix_micros(F.max("ts")).alias("mx_us"))
    day_us = 86400000000
    d = u.crossJoin(F.broadcast(g)).select(
        F.weekofyear("first_ts").cast("bigint").alias("cohort"),
        F.expr(
            f"(unix_micros(last_ts) - unix_micros(first_ts))"
            f" DIV {day_us}"
        ).alias("dur"),
        F.when(
            F.col("mx_us") - F.unix_micros("last_ts")
            > F.lit(7 * day_us),
            1,
        )
        .otherwise(0)
        .alias("churned"),
    )
    by_t = d.groupBy("cohort", "dur").agg(
        F.count(F.lit(1)).alias("ended"), F.sum("churned").alias("d_t")
    )
    cum = (
        W.partitionBy("cohort")
        .orderBy("dur")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    whole = W.partitionBy("cohort")
    w = by_t.select(
        "cohort",
        "dur",
        "ended",
        "d_t",
        F.sum("ended").over(cum).alias("ended_cum"),
        F.sum("ended").over(whole).alias("n_total"),
    )
    n_risk = F.col("n_total") - F.col("ended_cum") + F.col("ended")
    factor = F.lit(1.0) - F.col("d_t").cast("double") / n_risk
    f = w.select(
        "cohort",
        "dur",
        "d_t",
        n_risk.alias("n_risk"),
        factor.alias("factor"),
    )
    s = f.select(
        "cohort",
        "dur",
        "d_t",
        "n_risk",
        F.sum(
            F.when(F.col("factor") > 0, F.log("factor")).otherwise(0.0)
        )
        .over(cum)
        .alias("lnsum"),
        F.max(
            F.when(F.col("factor") == 0, 1).otherwise(0)
        )
        .over(cum)
        .alias("hit_zero"),
    )
    return s.select(
        "cohort",
        "dur",
        F.col("d_t").cast("bigint").alias("d_t"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnsum"), 6))
        .alias("survival"),
    )


_BOOT_B = 20  # resamples
# Poisson(1) CDF breakpoints — identical double literals in both
# engines so the inverse-CDF draw is bit-identical.
_POIS = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
)


@register(
    "q_agg_bootstrap_ci",
    oracle=f"""
    WITH b AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b),
    w AS (
        SELECT b.b, value,
               CASE
                 WHEN u < {_POIS[0]}e0 THEN 0
                 WHEN u < {_POIS[1]}e0 THEN 1
                 WHEN u < {_POIS[2]}e0 THEN 2
                 WHEN u < {_POIS[3]}e0 THEN 3
                 ELSE 4
               END AS w
        FROM (
            SELECT b.b, value,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)
                        || ':' || CAST(b.b AS VARCHAR)), 1, 12))::BIGINT
                       / 281474976710656e0 AS u
            FROM events, b WHERE event_type = 'purchase'
        ) t, b WHERE t.b = b.b
    ),
    means AS (
        SELECT b, sum(w * value) / sum(w) AS m
        FROM w GROUP BY b HAVING sum(w) > 0
    ),
    arr AS (SELECT list(m ORDER BY m) AS a, count(*) AS nb FROM means),
    pt AS (SELECT count(*) AS n_rows, avg(value) AS mu
           FROM events WHERE event_type = 'purchase')
    SELECT pt.n_rows,
           round(pt.mu, 6) AS point_mean,
           round(a[CAST(floor(1 + (nb - 1) * 0.025e0) AS BIGINT)]
                 + (1 + (nb - 1) * 0.025e0
                    - floor(1 + (nb - 1) * 0.025e0))
                 * (a[CAST(floor(1 + (nb - 1) * 0.025e0) AS BIGINT) + 1]
                    - a[CAST(floor(1 + (nb - 1) * 0.025e0) AS BIGINT)]),
                 6) AS ci_lo,
           round(a[CAST(floor(1 + (nb - 1) * 0.975e0) AS BIGINT)]
                 + (1 + (nb - 1) * 0.975e0
                    - floor(1 + (nb - 1) * 0.975e0))
                 * (a[least(CAST(floor(1 + (nb - 1) * 0.975e0) AS BIGINT)
                            + 1, nb)]
                    - a[CAST(floor(1 + (nb - 1) * 0.975e0) AS BIGINT)]),
                 6) AS ci_hi
    FROM arr, pt
    """,
)
def q_agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-bootstrap 95% confidence interval for mean purchase
    value — the bootstrap that actually runs at 100 TB: classic
    resampling needs n draws per replicate (B passes over the data);
    the Poisson approximation gives every row an INDEPENDENT
    Poisson(1) inclusion weight per replicate, so all B replicates
    compute in ONE scan as a (B × row) weighted aggregate (the
    Google large-scale-bootstrap trick). The draw is a deterministic
    inverse-CDF lookup on the 48-bit md5 of (event_id, replicate) —
    reproducible across engines, partitionings, and reruns, which is
    what lets a DuckDB oracle certify a bootstrap at all (a seeded
    RNG could not).

    Scale: one fan-out of B weights per row (map-side), B partial-
    aggregable weighted sums, then a _BOOT_B-element driver-side
    quantile interpolation (the same explicit array interpolation as
    q_ts_hampel, identical in both engines). Nothing resamples,
    nothing shuffles beyond B group keys.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "value")
    b = F.explode(
        F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
    ).alias("b")
    u = md5_unit(
        F.concat_ws(
            ":", F.col("event_id").cast("string"), F.col("b").cast("string")
        )
    )
    p = [F.lit(float(x)) for x in _POIS]
    w = (
        F.when(F.col("u") < p[0], 0)
        .when(F.col("u") < p[1], 1)
        .when(F.col("u") < p[2], 2)
        .when(F.col("u") < p[3], 3)
        .otherwise(4)
    )
    weighted = (
        ev.select("event_id", "value", b)
        .withColumn("u", u)
        .select("b", "value", w.alias("w"))
    )
    means = (
        weighted.groupBy("b")
        .agg(
            (F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("m"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
    )
    arr = means.agg(
        F.sort_array(F.collect_list("m")).alias("a"),
        F.count(F.lit(1)).alias("nb"),
    )
    pt = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg("value").alias("mu"),
    )

    def interp(pq: float) -> F.Column:
        h = 1 + (F.col("nb") - 1) * F.lit(pq)
        lo = F.floor(h).cast("int")
        hi = F.least(lo + 1, F.col("nb").cast("int"))
        # nb=0 (empty input) would make lo=0 and element_at raise;
        # CaseWhen evaluates branches lazily, so gate on nb first.
        return F.when(
            F.col("nb") > 0,
            F.element_at(F.col("a"), lo)
            + (h - F.floor(h))
            * (F.element_at(F.col("a"), hi) - F.element_at(F.col("a"), lo)),
        )

    return arr.crossJoin(F.broadcast(pt)).select(
        "n_rows",
        F.round("mu", 6).alias("point_mean"),
        F.round(interp(0.025), 6).alias("ci_lo"),
        F.round(interp(0.975), 6).alias("ci_hi"),
    )
