"""TPC-H shape completion: the 12 decision-support query shapes not
already covered by the composites in `analytics.py` (Q3/5/7/10/14/16/
18/19/22 live there; Q1 is `q_agg_multi`).

The synthetic schema lacks `partsupp` and the ship/commit/receipt date
triple, so each query keeps the SHAPE that stresses the optimizer
(correlated scalar subqueries, EXISTS/NOT-EXISTS pairs, join-condition
filters, global-threshold HAVING) while substituting semantically
equivalent columns: `lineitem` plays the offer table where `partsupp`
is needed, and lateness is `l_shipdate > o_orderdate + INTERVAL k DAY`.

Reference parity: mrtweety-analytic drives its SQL surface through the
same relational core these shapes exercise (reference: flink/src/main/
java/analytic/TrendingHashtags.java:35-74 for the agg/window chain);
the TPC-H suite is the standard proof that the full
select-project-join-aggregate-subquery space works.

Rounding policy (SURVEY.md / memory): money expressions are on the
4-decimal rational grid (2-dec price x 2-dec discount factor), so
every money sum rounds to 4 — recovering the exact grid value from
double accumulation noise in BOTH engines. Ratios divide two
grid-rounded doubles (identical in both engines) before the final
round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import LastHandle, cents, cents_sum, unit_sum

# Supersession holder for the derived tables q_tpch_q11like and
# q_tpch_q15like persist for their two consumers each.
_LAST_TPCH = LastHandle()


def _rev():
    """Revenue term (built lazily: Column exprs need an active session)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q_tpch_q2like",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5)
                        AS BIGINT) * 10000
                   // CAST(l_quantity AS BIGINT)) AS unit_micro
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (SELECT l_partkey AS bp, min(unit_micro) AS best_micro
             FROM offers GROUP BY l_partkey)
    SELECT p_partkey, p_name, s_name, n_name,
           round(CAST(unit_micro AS DOUBLE) / 1000000, 6) AS unit_cost
    FROM offers
    JOIN best ON bp = l_partkey AND unit_micro = best_micro
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_size <= 10
    """,
)
def q_tpch_q2like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): a correlated MIN subquery
    decorrelated into aggregate + join-back. lineitem stands in for
    partsupp: per-(part, supplier) unit cost, then the per-part
    minimum selects the winning offer(s).

    Scale shape: both aggregates hash on l_partkey — the second agg
    and the join-back reuse the first shuffle's partitioning (one
    Exchange on the fact side); part/supplier/nation broadcast. The
    naive correlated form would re-scan offers per outer row.
    Unit cost lives on an exact INTEGER micro-dollar grid
    (cents·10⁴ DIV qty — integer division in both engines): the
    earlier round(price/qty, 4) hit exact decimal-half boundaries
    (cents/qty denominators like 8 put a literal 5 in the 5th
    decimal), where Spark's HALF_UP and DuckDB's rounding disagree —
    three collisions surfaced at sf0.1 in the round-7 differential.
    min over integers has no boundary to disagree on.
    """
    li = load_table(spark, sf_dir, "lineitem")
    micro = F.expr(
        "CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5)"
        " AS BIGINT) * 10000 DIV CAST(l_quantity AS BIGINT)"
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(micro).alias("unit_micro")
    )
    best = offers.groupBy("l_partkey").agg(
        F.min("unit_micro").alias("best_micro")
    )
    best = best.select(F.col("l_partkey").alias("bp"), "best_micro")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        offers.join(
            best,
            (offers.l_partkey == F.col("bp"))
            & (offers.unit_micro == F.col("best_micro")),
        )
        .join(F.broadcast(part), offers.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), offers.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round(F.col("unit_micro").cast("double") / 1000000, 6)
            .alias("unit_cost"),
        )
    )


@register(
    "q_tpch_q4like",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority check): correlated EXISTS with a
    NON-equi component (late shipment vs the outer row's order date)
    → left-semi hash join on the equi key with the lateness predicate
    as join residual. The quarter filter prunes the orders scan via
    row-group min/max; lineitem is projected to two columns before
    the shuffle.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 30 DAY"
    )
    return (
        orders.join(
            li, (orders.o_orderkey == li.l_orderkey) & late, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q_tpch_q6like",
    oracle="""
    SELECT round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
                                     * 100 + 0.5) AS BIGINT)
                           * CAST(floor(CAST(l_discount AS DOUBLE)
                                        * 100 + 0.5) AS BIGINT))
                       AS DOUBLE) / 10000, 4) AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): the pure
    scan-predicate-aggregate query. Every predicate is pushable
    (`PushedFilters` carries all four), the projection is two
    columns, and the plan is a single WholeStageCodegen span with a
    partial+final agg — the query 100 TB scans are rated by.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            # exact integer 1e-4-dollar units — see q_agg_multi
            F.round(
                F.sum(
                    cents("l_extendedprice") * cents("l_discount")
                ).cast("double")
                / 10000,
                4,
            ).alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_tpch_q8like",
    oracle="""
    WITH flat AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN region ON r_regionkey = cn.n_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(round(sum(CASE WHEN supp_nation = 'NATION_1'
                                THEN volume ELSE 0 END), 4)
                 / round(sum(volume), 4), 4) AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def q_tpch_q8like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest star —
    seven joins, two independent dimension paths to `nation` (customer
    side filters the market region, supplier side labels the
    numerator), conditional-share aggregation per year.

    Scale shape: every dimension broadcasts, so the fact table's only
    shuffle is orders⋈lineitem on the order key, then the O(years)
    aggregate. Numerator and denominator are grid-rounded before the
    division so both engines divide identical doubles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    supp = load_table(spark, sf_dir, "supplier")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    flat = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(region),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    return flat.groupBy("o_year").agg(
        F.round(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_1", F.col("volume")
                    ).otherwise(0.0)
                ),
                4,
            )
            / F.round(F.sum("volume"), 4),
            4,
        ).alias("mkt_share")
    )


@register(
    "q_tpch_q9like",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
                                     * 100 + 0.5) AS BIGINT)
                          * (100 - CAST(floor(CAST(l_discount AS DOUBLE)
                                              * 100 + 0.5) AS BIGINT))
                          - 80 * CAST(floor(CAST(p_retailprice AS DOUBLE)
                                            * 100 + 0.5) AS BIGINT)
                               * CAST(l_quantity AS BIGINT))
                      AS DOUBLE) / 10000, 4) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_tpch_q9like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): revenue minus supply
    cost per (supplier nation, order year). With no partsupp,
    supply cost is the 0.8 x retail-price proxy carried by the
    broadcast part dim — the SHAPE (fact joined to a name-filtered
    part, supplier-nation rollup across order years) is intact.

    Profit accumulates as EXACT integer 1e-4-dollar units
    (cents x (100 - d100) - 80 x retail_cents x qty — see
    q_agg_multi): the revenue-minus-cost subtraction makes double
    cancellation especially hazardous at scale; integer units make
    it exact under any merge order.
    The LIKE filter lands on the broadcast build side; the fact's
    only shuffle is orders⋈lineitem, then the O(nations x years)
    aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit_u4 = cents("l_extendedprice") * (
        100 - cents("l_discount")
    ) - 80 * cents("p_retailprice") * F.col("l_quantity").cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(unit_sum(profit_u4, 4).alias("profit"))
    )


@register(
    "q_tpch_q11like",
    oracle="""
    WITH val AS (
        SELECT l_partkey,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS part_value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_1'
        GROUP BY l_partkey
    )
    SELECT l_partkey, part_value
    FROM val
    WHERE part_value > (SELECT round(sum(part_value), 4) * 0.001
                        FROM val)
    """,
)
def q_tpch_q11like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important-stock concentration): per-part value
    within one nation, kept only where it exceeds a fraction of the
    GLOBAL total — a HAVING against a scalar aggregate over the same
    derived table.

    Scale shape: `val` is computed once and persisted; the global
    threshold is a 1-row broadcast (no second scan of the fact), and
    the filter is a map-side compare. Threshold = grid-rounded total
    x 0.001, identical double in both engines — the comparison needs
    no further rounding.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_1"
    )
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.round(F.sum(_rev()), 4).alias("part_value"))
    )
    _LAST_TPCH.persist(val)
    threshold = val.agg(
        (F.round(F.sum("part_value"), 4) * 0.001).alias("thr")
    )
    return (
        val.join(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("thr"))
        .select("l_partkey", "part_value")
    )


@register(
    "q_tpch_q12like",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 14 DAY
    GROUP BY l_returnflag
    """,
)
def q_tpch_q12like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split): fact-fact join
    with a cross-table lateness residual, then a conditional count
    pair per class (l_returnflag stands in for l_shipmode, which the
    synthetic schema lacks).

    Scale shape: the year filter prunes the lineitem scan; the
    lateness predicate (spans both sides) runs as join residual; the
    output aggregate is O(classes). One shuffle each side on the
    order key.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 14 DAY")
            ),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("long")
            .alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q13like",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join
    with the filter in the JOIN CONDITION (so zero-order customers
    survive with count 0 — moving it to WHERE would silently drop
    them), per-customer count, then a histogram of the counts.

    Scale shape: at 100 TB (orders too big to broadcast) both the
    join and the per-customer aggregate hash on the customer key and
    share one Exchange; at test scale AQE broadcasts the filtered
    orders side instead, so the executed plan is a BroadcastHashJoin
    plus the single custkey aggregate exchange (round-12 audit:
    docstring now states both regimes). The histogram aggregate sees
    O(distinct counts) rows either way.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "q_tpch_q15like",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): a derived revenue view consumed
    twice — once for the global max (scalar subquery) and once as the
    join input. The view is persisted so the quarter's lineitem slice
    is scanned ONCE; the max is a 1-row broadcast; ties all qualify
    (grid-rounded revenue makes the equality exact in both engines).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_rev()), 4).alias("total_revenue"))
    )
    _LAST_TPCH.persist(revenue)
    best = revenue.agg(F.max("total_revenue").alias("best_rev"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q_tpch_q17like",
    oracle="""
    SELECT round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
                                     * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100, 4) AS small_qty_revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q_tpch_q17like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated
    scalar AVG per part gating the outer fact rows. Decorrelated as a
    per-part aggregate joined back — the aggregate is O(parts), so it
    BROADCASTS and the brand-filtered fact never shuffles.

    The threshold avg is sum(int)/count — bit-identical in both
    engines — so the strict `<` comparison is deterministic without
    rounding. The subquery deliberately averages over ALL lineitems
    of the part (not just the brand slice): that is Q17's trap — the
    inner and outer tables are the same but differently filtered.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("ap"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            cents_sum("l_extendedprice").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_tpch_q20like",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_2'
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_size > 40
            AND l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l_suppkey, l_partkey
          HAVING sum(l_quantity) > 50)
    """,
)
def q_tpch_q20like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (part-promotion supplier shortlist): an IN
    subquery whose body is itself a grouped HAVING over a filtered
    fact-dim join — nested set construction, then a semi join into
    the dimension side.

    Scale shape: part filter broadcasts into the year-sliced lineitem
    scan; the (supplier, part) aggregate is the only fact shuffle;
    the qualifying-supplier set collapses to O(suppliers) and
    broadcasts into the supplier⋈nation probe as a left-semi.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_2"
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "q_tpch_q21like",
    oracle="""
    WITH lines AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
        SELECT l_orderkey,
               count(*) AS n_supp,
               CAST(sum(is_late) AS BIGINT) AS n_late
        FROM lines GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM lines
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
    GROUP BY s_name
    """,
)
def q_tpch_q21like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    classic EXISTS(other supplier) AND NOT EXISTS(other LATE
    supplier) double self-join, reformulated as ONE aggregate pass:
    per (order, supplier) lateness, then per-order supplier/late
    counts — `waiting` ≡ late AND n_supp > 1 AND n_late = 1.

    Scale shape: this replaces TWO additional shuffles of the fact
    (the EXISTS and NOT-EXISTS probes) with a second tiny aggregate
    on the FIRST aggregate's partitioning (l_orderkey — Exchange
    reused for lines→per_order AND the join between them). The
    oracle states the same reformulation in SQL; DuckDB's planner
    verifies the semantics independently.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    ).cast("int")
    lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").cast("long").alias("n_late"),
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        lines.join(per_order, "l_orderkey")
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q_tpch_q1like",
    oracle="""
    WITH u AS (
        SELECT l_returnflag, l_linestatus, l_quantity,
               CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5)
                    AS BIGINT) AS cents,
               CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5)
                    AS BIGINT) AS d100,
               CAST(floor(CAST(l_tax AS DOUBLE) * 100 + 0.5)
                    AS BIGINT) AS t100
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '2024-12-01'
    )
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(CAST(sum(cents) AS DOUBLE) / 100, 4) AS sum_base_price,
           round(CAST(sum(cents * (100 - d100)) AS DOUBLE) / 10000, 4)
               AS sum_disc_price,
           round(CAST(sum(cents * (100 - d100) * (100 + t100)) AS DOUBLE)
                 / 1000000, 6) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(CAST(sum(cents) AS DOUBLE) / 100 / count(*), 4)
               AS avg_price,
           round(CAST(sum(d100) AS DOUBLE) / 100 / count(*), 4)
               AS avg_disc,
           count(*) AS count_order
    FROM u
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-fidelity TPC-H Q1 (pricing summary report) — completes
    the named Q1-Q22 series (the Q1 SHAPE has carried a driver-green
    row since round 1 as q_agg_multi; this adds the spec's shipdate
    predicate and the triple-product sum_charge, rounded at 6 per the
    1e-6-grid policy). One scan, eight partial-aggregable measures, the shipdate
    filter pushed to the parquet reader.

    Overflow headroom (ADVICE r07): the per-row integer products are
    bounded by cents <= ~1.1e7, (100-d100) <= 100, (100+t100) <= 108,
    so the triple product reaches ~1.1e11 units/row and an int64 SUM
    would wrap (Spark wraps mod 2^64 silently; DuckDB promotes to
    HUGEINT) at ~8e7 rows per group — Q1's four groups pass that at
    roughly TPC-H sf50. Fix: the products accumulate as
    decimal(38,0) (exact 128-bit sum, partial-aggregable, overflow
    bound ~1e38 ≙ ~1e26 rows), matching DuckDB's HUGEINT promotion
    bit-for-bit since both sides sum the identical integers. Plain
    cents sums stay int64: worst case 1.1e7 units/row x 6.6e11 rows
    (a 100 TB lineitem) ~= 7e18 < 2^63.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.to_date("l_shipdate") <= F.lit("2024-12-01").cast("date")
    )
    # Exact integer units (cents / percent points) — see q_agg_multi:
    # double money sums over 100k+ rows drift past the rounding grid.
    price = cents("l_extendedprice")
    d100 = cents("l_discount")
    # int64 per-row products (fit: <=1.2e11), 128-bit accumulation
    disc_units = price * (100 - d100)
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            cents_sum("l_extendedprice").alias("sum_base_price"),
            unit_sum(disc_units, 4).alias("sum_disc_price"),
            unit_sum(disc_units * (100 + cents("l_tax")), 6).alias(
                "sum_charge"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / 100 / n, 4).alias(
                "avg_price"
            ),
            F.round(F.sum(d100).cast("double") / 100 / n, 4).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
