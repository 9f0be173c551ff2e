"""Bucketed co-located join (§2B scale path).

At 100 TB the biggest recurring cost is re-shuffling fact tables for
every join on the same key. Bucketing amortizes it: write both tables
hash-bucketed (and sorted) by the join key once; every subsequent
join on that key reads co-located buckets — SortMergeJoin with ZERO
Exchange on either side. The oracle certifies the bucketed write →
bucketed read → join result against a plain join of the originals.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import app_temp_dir, cents_sum

N_BUCKETS = 8


def write_bucketed(
    df: DataFrame, table: str, key: str, path: str, n_buckets: int = N_BUCKETS
) -> None:
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


# Which sf_dir the session's b_lineitem/b_orders tables currently
# hold — the bucketed write is the point of bucketing (pay the shuffle
# ONCE), so repeat calls must not rewrite it.
_WRITTEN_FOR: dict[str, str] = {}


@register(
    "q_join_bucketed",
    oracle="""
    SELECT o_orderstatus,
           round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
                                     * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS sum_price,
           count(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = app_temp_dir(
        spark, "bucketed_" + sf_dir.strip("/").replace("/", "_")
    )
    cached = (
        _WRITTEN_FOR.get("sf_dir") == sf_dir
        and spark.catalog.tableExists("b_lineitem")
        and spark.catalog.tableExists("b_orders")
    )
    if not cached:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        shutil.rmtree(base, ignore_errors=True)
        write_bucketed(li, "b_lineitem", "l_orderkey", f"{base}/lineitem")
        write_bucketed(orders, "b_orders", "o_orderkey", f"{base}/orders")
        _WRITTEN_FOR["sf_dir"] = sf_dir

    # MERGE hint instead of a session-conf toggle: the hint is part of
    # the logical plan, so it survives AQE replanning and every later
    # re-execution by the caller — no broadcast selection, no extra
    # pinning execution. Both sides are bucketed+sorted on the key, so
    # the SortMergeJoin reads co-located buckets with zero Exchange
    # (at real fact×fact scale broadcast isn't an option anyway).
    bl = spark.table("b_lineitem").hint("merge")
    bo = spark.table("b_orders")
    joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey, "inner")
    return joined.groupBy("o_orderstatus").agg(
        cents_sum("l_extendedprice", 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )
