"""Projection and filter operators (§2B: q_project_expr, q_filter_*).

Rounding policy (SURVEY.md §7.5 risk 1): computed doubles are rounded
to the decimal grid of their exact rational value (2-dec × 2-dec
product → 4 decimals; three-way product → 6), so the rounded value can
never sit on a rounding boundary and Spark/DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import md5_unit

# Case-insensitive NOT-IN blacklist ≙ reference WORD_BLACKLIST
# semantics (SparkApplication.scala:29,77), applied to event types.
EVENT_BLACKLIST = ("error", "click")


@register(
    "q_project_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge
    FROM lineitem
    """,
)
def q_project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(revenue, 4).alias("revenue"),
        F.round(revenue * (1 + F.col("l_tax")), 6).alias("charge"),
    )


@register(
    "q_filter_blacklist",
    oracle=f"""
    SELECT event_id, event_type, user_id
    FROM events
    WHERE lower(event_type) NOT IN ({', '.join(repr(w) for w in EVENT_BLACKLIST)})
    """,
)
def q_filter_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.filter(
        ~F.lower(F.col("event_type")).isin(*EVENT_BLACKLIST)
    ).select("event_id", "event_type", "user_id")


@register(
    "q_filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IS NOT NULL
      AND (l_discount > 0.05 OR l_tax < 0.02)
    """,
)
def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isNotNull()
        & ((F.col("l_discount") > 0.05) | (F.col("l_tax") < 0.02))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")


@register(
    "q_sample_stratified",
    oracle="""
    SELECT source, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE doc_id % 100 < (CASE WHEN source IN ('src0','src1','src2','src3','src4')
                               THEN 20 ELSE 60 END)
    GROUP BY source
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-stratum rates (20% for the
    overrepresented sources, 60% elsewhere) via a deterministic
    key-modulus predicate — reproducible across engines and runs,
    unlike seeded Bernoulli sampling, so resampling the same corpus
    yields the same training set (audit requirement). Pure scan-side
    filter: no shuffle until the tiny per-source report.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 20
    ).otherwise(60)
    return (
        docs.filter(F.col("doc_id") % 100 < rate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "q_sample_neyman",
    oracle="""
    WITH st AS (
        SELECT source, count(*) AS n_rows,
               CAST(sum(n_chars) AS DOUBLE) AS sx,
               CAST(sum(n_chars * n_chars) AS DOUBLE) AS sxx
        FROM documents GROUP BY source
    ),
    v AS (
        SELECT source, n_rows,
               sqrt((sxx - sx * sx / n_rows) / (n_rows - 1)) AS s_h
        FROM st WHERE n_rows > 1
    ),
    t AS (SELECT sum(n_rows) AS n_tot,
                 sum(n_rows * s_h) AS sns,
                 sum(n_rows * s_h * s_h) AS snss
          FROM v)
    SELECT v.source, v.n_rows,
           round(v.s_h, 6) AS s_h,
           round(CAST(1000 AS DOUBLE) * v.n_rows / t.n_tot, 4)
               AS n_prop,
           round(CAST(1000 AS DOUBLE) * v.n_rows * v.s_h / t.sns, 4)
               AS n_neyman,
           round(t.sns * t.sns / (t.n_tot * t.snss), 6)
               AS neyman_efficiency
    FROM v, t
    """,
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation — the
    measure-then-sample upgrade of `q_sample_stratified`'s fixed
    per-stratum rates: for a fixed label/inspection budget (1000
    here), allocate n_h proportional to N_h * S_h (stratum size x
    measured stddev of the target metric, n_chars by source), which
    minimizes the variance of the stratified mean estimator
    (Neyman 1934). Both the proportional and Neyman allocations are
    emitted per stratum, plus `neyman_efficiency` =
    V_neyman / V_proportional = (sum W_h S_h)^2 / sum W_h S_h^2 —
    <= 1 by Cauchy-Schwarz (pytest-pinned), with the gap measuring
    exactly how much labeling budget the variance-aware allocation
    saves on THIS corpus. Stddev is deliberately computed from exact
    integer sums (sum x, sum x^2 are exact in double up to 2^53,
    then one fixed-order subtraction/division) rather than the
    engines' streaming stddev aggregates, whose partial-merge order
    is not deterministic across partitionings — the same
    determinism discipline as the regression ops.

    Scale: one map-side-combinable pass for the per-stratum moments
    (3 numbers per stratum regardless of volume), one tiny global
    roll-up, one broadcast back onto O(strata) rows. Singleton
    strata (n_rows = 1) carry no variance signal and are excluded
    before the allocation.
    """
    st = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("double").alias("sx"),
            F.sum(F.col("n_chars") * F.col("n_chars"))
            .cast("double")
            .alias("sxx"),
        )
    )
    v = st.filter(F.col("n_rows") > 1).select(
        "source",
        "n_rows",
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_rows"))
            / (F.col("n_rows") - 1)
        ).alias("s_h"),
    )
    t = v.agg(
        F.sum("n_rows").alias("n_tot"),
        F.sum(F.col("n_rows") * F.col("s_h")).alias("sns"),
        F.sum(F.col("n_rows") * F.col("s_h") * F.col("s_h")).alias(
            "snss"
        ),
    )
    return v.crossJoin(F.broadcast(t)).select(
        "source",
        "n_rows",
        F.round("s_h", 6).alias("s_h"),
        F.round(
            F.lit(1000.0) * F.col("n_rows") / F.col("n_tot"), 4
        ).alias("n_prop"),
        F.round(
            F.lit(1000.0) * F.col("n_rows") * F.col("s_h") / F.col("sns"),
            4,
        ).alias("n_neyman"),
        F.round(
            F.col("sns") * F.col("sns")
            / (F.col("n_tot") * F.col("snss")),
            6,
        ).alias("neyman_efficiency"),
    )


@register(
    "q_sample_ht_total",
    oracle="""
    WITH stats AS (
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS tot,
               count(*) AS n
        FROM orders
    ),
    s AS (
        SELECT o_totalprice,
               least(CAST(1 AS DOUBLE),
                     o_totalprice / (stats.tot / stats.n * 20)) AS p,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                    1, 12)) AS BIGINT)
                   / CAST(281474976710656 AS DOUBLE) AS u
        FROM orders, stats
    ),
    samp AS (
        SELECT count(*) AS n_sampled,
               sum(o_totalprice / p) AS ht_total,
               sum(CAST(1 AS DOUBLE) / p) AS ht_count
        FROM s WHERE u < p
    )
    SELECT stats.n AS n_rows,
           samp.n_sampled,
           round(stats.tot, 2) AS true_total,
           round(samp.ht_total, 2) AS ht_total,
           round((samp.ht_total - stats.tot) / stats.tot, 6)
               AS rel_err_total,
           round(samp.ht_count, 2) AS ht_count,
           round((samp.ht_count - stats.n) / stats.n, 6)
               AS rel_err_count
    FROM stats, samp
    """,
)
def q_sample_ht_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation from a deterministic PPS
    (probability-proportional-to-size) Poisson sample — the
    estimate-from-a-sample contract behind every sampled dashboard:
    each order enters the sample with p_i = min(1, price/(20*mu))
    (expected ~5% rate, inclusion decided by the engine-portable
    48-bit md5 uniform, so the SAMPLE ITSELF is reproducible in any
    engine, partitioning, or rerun), and any total estimates as
    sum(x_i/p_i) over the sample. Two targets certify the design
    effect: ht_total estimates the variable the design is
    proportional to — every uncapped draw contributes exactly 20*mu,
    so its variance is PURE Poisson count noise (~1/sqrt(n_sampled);
    measured 3.9% at sf 0.01, right on that floor) — while ht_count
    estimates a target the design is NOT matched to, stacking 1/p
    weight dispersion on top of the count noise (measured ~2x
    worse). True totals accumulate as DECIMAL so the certificates
    are merge-order-deterministic.

    Scale: one stats pass (2 numbers), one map-side filter with the
    hash draw inline (no shuffle to sample), one partial-aggregable
    estimate pass. Sampling 100 TB this way reads everything once
    but SHIPS only ~5%, and re-running it next week selects the
    same rows — the property that makes sampled metrics diffable
    across releases.
    """
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    s = o.crossJoin(F.broadcast(stats)).select(
        "o_totalprice",
        "tot",
        "n",
        F.least(
            F.lit(1.0),
            F.col("o_totalprice")
            / (F.col("tot") / F.col("n") * 20),
        ).alias("p"),
        md5_unit(F.col("o_orderkey").cast("string")).alias("u"),
    )
    samp = s.filter(F.col("u") < F.col("p")).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.col("o_totalprice") / F.col("p")).alias("ht_total"),
        F.sum(F.lit(1.0) / F.col("p")).alias("ht_count"),
    )
    return stats.crossJoin(F.broadcast(samp)).select(
        F.col("n").alias("n_rows"),
        "n_sampled",
        F.round("tot", 2).alias("true_total"),
        F.round("ht_total", 2).alias("ht_total"),
        F.round(
            (F.col("ht_total") - F.col("tot")) / F.col("tot"), 6
        ).alias("rel_err_total"),
        F.round("ht_count", 2).alias("ht_count"),
        F.round(
            (F.col("ht_count") - F.col("n")) / F.col("n"), 6
        ).alias("rel_err_count"),
    )
