"""Pattern-mining and incremental-maintenance operators: a-priori
basket pairs, PMI collocations, time-series gap interpolation,
partial-aggregate view maintenance, ordered event paths.

These extend the engine beyond the reference's fixed dataflow
(`SparkApplication.scala:63-93` is one count/sort pipeline) into the
mining shapes a corpus/behavior pipeline needs at 100 TB. Every
operator is pure `pyspark.sql.functions` algebra — no Python in the
row loop — and every quadratic-ish stage is support-pruned or
key-bounded before it runs.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import cents, ngram_windows, ordered_pairs


@register(
    "q_basket_pairs",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n AS (SELECT count(DISTINCT o) AS n_baskets,
                 count(*) AS n_items,
                 count(DISTINCT p) AS n_parts
          FROM items),
    freq AS (
        SELECT p, count(*) AS cnt
        FROM items GROUP BY p
        HAVING count(*) >= greatest(
            2, ceil(1.0 * (SELECT n_items FROM n)
                    / (SELECT n_parts FROM n)))
    ),
    fi AS (SELECT i.o, i.p FROM items i JOIN freq USING (p)),
    pairs AS (
        SELECT a.p AS p1, b.p AS p2, count(*) AS pair_cnt
        FROM fi a JOIN fi b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    )
    SELECT p1, p2, pair_cnt,
           round(1.0 * pair_cnt / fa.cnt, 6) AS confidence,
           round(1.0 * (SELECT n_baskets FROM n) * pair_cnt
                 / (fa.cnt * fb.cnt), 6) AS lift
    FROM pairs
    JOIN freq fa ON fa.p = pairs.p1
    JOIN freq fb ON fb.p = pairs.p2
    ORDER BY pair_cnt DESC, p1, p2
    LIMIT 20
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent-pair mining over order baskets with
    confidence and lift. The two-stage shape IS the scale design:
    stage 1 prunes to frequent items (support >= max(2, mean item
    support) — the downward-closure bound: no frequent pair has an
    infrequent member; the mean-relative threshold tracks corpora
    whose item vocabulary grows with volume, where a
    fraction-of-baskets threshold would over- or under-prune), so
    stage 2's within-basket pair generation runs on the pruned item
    set only. Pairs are generated map-side from each basket's sorted
    item array (one basket-keyed exchange into the collect, never
    across baskets), and the frequent-item table is small by
    construction, so support/lift lookups broadcast. For pathological
    baskets, basket_pairs_core(cap_r=R) bounds per-basket fan-out to
    R(R-1)/2 by keeping each basket's top-R items by global frequency
    before the pair fan-out (pytest-pinned; off here — the oracle is
    the exact a-priori).
    """
    return basket_pairs_core(load_table(spark, sf_dir, "lineitem"))


def basket_pairs_core(li: DataFrame, cap_r: int | None = None) -> DataFrame:
    """Core of q_basket_pairs over any (l_orderkey, l_partkey) frame.

    cap_r: optional per-basket fan-out cap — each basket keeps only
    its top-cap_r items by (global support desc, item id asc) before
    the pair fan-out, so a mega-basket of B items costs
    cap_r(cap_r-1)/2 pairs instead of B²/2. Approximate (pairs of a
    basket's rarer items are missed) and OFF by default; at 100 TB
    it is the guard that keeps one degenerate basket from dominating
    the shuffle."""
    # items feeds four consumers, yet re-planning it per consumer beat
    # persisting it 2x in an interleaved A/B at sf 0.1.
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n_b = items.agg(
        F.countDistinct("o").alias("n_baskets"),
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("p").alias("n_parts"),
    )
    item_cnt = items.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    freq = (
        item_cnt.crossJoin(F.broadcast(n_b))
        .where(
            F.col("cnt")
            >= F.greatest(F.lit(2), F.ceil(F.col("n_items") / F.col("n_parts")))
        )
        .select("p", "cnt")
    )
    fi = items.join(F.broadcast(freq.select("p")), "p").select("o", "p")
    if cap_r is not None:
        # Per-basket top-R by global support: rank inside the basket's
        # hash partition (same o-keyed exchange the pair fan-out's
        # collect needs, so the cap adds a sort but no extra shuffle).
        ranked = fi.join(F.broadcast(freq), "p").withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("o").orderBy(F.desc("cnt"), F.asc("p"))
            ),
        )
        fi = ranked.where(F.col("rn") <= cap_r).select("o", "p")
    # Within-basket pair generation via the certified posting-list
    # fan-out (util.ordered_pairs over the basket's sorted item array)
    # instead of the o-keyed self-join — ONE o-exchange into the
    # collect_list instead of TWO feeding a SortMergeJoin (guide §2.4);
    # pair counts are integer-exact either way (items are distinct per
    # basket, ascending slice ≡ p1 < p2). Basket arrays are
    # support-pruned (freq ≥ mean) and cap_r bounds them further when
    # set, so array width is the same fan-out bound the join form had.
    baskets = fi.groupBy("o").agg(
        F.sort_array(F.collect_list("p")).alias("ps")
    )
    pairs = (
        ordered_pairs(baskets, "ps", "p1", "p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    fa = freq.select(F.col("p").alias("p1"), F.col("cnt").alias("cnt_a"))
    fb = freq.select(F.col("p").alias("p2"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(fa), "p1")
        .join(F.broadcast(fb), "p2")
        .crossJoin(F.broadcast(n_b))
        .select(
            "p1",
            "p2",
            "pair_cnt",
            F.round(F.col("pair_cnt") / F.col("cnt_a"), 6).alias("confidence"),
            F.round(
                F.col("n_baskets") * F.col("pair_cnt")
                / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_cnt"), "p1", "p2")
        .limit(20)
    )


def _bigram_counts(docs: DataFrame) -> DataFrame:
    """(a, b, cnt): every adjacent single-space token pair of `text`
    with its corpus count — the one bigram aggregate of q_text_pmi and
    q_text_llr. Windows come from util.ngram_windows, map-side; a
    1-token doc has none, so no guard row is needed."""
    pairs = ngram_windows(F.split("text", " "), 2)
    return (
        docs.select(F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.0").alias("a"), F.col("pr.1").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_text_pmi",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    uni AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
    nu AS (SELECT sum(cnt) AS n_uni FROM uni),
    big AS (
        SELECT a, b, count(*) AS cnt
        FROM (
            SELECT term AS a,
                   lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS b
            FROM toks
        )
        WHERE b IS NOT NULL
        GROUP BY a, b
    ),
    nb AS (SELECT sum(cnt) AS n_big FROM big)
    SELECT big.a || ' ' || big.b AS bigram, big.cnt AS pair_cnt,
           round(ln((1.0 * big.cnt / (SELECT n_big FROM nb))
                    * (SELECT n_uni FROM nu) * (SELECT n_uni FROM nu)
                    / (1.0 * ua.cnt * ub.cnt)), 6) AS pmi
    FROM big
    JOIN uni ua ON ua.term = big.a
    JOIN uni ub ON ub.term = big.b
    WHERE big.cnt >= 5
    ORDER BY pmi DESC, bigram
    LIMIT 20
    """,
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information,
    pmi = ln(P(ab) / (P(a) P(b))) with a min pair count of 5.
    One tokenization pass builds the per-doc array; the bigram
    aggregate and unigram aggregate both reduce to vocab-sized
    tables, so the PMI join is broadcast-broadcast onto the bigram
    aggregate and the corpus text itself is scanned exactly once per
    aggregate — no per-pair recomputation. Ranking uses the ROUNDED
    pmi (repo convention, see q_text_tfidf) so an ulp difference in
    ln() between engines cannot flip the order; bigram is the
    tiebreak.
    """
    docs = load_table(spark, sf_dir, "documents")
    big = _bigram_counts(docs)
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_uni = uni.agg(F.sum("cnt").alias("n_uni"))
    n_big = big.agg(F.sum("cnt").alias("n_big"))
    ua = uni.select(F.col("term").alias("a"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("term").alias("b"), F.col("cnt").alias("cnt_b"))
    return (
        big.where(F.col("cnt") >= 5)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(n_big))
        .crossJoin(F.broadcast(n_uni))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            F.col("cnt").alias("pair_cnt"),
            F.round(
                F.log(
                    (F.col("cnt") / F.col("n_big"))
                    * F.col("n_uni") * F.col("n_uni")
                    / (F.col("cnt_a") * F.col("cnt_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


@register(
    "q_ts_interpolate",
    date_as_ts=True,
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, avg(value) AS v
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day), max(day),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id
    ),
    joined AS (
        SELECT s.user_id, s.day, d.v FROM spine s
        LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ),
    ctx AS (
        SELECT user_id, day, v,
               last_value(v IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN day END
                          IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pd,
               first_value(v IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN day END
                           IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nd
        FROM joined
    )
    SELECT user_id, day,
           round(CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv) * date_diff('day', pd, day)
                         / date_diff('day', pd, nd)
           END, 6) AS val,
           CAST(v IS NOT NULL AS INTEGER) AS observed
    FROM ctx
    """,
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap repair: per-user daily purchase averages on a
    dense per-user date spine, with linear interpolation across
    missing days. Three exchanges total, all on POST-aggregate data:
    the (user, day) daily rollup, the per-user min/max for the spine,
    and the window sort — the raw event log is scanned and reduced
    once, and all four gap-context windows share one window sort. The
    spine side keeps its user_id partitioning, so the spine-daily
    join broadcasts the daily aggregate (AQE picks SMJ on user_id at
    scale — either way no raw-log shuffle). The spine is
    generated per key from that key's own min/max (sequence +
    explode), so a sparse user never inflates a dense user's range,
    and interpolation is pure window algebra — last/first IGNORE
    NULLS — with no self-join against the observation table.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("v"))
    )
    return interpolate_daily(daily)


def interpolate_daily(daily: DataFrame) -> DataFrame:
    """Core spine + gap-interpolation over a (user_id, day, v) frame
    — factored out so the hypothesis property drives the ACTUAL
    operator algebra with arbitrary sparse series."""
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
        .select(
            "user_id",
            F.explode(
                F.sequence("dmin", "dmax", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    back = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    fwd = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = joined.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(back).alias("pd"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * F.datediff("day", "pd")
            / F.datediff("nd", "pd")
        )
    )
    return ctx.select(
        "user_id",
        "day",
        F.round(interp, 6).alias("val"),
        F.col("v").isNotNull().cast("int").alias("observed"),
    )


@register(
    "q_mv_incremental",
    date_as_ts=True,
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance by partial-aggregate
    merge: the (month, priority) revenue view is maintained as
    base-partials (history, orderdate < 2001-01-01) merged with
    delta-partials (new arrivals) — count and sum are mergeable, so
    refresh cost is O(delta) + O(view), never a rescan of history.
    The oracle is the full-table aggregate: the merged view must be
    bit-identical (after the view's own rounding) to recomputation,
    which is exactly the invariant an incremental pipeline certifies
    before swapping a view generation. Both partials partition on the
    same group key, so the merge re-aggregation reuses the
    partitioning; at 100 TB the base partial is a stored table and
    only the delta side scans new files.
    """
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit("2001-01-01").cast("date")
    month = F.date_trunc("month", "o_orderdate").cast("date").alias("month")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month, "o_orderpriority").agg(
            F.count(F.lit(1)).alias("pn"), F.sum("o_totalprice").alias("ps")
        )

    base = partial(orders.where(F.col("o_orderdate") < split))
    delta = partial(orders.where(F.col("o_orderdate") >= split))
    return (
        base.unionByName(delta)
        .groupBy("month", "o_orderpriority")
        .agg(
            F.sum("pn").alias("n_orders"),
            F.round(F.sum("ps"), 2).alias("revenue"),
        )
    )


@register(
    "q_events_paths",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               concat_ws('>',
                   max(CASE WHEN rn = 1 THEN event_type END),
                   max(CASE WHEN rn = 2 THEN event_type END),
                   max(CASE WHEN rn = 3 THEN event_type END)) AS path
        FROM ranked WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, count(*) AS n_users
    FROM per_user GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 10
    """,
)
def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 onboarding paths: each user's first three event types
    in (ts, event_id) order, concatenated, counted across users.
    The rank window and the per-user pivot share the user_id
    partitioning (one exchange), the rn <= 3 filter truncates state
    to three rows per user before the pivot, and the final path
    count is a tiny aggregate. The conditional-aggregation pivot
    (max-by-rank) replaces collect_list + sort — no variable-length
    buffers in the agg, so executor memory per group is O(3).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 3)
    step = lambda i: F.max(  # noqa: E731
        F.when(F.col("rn") == i, F.col("event_type"))
    )
    per_user = ranked.groupBy("user_id").agg(
        F.concat_ws(">", step(1), step(2), step(3)).alias("path")
    )
    return (
        per_user.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(10)
    )


@register(
    "q_ts_autocorr",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, v,
               lag(v, 1) OVER w AS v1,
               lag(v, 2) OVER w AS v2,
               lag(v, 3) OVER w AS v3
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           round(corr(v, v1), 6) + 0.0 AS ac1,
           round(corr(v, v2), 6) + 0.0 AS ac2,
           round(corr(v, v3), 6) + 0.0 AS ac3
    FROM lagged GROUP BY event_type
    """,
)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of the per-type daily event-count
    series — the seasonality probe run before choosing a forecast
    window. The raw log reduces to an O(types x days) series in one
    partial-aggregable pass; the lag windows and the corr aggregate
    both ride the event_type partitioning, so the post-reduction work
    never exceeds the series size. corr is a mergeable second-moment
    aggregate (same Welford-merge property as q_agg_corr_stats), so
    nothing here is sequential at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )
    # Spark's corr yields NaN on a zero-variance series where DuckDB
    # yields NULL — normalize NaN→NULL so a constant series matches
    # the oracle (ADVICE r05 item 3).
    def ac(lag_col: str, nm: str):
        c = F.corr("v", lag_col)
        return F.round(F.when(~F.isnan(c), c), 6).alias(nm)

    return lagged.groupBy("event_type").agg(
        ac("v1", "ac1"), ac("v2", "ac2"), ac("v3", "ac3")
    )


def ewma_daily(daily: DataFrame) -> DataFrame:
    """Core adjust-form EWMA (alpha = 0.3) over a
    (event_type, day, v) series: (event_type, day, v, ewma) with the
    UNROUNDED smoother — shared by q_ts_ewma (which rounds it for
    the oracle grid) and q_ts_forecast_eval (which lags it). The
    (1-a)^t cancellation makes it two cumulative window sums over
    one sort; see q_ts_ewma's docstring for the algebra."""
    wk = W.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        "v",
        F.datediff("day", F.min("day").over(wk)).alias("d"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    weight = F.pow(F.lit(1.0 / 0.7), F.col("d"))
    return idx.select(
        "event_type",
        "day",
        "v",
        (F.sum(F.col("v") * weight).over(w) / F.sum(weight).over(w))
        .alias("ewma"),
    )


def _daily_counts(ev: DataFrame) -> DataFrame:
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))


@register(
    "q_ts_ewma",
    date_as_ts=True,
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, v,
               date_diff('day',
                         min(day) OVER (PARTITION BY event_type),
                         day) AS d
        FROM daily
    )
    SELECT event_type, day, CAST(v AS DOUBLE) AS v,
           round(sum(v * power(1.0 / 0.7, d)) OVER w
                 / sum(power(1.0 / 0.7, d)) OVER w, 6) AS ewma
    FROM idx
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.3,
    adjust-form: ewma_t = sum (1-a)^(t-i) v_i / sum (1-a)^(t-i))
    over the per-type daily counts. The algebraic trick that makes
    it ONE window pass instead of a sequential recurrence: the
    common (1-a)^t factor cancels between numerator and denominator,
    leaving two running sums of v_i * r^(-i) with r = 1-a — both
    plain cumulative-sum window aggregates over the same sort, no
    recursion, no self-join, and both engines sum the frames in the
    identical ascending-day order so the doubles agree bit-for-bit
    before the rounding. The day index is per-key (datediff from the
    key's own first day), bounding the r^(-i) magnitude by the key's
    span.
    """
    ev = load_table(spark, sf_dir, "events")
    out = ewma_daily(_daily_counts(ev))
    return out.select(
        "event_type", "day", "v", F.round("ewma", 6).alias("ewma")
    )


@register(
    "q_events_ltv",
    date_as_ts=True,
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value
        FROM events WHERE event_type = 'purchase'
    ),
    f AS (SELECT user_id, min(day) AS cohort_day FROM p GROUP BY 1),
    per_age AS (
        SELECT f.cohort_day,
               CAST(date_diff('day', f.cohort_day, p.day) AS INTEGER)
                   AS age_days,
               sum(p.value) AS rev
        FROM p JOIN f USING (user_id)
        GROUP BY 1, 2
    ),
    sized AS (SELECT cohort_day, count(*) AS n_users FROM f GROUP BY 1)
    SELECT per_age.cohort_day, age_days,
           round(sum(rev) OVER (PARTITION BY per_age.cohort_day
                                ORDER BY age_days
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
                 / n_users, 6) AS cum_ltv_per_user
    FROM per_age JOIN sized USING (cohort_day)
    """,
)
def q_events_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative purchase revenue per
    user by cohort age — the monetized twin of q_events_retention.
    The raw log collapses in two partial-aggregable passes (first-day
    per user, revenue per (cohort, age)); the cumulative sum is a
    window over the TINY (cohorts x ages) aggregate, so the running
    sum never touches fact-scale data. Revenue is summed BEFORE the
    rounding and normalized by fixed cohort size, so curve points are
    comparable across cohorts of different sizes.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    )
    f = p.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    per_age = (
        p.join(f, "user_id")
        .groupBy(
            "cohort_day", F.datediff("day", "cohort_day").alias("age_days")
        )
        .agg(F.sum("value").alias("rev"))
    )
    sized = f.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_users"))
    w = (
        W.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        per_age.join(F.broadcast(sized), "cohort_day")
        .select(
            "cohort_day",
            "age_days",
            F.round(F.sum("rev").over(w) / F.col("n_users"), 6).alias(
                "cum_ltv_per_user"
            ),
        )
    )


@register(
    "q_events_concurrency",
    date_as_ts=True,
    oracle="""
    WITH sess AS (
        SELECT ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
        WHERE event_type = 'view'
    ),
    deltas AS (
        SELECT CAST(s AS DATE) AS day, s AS t, 1 AS d FROM sess
        UNION ALL
        SELECT CAST(e AS DATE) AS day, e AS t, -1 AS d FROM sess
        WHERE CAST(e AS DATE) = CAST(s AS DATE)
        UNION ALL
        -- a session crossing midnight contributes an open start to
        -- the next day (clip at the boundary: +1 at midnight)
        SELECT CAST(e AS DATE) AS day, CAST(CAST(e AS DATE) AS TIMESTAMP)
                   AS t, 1 AS d
        FROM sess WHERE CAST(e AS DATE) <> CAST(s AS DATE)
        UNION ALL
        SELECT CAST(e AS DATE) AS day, e AS t, -1 AS d
        FROM sess WHERE CAST(e AS DATE) <> CAST(s AS DATE)
    )
    SELECT day, CAST(max(running) AS BIGINT) AS peak_concurrency
    FROM (
        SELECT day,
               sum(d) OVER (PARTITION BY day
                            ORDER BY t, d DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS running
        FROM deltas
    )
    GROUP BY day
    """,
)
def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-minute view-sessions per day — the
    sweep-line interval algorithm in pure window algebra: each
    session emits a +1 at its start and a -1 at its end, the running
    sum over (time, starts-first) is the live-session count, and the
    per-day max is the answer. Sessions crossing midnight are CLIPPED
    at the boundary (an open start re-emitted at the next day's
    midnight), which keeps the sweep PARTITION-PARALLEL by day — no
    global single-partition sort, the classic sweep-line scale trap.
    Ties order starts before ends (d DESC), i.e. touching intervals
    overlap at the boundary instant.
    """
    ev = load_table(spark, sf_dir, "events")
    sess = ev.where(F.col("event_type") == "view").select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("e"),
    )
    return peak_concurrency(sess)


def peak_concurrency(sess: DataFrame) -> DataFrame:
    """Core sweep-line over an (s, e) interval frame — factored out
    so the hypothesis property can drive it with arbitrary interval
    sets (including midnight-crossing ones)."""
    same_day = F.to_date("e") == F.to_date("s")
    starts = sess.select(
        F.to_date("s").alias("day"), F.col("s").alias("t"), F.lit(1).alias("d")
    )
    ends_same = sess.where(same_day).select(
        F.to_date("e").alias("day"), F.col("e").alias("t"), F.lit(-1).alias("d")
    )
    reopen = sess.where(~same_day).select(
        F.to_date("e").alias("day"),
        F.to_date("e").cast("timestamp").alias("t"),
        F.lit(1).alias("d"),
    )
    ends_cross = sess.where(~same_day).select(
        F.to_date("e").alias("day"), F.col("e").alias("t"), F.lit(-1).alias("d")
    )
    deltas = starts.unionByName(ends_same).unionByName(reopen).unionByName(
        ends_cross
    )
    w = (
        W.partitionBy("day")
        .orderBy(F.col("t"), F.col("d").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        deltas.select("day", F.sum("d").over(w).alias("running"))
        .groupBy("day")
        .agg(F.max("running").alias("peak_concurrency"))
    )


@register(
    "q_mv_join_incremental",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
    """,
)
def q_mv_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view by the delta-join law:
    with both inputs split into (base, delta),
    A' join B' = (A join B) + (dA join B) + (A join dB) + (dA join dB)
    — three delta terms, each bounded by a delta side, so a refresh
    never re-joins base-with-base (the O(history^2) recompute the law
    exists to avoid). Orders split on a date watermark (the natural
    CDC delta), customers on a key range (a dimension backfill); the
    four terms union and feed one partial-aggregable rollup on the
    shared group key. The oracle is the full recompute over the
    unsplit inputs — the generation-swap invariant, exactly as in
    q_mv_incremental. All four join terms broadcast the dimension
    side here; at 100 TB the base-fact term is the stored view and
    only delta terms execute.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    o_split = F.lit("2001-01-01").cast("date")
    a = orders.where(F.col("o_orderdate") < o_split)
    da = orders.where(F.col("o_orderdate") >= o_split)
    # dimension backfill: the top key decile arrives as the delta;
    # the split point rides a 1-row broadcast (no driver collect)
    c_split = cust.agg(F.max("c_custkey").alias("mx"))
    marked = cust.crossJoin(F.broadcast(c_split))
    b = marked.where(F.col("c_custkey") * 10 < F.col("mx") * 9).select(
        "c_custkey", "c_nationkey"
    )
    db = marked.where(F.col("c_custkey") * 10 >= F.col("mx") * 9).select(
        "c_custkey", "c_nationkey"
    )

    def term(o_side: DataFrame, c_side: DataFrame) -> DataFrame:
        return o_side.join(
            F.broadcast(c_side), o_side.o_custkey == c_side.c_custkey
        ).select("c_nationkey", "o_totalprice")

    joined = (
        term(a, b)
        .unionByName(term(da, b))
        .unionByName(term(a, db))
        .unionByName(term(da, db))
    )
    return (
        joined.join(F.broadcast(nation),
                    joined.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "q_text_feature_hash",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id,
               (strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1)
                   * 16
               + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1)
                   AS bucket
        FROM toks WHERE term <> ''
    )
    SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
           count(*) AS cnt
    FROM bucketed GROUP BY 1, 2
    """,
)
def q_text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick featurizer: tokens hashed into 256 buckets,
    per-document bucket counts — the fixed-width sparse feature
    vector a downstream trainer consumes without a vocabulary table.
    The bucket is derived from the md5 hex digits ARITHMETICALLY
    (two strpos lookups), not an engine hash function, so the exact
    same bucketing reproduces in any engine — the provenance
    requirement for feature pipelines (same rule as
    q_sample_reservoir's md5 ordering). One explode + one
    partial-aggregable groupBy; output is bounded by docs x 256.
    """
    docs = load_table(spark, sf_dir, "documents")
    hexes = "0123456789abcdef"
    b = (
        (F.expr(f"locate(substring(md5(term), 1, 1), '{hexes}')") - 1) * 16
        + (F.expr(f"locate(substring(md5(term), 2, 1), '{hexes}')") - 1)
    )
    return (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .where(F.col("term") != "")
        .select("doc_id", b.cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_ts_similarity",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS c
        FROM events GROUP BY 1, 2
    ),
    probe AS (SELECT day, c FROM daily WHERE user_id = 0),
    ssu AS (SELECT user_id, sum(c * c) AS ss FROM daily GROUP BY 1),
    ssp AS (SELECT sum(c * c) AS ssp FROM probe),
    dots AS (
        SELECT d.user_id, sum(d.c * p.c) AS dot
        FROM daily d JOIN probe p USING (day)
        WHERE d.user_id <> 0
        GROUP BY d.user_id
    )
    SELECT user_id,
           round(sqrt(ssu.ss + (SELECT ssp FROM ssp)
                      - 2 * coalesce(dots.dot, 0)), 6) AS dist
    FROM ssu LEFT JOIN dots USING (user_id)
    WHERE user_id <> 0
    ORDER BY dist, user_id
    LIMIT 5
    """,
)
def q_ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 users whose daily activity profile is most similar to a
    probe user's (L2 over the daily event-count series, absent days
    = 0) — the daily-profile specialization of distributed top-k
    trajectory similarity search (REPOSE, ICDE 2021; PAPERS.md). The
    scale trick is the sparse-vector identity
    dist^2(u, p) = SS_u + SS_p - 2.dot(u, p): per-user sum-of-squares
    is one partial-aggregable pass, the probe series is a broadcast
    O(days) table, and the dot product is an equi-join on day — so
    no user-by-user vector materialization, no dense pivot, and the
    only shuffle is the O(users) aggregate. TakeOrderedAndProject
    finishes the top-k without a global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    probe = daily.where(F.col("user_id") == 0).select(
        "day", F.col("c").alias("p")
    )
    ssu = daily.where(F.col("user_id") != 0).groupBy("user_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("ss")
    )
    ssp = probe.agg(F.sum(F.col("p") * F.col("p")).alias("ssp"))
    dots = (
        daily.where(F.col("user_id") != 0)
        .join(F.broadcast(probe), "day")
        .groupBy("user_id")
        .agg(F.sum(F.col("c") * F.col("p")).alias("dot"))
    )
    return (
        ssu.join(dots, "user_id", "left")
        .crossJoin(F.broadcast(ssp))
        .select(
            "user_id",
            F.round(
                F.sqrt(
                    F.col("ss") + F.col("ssp")
                    - 2 * F.coalesce(F.col("dot"), F.lit(0.0))
                ),
                6,
            ).alias("dist"),
        )
        .orderBy("dist", "user_id")
        .limit(5)
    )


@register(
    "q_events_active_users",
    date_as_ts=True,
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM pairs),
    dau AS (
        SELECT day, count(*) AS dau FROM pairs GROUP BY day
    ),
    wau AS (
        SELECT d AS day, count(DISTINCT user_id) AS wau
        FROM (
            SELECT user_id,
                   CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                               INTERVAL 1 DAY)) AS DATE)
                       AS d
            FROM pairs
        ), bounds
        WHERE d <= bounds.hi
        GROUP BY d
    ),
    mau AS (
        SELECT d AS day, count(DISTINCT user_id) AS mau
        FROM (
            SELECT user_id,
                   CAST(unnest(generate_series(day, day + INTERVAL 27 DAY,
                                               INTERVAL 1 DAY)) AS DATE)
                       AS d
            FROM pairs
        ), bounds
        WHERE d <= bounds.hi
        GROUP BY d
    )
    SELECT dau.day, dau.dau, wau.wau, mau.mau,
           round(1.0 * dau.dau / wau.wau, 6) AS stickiness
    FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """,
)
def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / trailing-28-day MAU and the
    DAU/WAU stickiness ratio — the activity dashboard every product
    warehouse maintains. The scale shape: the raw log first reduces
    to distinct (user, day) pairs; each pair then fans out to the
    BOUNDED set of trailing windows it contributes to (7 and 28 rows
    — explode of a fixed-length sequence, not a range join, so there
    is no O(days x pairs) join and no unbounded window state), and
    the per-day distinct counts are ordinary partial-aggregable
    aggregates. Trailing windows whose anchor day exceeds the
    observed horizon are clipped. The three day-keyed aggregates are
    O(days) rows and join broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    hi = pairs.agg(F.max("day").alias("hi"))

    def rolling(window_days: int, out: str) -> DataFrame:
        fan = pairs.select(
            "user_id",
            F.explode(
                F.sequence(
                    "day",
                    F.date_add("day", window_days - 1),
                    F.expr("interval 1 day"),
                )
            ).alias("day"),
        )
        return (
            fan.crossJoin(F.broadcast(hi))
            .where(F.col("day") <= F.col("hi"))
            .groupBy("day")
            .agg(F.countDistinct("user_id").alias(out))
        )

    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = rolling(7, "wau")
    mau = rolling(28, "mau")
    return (
        dau.join(F.broadcast(wau), "day")
        .join(F.broadcast(mau), "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


def growth_accounting(pairs: DataFrame) -> DataFrame:
    """Core of q_events_growth_accounting over a distinct
    (user_id, day) activity frame — factored out so the hypothesis
    property can drive it with arbitrary activity patterns."""
    wu = W.partitionBy("user_id")
    wo = W.partitionBy("user_id").orderBy("day")
    marked = pairs.select(
        "day",
        F.min("day").over(wu).alias("first_day"),
        F.lag("day").over(wo).alias("prev_day"),
    )
    is_new = F.col("day") == F.col("first_day")
    is_ret = F.col("prev_day") == F.date_sub("day", 1)
    per_day = marked.groupBy("day").agg(
        F.count(F.lit(1)).alias("dau"),
        F.sum(is_new.cast("long")).alias("n_new"),
        F.sum(F.coalesce(is_ret, F.lit(False)).cast("long")).alias(
            "n_retained"
        ),
        F.sum(
            (
                ~is_new
                & (
                    F.col("prev_day").isNull()
                    | (F.col("prev_day") < F.date_sub("day", 1))
                )
            ).cast("long")
        ).alias("n_resurrected"),
    )
    wd = W.orderBy("day")
    churned = F.lag("dau").over(wd) - F.col("n_retained")
    return per_day.select(
        "day",
        "dau",
        "n_new",
        "n_retained",
        "n_resurrected",
        churned.alias("n_churned"),
        F.when(
            churned > 0,
            F.round(
                (F.col("n_new") + F.col("n_resurrected")) / churned, 6
            ),
        ).alias("quick_ratio"),
    )


@register(
    "q_events_growth_accounting",
    date_as_ts=True,
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    marked AS (
        SELECT user_id, day,
               min(day) OVER (PARTITION BY user_id) AS first_day,
               lag(day) OVER (PARTITION BY user_id ORDER BY day)
                   AS prev_day
        FROM pairs
    ),
    per_day AS (
        SELECT day,
               count(*) AS dau,
               count(*) FILTER (WHERE day = first_day) AS n_new,
               count(*) FILTER (WHERE prev_day = day - INTERVAL 1 DAY)
                   AS n_retained,
               count(*) FILTER (WHERE day <> first_day AND
                                (prev_day IS NULL OR
                                 prev_day < day - INTERVAL 1 DAY))
                   AS n_resurrected
        FROM marked GROUP BY day
    )
    SELECT day, dau, n_new, n_retained, n_resurrected,
           lag(dau) OVER (ORDER BY day) - n_retained AS n_churned,
           CASE WHEN lag(dau) OVER (ORDER BY day) - n_retained > 0
                THEN round(1.0 * (n_new + n_resurrected)
                           / (lag(dau) OVER (ORDER BY day) - n_retained),
                           6)
           END AS quick_ratio
    FROM per_day
    """,
)
def q_events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: every active user classified as new
    (first-ever day), retained (also active yesterday), or
    resurrected (returning after a gap); churned(d) = yesterday's
    actives minus today's retained; quick ratio = (new +
    resurrected) / churned. Two window passes over the distinct
    (user, day) pairs — both on the user_id partitioning — reduce
    the log to an O(days) classification table, and the final lag
    window runs on that tiny series (the only partition-less window
    here, O(days) rows by construction). No self-joins: churn is
    derived from yesterday's DAU by conservation, not by
    anti-joining consecutive days. Core algebra in
    growth_accounting() above, property-tested on random activity
    patterns.
    """
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    return growth_accounting(pairs)


@register(
    "q_win_capped_running_sum",
    oracle="""
    WITH RECURSIVE s AS (
        SELECT l_partkey AS p,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY l_shipdate, l_orderkey,
                                           l_linenumber) AS rn,
               CASE WHEN l_returnflag = 'R' THEN -l_quantity
                    ELSE l_quantity END AS d
        FROM lineitem
    ),
    r AS (
        SELECT p, rn, greatest(0, d) AS bal FROM s WHERE rn = 1
        UNION ALL
        SELECT s.p, s.rn, greatest(0, r.bal + s.d)
        FROM r JOIN s ON s.p = r.p AND s.rn = r.rn + 1
    )
    SELECT p AS l_partkey, CAST(rn AS INTEGER) AS rn,
           round(bal, 4) AS balance
    FROM r
    """,
)
def q_win_capped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floored-at-zero running balance per part (receipts add,
    returns subtract, stock can't go negative) — the inventory
    recurrence bal_t = max(0, bal_{t-1} + delta_t). This is the
    textbook case window algebra CANNOT express: the max() makes the
    fold non-associative, so no frame/cumsum trick applies (contrast
    q_ts_ewma, whose fold factors into two cumsums). The engine
    answer is a per-key Arrow-batched kernel: applyInPandas groups by
    part, sorts the key's bounded event list, and runs the O(n_k)
    scalar recurrence in the worker — state never leaves the
    executor, parallelism is O(parts), and per-task memory is one
    key's history. The oracle is a DuckDB RECURSIVE CTE unrolling the
    same fold — certifying a non-SQL-expressible* operator with SQL
    (*non-window-expressible; recursion depth = max events per key).
    """
    import numpy as np
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_returnflag") == "R", -F.col("l_quantity")
        ).otherwise(F.col("l_quantity")).alias("d"),
    )

    # Group by a 256-way hash BUCKET of the key, not the key itself:
    # one kernel invocation then processes ~|parts|/256 keys with a
    # reset at each key boundary, which removes the per-group pandas
    # construction overhead that dominates with thousands of tiny
    # groups (measured 11.4 s -> ~1 s warm at sf 0.1; the recurrence
    # itself is the same O(rows) loop either way). Correctness is
    # unchanged: every key's full history still lands in exactly one
    # kernel call, sorted (key, time) within it.
    def run_balance(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["l_partkey", "l_shipdate", "l_orderkey", "l_linenumber"],
            kind="mergesort",
        )
        parts = pdf["l_partkey"].to_numpy(dtype=np.int64)
        deltas = pdf["d"].to_numpy(dtype=np.float64)
        bal = np.empty_like(deltas)
        rn = np.empty(len(deltas), dtype=np.int32)
        acc, cur, k = 0.0, None, 0
        for i in range(len(deltas)):
            if parts[i] != cur:
                cur, acc, k = parts[i], 0.0, 0
            acc = max(0.0, acc + deltas[i])
            k += 1
            bal[i] = acc
            rn[i] = k
        return pd.DataFrame(
            {
                "l_partkey": parts,
                "rn": rn,
                "balance": np.round(bal, 4),
            }
        )

    bucketed = li.withColumn("bkt", F.pmod(F.hash("l_partkey"), F.lit(256)))
    return bucketed.groupBy("bkt").applyInPandas(
        run_balance, schema="l_partkey long, rn int, balance double"
    )


@register(
    "q_ts_forecast_eval",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, v,
               date_diff('day',
                         min(day) OVER (PARTITION BY event_type),
                         day) AS d
        FROM daily
    ),
    ew AS (
        SELECT event_type, day, v,
               sum(v * power(1.0 / 0.7, d)) OVER w
                   / sum(power(1.0 / 0.7, d)) OVER w AS ewma
        FROM idx
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scored AS (
        SELECT event_type, v,
               lag(ewma) OVER (PARTITION BY event_type ORDER BY day)
                   AS fc
        FROM ew
    )
    SELECT event_type,
           CAST(count(fc) AS BIGINT) AS n_forecasts,
           round(avg(abs(v - fc)), 6) AS mae,
           round(sqrt(avg((v - fc) * (v - fc))), 6) AS rmse
    FROM scored WHERE fc IS NOT NULL
    GROUP BY event_type
    """,
)
def q_ts_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead forecast backtest: yesterday's EWMA (the
    q_ts_ewma smoother) predicts today's count; MAE/RMSE per series
    score it. The backtest costs nothing beyond the smoother — the
    forecast column is lag(ewma) over the same day sort (no extra
    exchange), and the error metrics are ordinary mergeable
    aggregates over the O(types x days) series. This is the
    evaluation loop a forecasting pipeline runs before trusting a
    model — expressed entirely in the engine, no Python.
    """
    ev = load_table(spark, sf_dir, "events")
    ew = ewma_daily(_daily_counts(ev))
    wo = W.partitionBy("event_type").orderBy("day")
    scored = ew.select(
        "event_type", "v", F.lag("ewma").over(wo).alias("fc")
    ).where(F.col("fc").isNotNull())
    err = F.col("v") - F.col("fc")
    return scored.groupBy("event_type").agg(
        F.count("fc").alias("n_forecasts"),
        F.round(F.avg(F.abs(err)), 6).alias("mae"),
        F.round(F.sqrt(F.avg(err * err)), 6).alias("rmse"),
    )


@register(
    "q_events_ab_test",
    oracle="""
    WITH assign AS (
        SELECT user_id,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1)
                   % 2 AS variant
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    mx AS (SELECT max(value) AS m FROM events
           WHERE event_type = 'purchase'),
    conv AS (
        SELECT DISTINCT user_id FROM events, mx
        WHERE event_type = 'purchase' AND value >= 0.5 * m
    ),
    per_variant AS (
        SELECT variant,
               count(*) AS n_users,
               count(conv.user_id) AS n_converted
        FROM assign LEFT JOIN conv USING (user_id)
        GROUP BY variant
    ),
    wide AS (
        SELECT
            max(CASE WHEN variant = 0 THEN n_users END) AS na,
            max(CASE WHEN variant = 0 THEN n_converted END) AS ca,
            max(CASE WHEN variant = 1 THEN n_users END) AS nb,
            max(CASE WHEN variant = 1 THEN n_converted END) AS cb
        FROM per_variant
    )
    SELECT CAST(variant AS INTEGER) AS variant, n_users, n_converted,
           round(1.0 * n_converted / n_users, 6) AS conv_rate,
           round((1.0 * cb / nb - 1.0 * ca / na)
                 / sqrt((1.0 * (ca + cb) / (na + nb))
                        * (1 - 1.0 * (ca + cb) / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 6) AS z_score
    FROM per_variant, wide
    """,
)
def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis: users deterministically hash-assigned to
    two variants (md5 first hex digit, parity — the engine-agnostic
    arithmetic bucketing of q_text_feature_hash, so assignment
    reproduces in any engine and never shifts under reruns — the
    non-negotiable property of an experiment key), conversion = any
    high-value purchase (value >= half the observed maximum — the
    every-user-purchases corpus makes plain did-purchase degenerate),
    and the two-proportion pooled z-test scored in
    plain column algebra. The fact log reduces to O(users) rows in
    one pass, the per-variant table is 2 rows, and the z-score rides
    a 1-row broadcast — the evaluation side of experimentation
    expressed entirely declaratively.
    """
    ev = load_table(spark, sf_dir, "events")
    hexes = "0123456789abcdef"
    variant = (
        (
            F.expr(
                f"locate(substring(md5(CAST(user_id AS STRING)), 1, 1),"
                f" '{hexes}')"
            )
            - 1
        )
        % 2
    ).alias("variant")
    assign = ev.select("user_id").distinct().select("user_id", variant)
    mx = ev.where(F.col("event_type") == "purchase").agg(
        F.max("value").alias("m")
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mx))
        .where(F.col("value") >= 0.5 * F.col("m"))
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    per_variant = (
        assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce("converted", F.lit(0))).alias("n_converted"),
        )
    )
    wide = per_variant.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("cb"),
    )
    pooled = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb"))
    z = (
        (F.col("cb") / F.col("nb") - F.col("ca") / F.col("na"))
        / F.sqrt(
            pooled * (1 - pooled) * (1 / F.col("na") + 1 / F.col("nb"))
        )
    )
    return (
        per_variant.crossJoin(F.broadcast(wide))
        .select(
            F.col("variant").cast("int"),
            "n_users",
            "n_converted",
            F.round(F.col("n_converted") / F.col("n_users"), 6).alias(
                "conv_rate"
            ),
            F.round(z, 6).alias("z_score"),
        )
    )


@register(
    "q_ts_changepoint",
    date_as_ts=True,
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    mu AS (
        SELECT event_type, day, v,
               avg(v) OVER (PARTITION BY event_type) AS mu,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
    ),
    cusum AS (
        SELECT event_type, day, n_days,
               round(abs(sum(v - mu) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )), 6) AS dev
        FROM mu
    )
    SELECT event_type, day AS cp_day, dev AS max_cusum,
           CAST(n_days AS BIGINT) AS n_days
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY dev DESC, day) AS rn
        FROM cusum
    ) WHERE rn = 1
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the per-type daily count
    series: the day where the cumulative deviation from the series
    mean |Σ(v−μ)| peaks is the most likely single level-shift point
    (Page's CUSUM statistic, argmax form). Deviations are ROUNDED
    before the argmax rank so float ulp noise can't flip the winner
    (the engine's round-before-ranking rule); ties break to the
    earliest day.

    Scale: the raw log collapses to O(types × days) in one
    partial-aggregable pass; the mean, the cumulative sum, and the
    argmax all ride the SAME event_type hash partition — one exchange
    total after the daily reduce, never a global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    wt = W.partitionBy("event_type")
    wcum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    mu = daily.select(
        "event_type",
        "day",
        "v",
        F.avg("v").over(wt).alias("mu"),
        F.count(F.lit(1)).over(wt).alias("n_days"),
    )
    cusum = mu.select(
        "event_type",
        "day",
        "n_days",
        F.round(
            F.abs(F.sum(F.col("v") - F.col("mu")).over(wcum)), 6
        ).alias("dev"),
    )
    wr = W.partitionBy("event_type").orderBy(F.desc("dev"), F.asc("day"))
    return (
        cusum.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type"),
            F.col("day").alias("cp_day"),
            F.col("dev").alias("max_cusum"),
            F.col("n_days").cast("long").alias("n_days"),
        )
    )


# Holt's linear-trend smoothing parameters (shared by the kernel and
# the recursive-CTE oracle — change together).
HOLT_ALPHA = 0.5
HOLT_BETA = 0.3


@register(
    "q_ts_holt",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS rn
        FROM daily
    ),
    n AS (SELECT event_type, max(rn) AS n FROM s GROUP BY 1),
    h AS (
        WITH RECURSIVE rec(event_type, rn, l, b) AS (
            SELECT s1.event_type, CAST(2 AS BIGINT),
                   {HOLT_ALPHA} * s2.v
                       + {1 - HOLT_ALPHA} * (s1.v + (s2.v - s1.v)),
                   {HOLT_BETA} * (({HOLT_ALPHA} * s2.v
                       + {1 - HOLT_ALPHA} * (s1.v + (s2.v - s1.v))) - s1.v)
                       + {1 - HOLT_BETA} * (s2.v - s1.v)
            FROM s s1 JOIN s s2 ON s2.event_type = s1.event_type
                                AND s1.rn = 1 AND s2.rn = 2
            UNION ALL
            SELECT rec.event_type, rec.rn + 1,
                   {HOLT_ALPHA} * s.v + {1 - HOLT_ALPHA} * (rec.l + rec.b),
                   {HOLT_BETA} * (({HOLT_ALPHA} * s.v
                       + {1 - HOLT_ALPHA} * (rec.l + rec.b)) - rec.l)
                       + {1 - HOLT_BETA} * rec.b
            FROM rec JOIN s ON s.event_type = rec.event_type
                           AND s.rn = rec.rn + 1
        )
        SELECT * FROM rec
    )
    SELECT h.event_type, round(l, 6) AS level, round(b, 6) AS trend,
           round(l + 7 * b, 6) AS forecast_7d
    FROM h JOIN n ON n.event_type = h.event_type AND h.rn = n.n
    """,
)
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double-exponential) smoothing of the
    per-type daily count series: level/trend state after the full
    series plus a 7-day-ahead forecast. Init l₁=v₁, b₁=v₂−v₁; then
    lₜ = α·vₜ + (1−α)(lₜ₋₁+bₜ₋₁), bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁.
    Unlike the EWMA (q_ts_ewma), the coupled (l, b) recurrence has no
    cumulative-sum algebra, so this is the engine's certified
    per-key-Python-kernel pattern: applyInPandas over the DAILY
    AGGREGATE (O(types × days), never raw events), plain-float
    sequential recurrence in the kernel, and the DuckDB oracle
    re-derives the exact recurrence with a RECURSIVE CTE — a
    hash-certified Python kernel, not a rows-only waiver.

    Scale: the kernel's input is the reduced series (calendar-bounded
    per key); one exchange on event_type. Types with <2 points carry
    no defined trend and are skipped (documented contract).
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        v = [float(x) for x in pdf["v"]]
        if len(v) < 2:
            return pd.DataFrame(
                {"event_type": [], "level": [], "trend": [],
                 "forecast_7d": []}
            )
        l, b = v[0], v[1] - v[0]
        for t in range(1, len(v)):
            l_new = HOLT_ALPHA * v[t] + (1 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b
            l = l_new
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "level": [round(l, 6)],
                "trend": [round(b, 6)],
                "forecast_7d": [round(l + 7 * b, 6)],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, level double, trend double, forecast_7d double",
    )


@register(
    "q_events_pareto",
    oracle="""
    WITH per_user AS (
        SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    dec AS (
        SELECT user_id, n,
               ntile(10) OVER (ORDER BY n DESC, user_id) AS decile
        FROM per_user
    ),
    by_dec AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n) AS BIGINT) AS n_events
        FROM dec GROUP BY decile
    )
    SELECT decile, n_users, n_events,
           round(CAST(n_events AS DOUBLE) / sum(n_events) OVER (), 6) AS share,
           round(CAST(sum(n_events) OVER (ORDER BY decile) AS DOUBLE)
                 / sum(n_events) OVER (), 6) AS cum_share
    FROM by_dec
    """,
)
def q_events_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / Lorenz concentration audit: users ranked into activity
    deciles (heaviest first), each decile's share and cumulative share
    of all events — the "do 10% of users produce 50% of the data?"
    question every behavioral corpus and every per-user sampling
    budget starts from.

    Scale: the ntile runs on the PER-USER AGGREGATE (one
    partial-aggregable reduce of the raw log), and everything after
    the decile assignment is 10 rows. The global ntile sort is the
    honest cost — ties broken by user_id so the binning is
    deterministic; at extreme user cardinality the same output shape
    is served by pre-ranking on count-distribution boundaries
    (q_dq_profile's count-of-counts trick), which this operator's
    certificate would also accept since the decile summary, not the
    per-user rank, is the contract.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    dec = per_user.select(
        "n",
        F.ntile(10)
        .over(W.orderBy(F.desc("n"), F.asc("user_id")))
        .cast("long")
        .alias("decile"),
    )
    by_dec = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
    )
    w_all = W.partitionBy()
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return by_dec.select(
        "decile",
        "n_users",
        "n_events",
        F.round(F.col("n_events") / F.sum("n_events").over(w_all), 6).alias(
            "share"
        ),
        F.round(
            F.sum("n_events").over(w_cum) / F.sum("n_events").over(w_all), 6
        ).alias("cum_share"),
    )


@register(
    "q_text_llr",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    big AS (
        SELECT a, b, count(*) AS cnt
        FROM (
            SELECT term AS a,
                   lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS b
            FROM toks
        )
        WHERE b IS NOT NULL
        GROUP BY a, b
    ),
    la AS (SELECT a, sum(cnt) AS ra FROM big GROUP BY a),
    rb AS (SELECT b, sum(cnt) AS cb FROM big GROUP BY b),
    nb AS (SELECT sum(cnt) AS n FROM big),
    k AS (
        SELECT big.a, big.b, big.cnt,
               CAST(big.cnt AS DOUBLE) AS k11,
               CAST(la.ra - big.cnt AS DOUBLE) AS k12,
               CAST(rb.cb - big.cnt AS DOUBLE) AS k21,
               CAST(nb.n - la.ra - rb.cb + big.cnt AS DOUBLE) AS k22,
               CAST(la.ra AS DOUBLE) AS ra, CAST(rb.cb AS DOUBLE) AS cb,
               CAST(nb.n AS DOUBLE) AS n
        FROM big JOIN la ON la.a = big.a
                 JOIN rb ON rb.b = big.b
                 CROSS JOIN nb
        WHERE big.cnt >= 5
    )
    SELECT a || ' ' || b AS bigram, CAST(cnt AS BIGINT) AS pair_cnt,
           round(2 * (
               (CASE WHEN k11 > 0
                     THEN k11 * ln(k11 * n / (ra * cb)) ELSE 0 END)
             + (CASE WHEN k12 > 0
                     THEN k12 * ln(k12 * n / (ra * (n - cb))) ELSE 0 END)
             + (CASE WHEN k21 > 0
                     THEN k21 * ln(k21 * n / ((n - ra) * cb)) ELSE 0 END)
             + (CASE WHEN k22 > 0
                     THEN k22 * ln(k22 * n / ((n - ra) * (n - cb)))
                     ELSE 0 END)
           ), 4) AS llr
    FROM k
    ORDER BY llr DESC, bigram
    LIMIT 20
    """,
)
def q_text_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by Dunning's log-likelihood ratio — the
    frequency-robust complement to q_text_pmi (PMI over-rewards rare
    pairs; LLR weighs the full 2×2 contingency table of the bigram
    stream: (a,b) vs (a,¬b) vs (¬a,b) vs (¬a,¬b)). Marginals come
    from the bigram aggregate itself (a as left token, b as right),
    so the whole statistic derives from ONE vocab-sized table.

    Scale: same shape as PMI — one corpus tokenization into the
    bigram aggregate (_bigram_counts, shared with q_text_pmi),
    then left/right marginals and the total are broadcast-sized
    re-aggregations of it; the LLR arithmetic is row-local. Ranking
    uses the ROUNDED llr with the bigram tiebreak (round-before-rank
    rule).
    """
    big = _bigram_counts(load_table(spark, sf_dir, "documents"))
    la = big.groupBy("a").agg(F.sum("cnt").alias("ra"))
    rb = big.groupBy("b").agg(F.sum("cnt").alias("cb"))
    nb = big.agg(F.sum("cnt").alias("n"))
    k = (
        big.where(F.col("cnt") >= 5)
        .join(F.broadcast(la), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(nb))
        .select(
            "a",
            "b",
            "cnt",
            F.col("cnt").cast("double").alias("k11"),
            (F.col("ra") - F.col("cnt")).cast("double").alias("k12"),
            (F.col("cb") - F.col("cnt")).cast("double").alias("k21"),
            (F.col("n") - F.col("ra") - F.col("cb") + F.col("cnt"))
            .cast("double")
            .alias("k22"),
            F.col("ra").cast("double").alias("ra"),
            F.col("cb").cast("double").alias("cb"),
            F.col("n").cast("double").alias("n"),
        )
    )

    def term(kc: str, rexp, cexp):
        kcol = F.col(kc)
        return F.when(
            kcol > 0, kcol * F.log(kcol * F.col("n") / (rexp * cexp))
        ).otherwise(F.lit(0.0))

    n, ra, cb = F.col("n"), F.col("ra"), F.col("cb")
    llr = F.round(
        2
        * (
            term("k11", ra, cb)
            + term("k12", ra, n - cb)
            + term("k21", n - ra, cb)
            + term("k22", n - ra, n - cb)
        ),
        4,
    )
    return (
        k.select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            F.col("cnt").cast("long").alias("pair_cnt"),
            llr.alias("llr"),
        )
        .orderBy(F.desc("llr"), "bigram")
        .limit(20)
    )


@register(
    "q_ts_seasonal",
    date_as_ts=True,
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    trend AS (
        SELECT event_type, day, v,
               CASE WHEN count(*) OVER w7 = 7
                    THEN avg(v) OVER w7 END AS trend
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    season AS (
        SELECT event_type, dayofweek(day) AS dow,
               avg(v - trend) AS seasonal
        FROM trend WHERE trend IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT t.event_type, t.day, t.v,
           round(t.trend, 6) AS trend,
           round(s.seasonal, 6) AS seasonal,
           round(t.v - t.trend - s.seasonal, 6) AS residual
    FROM trend t JOIN season s
      ON s.event_type = t.event_type AND s.dow = dayofweek(t.day)
    WHERE t.trend IS NOT NULL
    """,
)
def q_ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the per-type daily series
    (the moving-average STL ancestor): trend = centered 7-day moving
    average (full windows only), seasonal = mean detrended value per
    day-of-week, residual = v − trend − seasonal. The residual is
    what anomaly detection should consume — q_events_anomaly_zscore
    on raw counts alarms on every weekend; on residuals it alarms on
    actual anomalies.

    Scale: the raw log reduces to O(types × days) first; the moving
    average rides the event_type partition, the seasonal profile is
    a 7-rows-per-type broadcast join back. Nothing touches raw
    events after the first reduce.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    w7 = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trend = daily.select(
        "event_type",
        "day",
        "v",
        F.when(
            F.count(F.lit(1)).over(w7) == 7, F.avg("v").over(w7)
        ).alias("trend"),
    )
    season = (
        trend.where(F.col("trend").isNotNull())
        .groupBy("event_type", F.dayofweek("day").alias("dow"))
        .agg(F.avg(F.col("v") - F.col("trend")).alias("seasonal"))
    )
    season_r = season.select(
        F.col("event_type").alias("s_et"),
        "dow",
        "seasonal",
    )
    return (
        trend.where(F.col("trend").isNotNull())
        .join(
            F.broadcast(season_r),
            (F.col("event_type") == F.col("s_et"))
            & (F.dayofweek("day") == F.col("dow")),
        )
        .select(
            "event_type",
            "day",
            "v",
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("v") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )


@register(
    "q_ts_outlier_mad",
    date_as_ts=True,
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, quantile_cont(v, 0.5) AS med
        FROM daily GROUP BY event_type
    ),
    mad AS (
        SELECT d.event_type, m.med,
               quantile_cont(abs(d.v - m.med), 0.5) AS mad
        FROM daily d JOIN med m ON d.event_type = m.event_type
        GROUP BY d.event_type, m.med
    )
    SELECT d.event_type, d.day, d.v,
           round((d.v - m.med) / (1.4826 * m.mad), 4) AS robust_z,
           CASE WHEN abs((d.v - m.med) / (1.4826 * m.mad)) > 3
                THEN 1 ELSE 0 END AS is_outlier
    FROM daily d JOIN mad m ON d.event_type = m.event_type
    WHERE m.mad > 0
    """,
)
def q_ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days via median absolute deviation: robust_z =
    (v − median) / (1.4826·MAD), is_outlier = |z| > 3 — the estimator
    that,
    unlike q_events_anomaly_zscore's mean/stddev, is not dragged by
    the very outliers it hunts (one 100× spike inflates σ and masks
    itself; the median barely moves). Interpolated medians
    (quantile_cont ≡ Spark percentile), constant 1.4826 = 1/Φ⁻¹(3/4)
    makes robust_z σ-comparable on normal data.

    Scale: both medians run over the O(types × days) daily table
    (never raw events — the percentile-buffer caveat does not apply
    to a calendar-bounded series), and the flagging join broadcasts
    the per-type (median, MAD) pairs.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("med")
    )
    mad = (
        daily.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(v - med), 0.5)").alias("mad"))
    )
    z = (F.col("v") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        daily.join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .select(
            "event_type",
            "day",
            "v",
            F.round(z, 4).alias("robust_z"),
            F.when(F.abs(z) > 3, 1).otherwise(0).alias("is_outlier"),
        )
    )


@register(
    "q_ts_crosscorr",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(count(*) FILTER (WHERE event_type = 'click')
                    AS DOUBLE) AS c,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS DOUBLE) AS p
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag_days),
    paired AS (
        SELECT l.lag_days, a.c, b.p
        FROM lags l
        JOIN daily a ON true
        JOIN daily b ON b.d = a.d + to_days(CAST(l.lag_days AS INTEGER))
    )
    SELECT lag_days, CAST(count(*) AS BIGINT) AS n_days,
           round(corr(c, p), 6) + 0.0 AS xcorr
    FROM paired GROUP BY lag_days
    """,
)
def q_ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag CROSS-correlation between two event series: corr of
    daily click volume against purchase volume shifted -3..+3 days —
    the 'does marketing lead conversion, and by how many days?'
    diagnostic (the argmax lag is the empirical conversion delay;
    q_ts_autocorr answers the same question within one series).

    Scale: the corpus collapses to one row per day FIRST (conditional
    counts, partial-aggregable), so the 7-lag pairing is a self-join
    of a days-sized frame — broadcast, trivially — and corr is a
    mergeable co-moment. The NaN guard (zero-variance series ->
    NULL, matching DuckDB) follows the q_ts_autocorr fix.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("double")
        .alias("c"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("double")
        .alias("p"),
    )
    lags = spark.createDataFrame(
        [(i,) for i in range(-3, 4)], "lag_days long"
    )
    a = daily.select("d", "c")
    b = daily.select(F.col("d").alias("d2"), "p")
    paired = (
        # 7 lag offsets x the daily rollup (O(days), bounded):
        # broadcast the 7-row side explicitly so the fan-out is
        # map-side and the crossJoin convention stays grep-auditable
        # (VERDICT r11 item 2).
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("d2")
            == F.date_add(F.col("d"), F.col("lag_days").cast("int")),
        )
    )
    c = F.corr("c", "p")
    return paired.groupBy("lag_days").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.when(~F.isnan(c), c), 6).alias("xcorr"),
    )


@register(
    "q_ts_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type,
               (b.v - a.v) / CAST(b.day - a.day AS DOUBLE) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type,
           round(quantile_cont(slope, 0.5), 6) AS ts_slope,
           count(*) AS n_pairs
    FROM slopes GROUP BY event_type
    """,
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the MEDIAN of all
    pairwise day-to-day slopes of the daily count series. Unlike the
    least-squares slope (q_win_moving_regression, q_agg_regression)
    it has a 29% breakdown point, so one bot-traffic spike day
    cannot flip a reported growth trend — the estimator monitoring
    dashboards should prefer for noisy ingest volumes.

    Scale: the raw log first reduces to the O(types × days) daily
    series (map-side combinable); the pairwise self-join fans out
    O(D²) rows PER TYPE where D is bounded by the calendar window
    (≈730 for two years → ≤267k tiny rows per type), independent of
    corpus row count, and rides the event_type hash partition. Slope
    arithmetic stays (double diff)/(integer day diff) so both
    engines evaluate the identical IEEE expression; the median over
    the bounded per-type slope set matches DuckDB's quantile_cont.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.v") - F.col("a.v"))
            / F.datediff(F.col("b.day"), F.col("a.day")).cast("double")
        ).alias("slope"),
    )
    return slopes.groupBy("event_type").agg(
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("ts_slope"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


@register(
    "q_ts_periodogram",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, min(day) AS d0, avg(v) AS mu
        FROM daily GROUP BY 1
    ),
    centered AS (
        SELECT d.event_type, CAST(d.day - s.d0 AS DOUBLE) AS t,
               d.v - s.mu AS vc
        FROM daily d JOIN stats s USING (event_type)
    ),
    grid AS (
        SELECT unnest([2,3,4,5,6,7,8,9,10,11,12,13,14]) AS period
    ),
    terms AS (
        SELECT event_type, period,
               sum(vc * cos(2 * pi() * t / period)) AS sc,
               sum(vc * sin(2 * pi() * t / period)) AS ss,
               sum(vc * vc) AS ssq
        FROM centered CROSS JOIN grid
        GROUP BY 1, 2
    )
    SELECT event_type, period,
           round((sc * sc + ss * ss) / ssq, 6) AS power_frac
    FROM terms WHERE ssq > 0
    """,
)
def q_ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram over the per-type daily count series: DFT power
    at each candidate period 2..14 days, normalized by total
    variance — the direct seasonality detector (a weekly cycle shows
    as the period-7 spike) that picks the season length
    q_ts_seasonal then decomposes with, instead of assuming 7.

    Scale: the log reduces to O(types × days) once; the 13-row
    period grid is a broadcast cross join fanning the series ×13,
    and each (type, period) power is a map-side-combinable sum of
    cos/sin products — no windows, no sequential pass, no state
    beyond two doubles per group. Mean-centering kills the DC term
    so power_frac is comparable across types. Trig arithmetic is
    written in the identical evaluation order in both engines
    ((2·π·t)/p) so the doubles agree to final-rounding precision.
    """
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    stats = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.avg("v").alias("mu")
    )
    centered = daily.join(stats, "event_type").select(
        "event_type",
        F.datediff("day", "d0").cast("double").alias("t"),
        (F.col("v") - F.col("mu")).alias("vc"),
    )
    grid = spark.createDataFrame(
        [(p,) for p in range(2, 15)], "period int"
    )
    angle = F.lit(2.0) * F.lit(math.pi) * F.col("t") / F.col("period")
    terms = (
        centered.crossJoin(F.broadcast(grid))
        .groupBy("event_type", "period")
        .agg(
            F.sum(F.col("vc") * F.cos(angle)).alias("sc"),
            F.sum(F.col("vc") * F.sin(angle)).alias("ss"),
            F.sum(F.col("vc") * F.col("vc")).alias("ssq"),
        )
    )
    return terms.filter(F.col("ssq") > 0).select(
        "event_type",
        "period",
        F.round(
            (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
            / F.col("ssq"),
            6,
        ).alias("power_frac"),
    )


@register(
    "q_ts_drawdown",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    run AS (
        SELECT event_type, day, v,
               max(v) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS peak
        FROM daily
    )
    SELECT event_type,
           round(max(peak - v), 2) AS max_drawdown,
           round(max((peak - v) / peak), 6) AS max_drawdown_frac,
           count(*) AS n_days
    FROM run GROUP BY event_type
    """,
)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the per-type daily volume series: the
    deepest drop from a running peak, absolute and as a fraction of
    that peak — the single-number "how bad did ingest collapse"
    metric that pairs with q_ts_changepoint (which finds WHEN) for
    pipeline-health review.

    Scale: the log reduces to the O(types × days) series first; the
    running peak rides the event_type partition ordered by day, and
    the final max is a map-side-combinable aggregate. peak ≥ v > 0
    always (the day exists ⇒ count ≥ 1), so the fraction never
    divides by zero.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = daily.select(
        "event_type", "v", F.max("v").over(w).alias("peak")
    )
    return run.groupBy("event_type").agg(
        F.round(F.max(F.col("peak") - F.col("v")), 2).alias(
            "max_drawdown"
        ),
        F.round(
            F.max((F.col("peak") - F.col("v")) / F.col("peak")), 6
        ).alias("max_drawdown_frac"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "q_events_anomaly_deseasonalized",
    date_as_ts=True,
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    trend AS (
        SELECT event_type, day, v,
               CASE WHEN count(*) OVER w7 = 7
                    THEN avg(v) OVER w7 END AS trend
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    season AS (
        SELECT event_type, dayofweek(day) AS dow,
               avg(v - trend) AS seasonal
        FROM trend WHERE trend IS NOT NULL
        GROUP BY 1, 2
    ),
    res AS (
        SELECT t.event_type, t.day, t.v,
               round(t.v - t.trend - s.seasonal, 6) AS residual
        FROM trend t JOIN season s
          ON s.event_type = t.event_type AND s.dow = dayofweek(t.day)
        WHERE t.trend IS NOT NULL
    ),
    st AS (
        SELECT event_type, avg(residual) AS mu,
               stddev_samp(residual) AS sd
        FROM res GROUP BY event_type
    )
    SELECT r.event_type, r.day, r.v, r.residual,
           round((r.residual - st.mu) / st.sd, 6) AS z
    FROM res r JOIN st ON st.event_type = r.event_type
    WHERE st.sd > 0
      AND abs((r.residual - st.mu) / st.sd) >= 2
    """,
)
def q_events_anomaly_deseasonalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Anomalous (type, day) cells scored on SEASONAL RESIDUALS —
    the composition q_ts_seasonal's docstring promises: raw-count
    z-scores (q_events_anomaly_zscore) alarm on every weekend, so
    this op z-scores the residual AFTER removing the 7-day moving
    trend and the day-of-week profile, flagging |z| ≥ 2. Reuses the
    registered q_ts_seasonal frame unchanged; the z layer is one
    per-type mean/stddev aggregate joined back — both mergeable, so
    the composition adds a single tiny shuffle to the decomposition.
    """
    from ..registry import QUERIES

    res = QUERIES["q_ts_seasonal"](spark, sf_dir).select(
        "event_type", "day", "v", "residual"
    )
    st = res.groupBy("event_type").agg(
        F.avg("residual").alias("mu"),
        F.stddev_samp("residual").alias("sd"),
    )
    z = (F.col("residual") - F.col("mu")) / F.col("sd")
    return (
        res.join(st, "event_type")
        .filter((F.col("sd") > 0) & (F.abs(z) >= 2))
        .select(
            "event_type", "day", "v", "residual",
            F.round(z, 6).alias("z"),
        )
    )


@register(
    "q_events_ab_srm",
    oracle="""
    WITH assign AS (
        SELECT DISTINCT user_id,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
                - 1) % 2 AS variant
        FROM events
    ),
    counts AS (
        SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS na,
               CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS nb
        FROM assign
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round((na - (na + nb) / 2) * (na - (na + nb) / 2)
                 / ((na + nb) / 2)
                 + (nb - (na + nb) / 2) * (nb - (na + nb) / 2)
                 / ((na + nb) / 2), 6) AS chi2,
           ((na - (na + nb) / 2) * (na - (na + nb) / 2)
                 / ((na + nb) / 2)
                 + (nb - (na + nb) / 2) * (nb - (na + nb) / 2)
                 / ((na + nb) / 2)) > 3.841 AS srm_detected
    FROM counts
    """,
)
def q_events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for the experiment in
    q_events_ab_test: chi-square of the observed variant split
    against the designed 50/50 (threshold 3.841 = χ²₁ at 95%). SRM
    is the first thing a trustworthy experimentation system checks —
    a significant mismatch means the ASSIGNMENT is broken (bot
    filtering, logging loss) and every downstream p-value is
    invalid, so this runs before the z-test, not after.

    Scale: distinct users reduce in one pass, the variant split is a
    2-value conditional count, and the χ² assembly runs on one row.
    Assignment arithmetic is the identical md5-hex-parity expression
    certified in q_events_ab_test.
    """
    ev = load_table(spark, sf_dir, "events")
    hexes = "0123456789abcdef"
    variant = (
        (
            F.expr(
                f"locate(substring(md5(CAST(user_id AS STRING)), 1, 1),"
                f" '{hexes}')"
            )
            - 1
        )
        % 2
    ).alias("variant")
    assign = ev.select("user_id").distinct().select("user_id", variant)
    counts = assign.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("double")
        .alias("nb"),
    )
    e = (F.col("na") + F.col("nb")) / 2
    chi2 = (
        (F.col("na") - e) * (F.col("na") - e) / e
        + (F.col("nb") - e) * (F.col("nb") - e) / e
    )
    return counts.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


@register(
    "q_ts_volatility",
    date_as_ts=True,
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    deltas AS (
        SELECT event_type, day,
               v - lag(v) OVER w AS dv
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           round(stddev_samp(dv) OVER w7, 6) AS volatility_7d
    FROM deltas
    WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    QUALIFY count(dv) OVER w7 = 7
    """,
)
def q_ts_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day volatility of the daily volume series: the
    standard deviation of day-over-day CHANGES in a trailing window
    (differencing first removes the trend, so a smoothly growing
    stream reads low-volatility while a jittery flat one reads high
    — the opposite of what raw-count stddev says). The ingest
    turbulence gauge next to q_ts_drawdown's worst-case depth;
    full windows only, so early days emit nothing rather than a
    misleading short-window number.

    Scale: O(types × days) after the first reduce; both the lag and
    the rolling stddev ride the same event_type partitioning (one
    exchange, Catalyst reuses it), and stddev is the mergeable
    second-moment aggregate certified across engines elsewhere.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    w = W.partitionBy("event_type").orderBy("day")
    w7 = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    deltas = daily.select(
        "event_type",
        "day",
        (F.col("v") - F.lag("v").over(w)).alias("dv"),
    )
    return (
        deltas.select(
            "event_type",
            "day",
            F.round(F.stddev_samp("dv").over(w7), 6).alias(
                "volatility_7d"
            ),
            F.count("dv").over(w7).alias("nfull"),
        )
        .filter(F.col("nfull") == 7)
        .drop("nfull")
    )


@register(
    "q_ts_hampel",
    date_as_ts=True,
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    fr AS (
        SELECT event_type, day, x,
               list_sort(list(x) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS ls
        FROM daily
    ),
    m AS (
        SELECT event_type, day, x, ls, len(ls) AS n,
               (ls[(len(ls) + 1) // 2] + ls[(len(ls) + 2) // 2]) / 2e0
                   AS med
        FROM fr
    ),
    d AS (
        SELECT event_type, day, x, n, med,
               list_sort(list_transform(ls, v -> abs(v - med))) AS ds
        FROM m
    )
    SELECT event_type, day, x,
           round(med, 6) AS med,
           round((ds[(n + 1) // 2] + ds[(n + 2) // 2]) / 2e0, 6) AS mad,
           CASE WHEN (ds[(n + 1) // 2] + ds[(n + 2) // 2]) / 2e0 > 0
                THEN CASE WHEN abs(x - med) > 3e0 * 1.4826e0
                          * ((ds[(n + 1) // 2] + ds[(n + 2) // 2]) / 2e0)
                          THEN 1 ELSE 0 END
                WHEN abs(x - med) > 0 THEN 1 ELSE 0 END AS is_outlier
    FROM d
    """,
)
def q_ts_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter: ROLLING-window robust outlier detection on the
    per-type daily series — a point is anomalous when it sits more
    than 3 robust sigmas (1.4826·MAD) from the median of its ±3-day
    NEIGHBORHOOD. The local frame is what q_ts_outlier_mad's global
    MAD cannot give: a level shift (new normal) stops flagging after
    3 days here, while the global form flags the entire regime.

    Degenerate neighborhoods (all 7 values equal → MAD 0) use the
    standard Hampel fallback: any deviation from the median flags —
    without it, a spike inside a perfectly flat series (the easiest
    possible anomaly) would be invisible because its own robust
    scale collapses to zero.

    The 7-row frame is collected as an array per row and the
    interpolated median/MAD computed by explicit sort + element_at
    arithmetic — IDENTICAL index/interpolation rules in both engines
    (quantile conventions differ across engines; array arithmetic
    does not). Counts and their halves are dyadic rationals, so med,
    the deviations, and mad are all EXACT doubles; the only inexact
    step is the final 1.4826 threshold multiply.

    Scale: the raw log collapses to O(types × days) first; the
    window holds at most 7 values per row (O(1) state, spillable
    sort per type). Nothing here touches raw-event cardinality.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    fr = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    ls = F.sort_array(F.collect_list("x").over(fr))
    n = F.size(ls)

    def interp_mid(sorted_arr: F.Column, nn: F.Column) -> F.Column:
        lo = F.element_at(sorted_arr, ((nn + 1) / 2).cast("int"))
        hi = F.element_at(sorted_arr, ((nn + 2) / 2).cast("int"))
        return (lo + hi) / F.lit(2.0)

    base = daily.select(
        "event_type", "day", "x", ls.alias("ls"), n.alias("n")
    )
    m = base.select(
        "event_type",
        "day",
        "x",
        "ls",
        "n",
        interp_mid(F.col("ls"), F.col("n")).alias("med"),
    )
    ds = F.sort_array(
        F.transform(F.col("ls"), lambda v: F.abs(v - F.col("med")))
    )
    d = m.select(
        "event_type", "day", "x", "n", "med", ds.alias("ds")
    )
    mad = interp_mid(F.col("ds"), F.col("n"))
    return d.select(
        "event_type",
        "day",
        "x",
        F.round("med", 6).alias("med"),
        F.round(mad, 6).alias("mad"),
        F.when(
            mad > 0,
            F.when(
                F.abs(F.col("x") - F.col("med"))
                > F.lit(3.0) * F.lit(1.4826) * mad,
                1,
            ).otherwise(0),
        )
        .when(F.abs(F.col("x") - F.col("med")) > 0, 1)
        .otherwise(0)
        .alias("is_outlier"),
    )


@register(
    "q_ts_strength",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    trend AS (
        SELECT event_type, day, v,
               CASE WHEN count(*) OVER w7 = 7
                    THEN avg(v) OVER w7 END AS trend
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    season AS (
        SELECT event_type, dayofweek(day) AS dow,
               avg(v - trend) AS seasonal
        FROM trend WHERE trend IS NOT NULL
        GROUP BY 1, 2
    ),
    comp AS (
        SELECT t.event_type,
               round(t.trend, 6) AS trend,
               round(s.seasonal, 6) AS seasonal,
               round(t.v - t.trend - s.seasonal, 6) AS residual,
               t.v
        FROM trend t JOIN season s
          ON s.event_type = t.event_type AND s.dow = dayofweek(t.day)
        WHERE t.trend IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(greatest(0e0,
               1e0 - var_samp(residual)
                   / var_samp(v - seasonal)), 6) AS f_trend,
           round(greatest(0e0,
               1e0 - var_samp(residual)
                   / var_samp(v - trend)), 6) AS f_season
    FROM comp GROUP BY event_type
    """,
)
def q_ts_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend/seasonality STRENGTH (Hyndman's F-measures over the
    classical decomposition): F_T = max(0, 1 − Var(R)/Var(T+R)) and
    F_S = max(0, 1 − Var(R)/Var(S+R)) per event type — the scalar
    that turns q_ts_seasonal's component frame into a decision
    ('is there enough weekly signal to justify seasonal models /
    seasonal anomaly baselines?'). Consumes the REGISTERED
    decomposition frame unchanged (rounded components, so both
    engines variance identical inputs); deseasonalized = v −
    seasonal, detrended = v − trend.

    Scale: one partial-aggregable variance pass over the
    O(types × days) component frame — var_samp is a mergeable
    second-moment aggregate, so this adds a single tiny shuffle to
    the decomposition.
    """
    from ..registry import QUERIES

    comp = QUERIES["q_ts_seasonal"](spark, sf_dir)
    return (
        comp.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.var_samp("residual")
                    / F.var_samp(F.col("v") - F.col("seasonal")),
                ),
                6,
            ).alias("f_trend"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.var_samp("residual")
                    / F.var_samp(F.col("v") - F.col("trend")),
                ),
                6,
            ).alias("f_season"),
        )
    )


@register(
    "q_orders_price_index",
    oracle="""
    WITH py AS (
        SELECT l_partkey AS part, year(l_shipdate) AS yr,
               sum(l_extendedprice) / sum(l_quantity) AS p,
               sum(l_quantity) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    base AS (SELECT part, p AS p0, q AS q0 FROM py WHERE yr = 1995)
    SELECT CAST(py.yr AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(py.p * base.q0) / sum(base.p0 * base.q0), 6)
               AS laspeyres
    FROM py JOIN base ON base.part = py.part
    WHERE py.yr <> 1995
    GROUP BY py.yr
    """,
)
def q_orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index by ship year against the 1995 base
    basket: L_y = Σ p_y·q₀ / Σ p₀·q₀ over parts traded in BOTH the
    base year and year y (the matched-basket restriction every real
    price index makes; n_parts reports the basket size so basket
    shrinkage is visible). Unit price per (part, year) is the
    quantity-weighted sum(price)/sum(qty) — one pass, no AVG-of-
    ratios bias. The fixed-base-quantity design is what makes this
    an inflation measure rather than a revenue-mix artifact: only
    prices vary across the numerator series.

    Scale: the fact table collapses to O(parts × years) in one
    partial-aggregable pass; the base-year slice is a broadcastable
    dim keyed by part; the final rollup has O(years) groups. Floats
    enter at the per-cell division, summed once per year and
    rounded at 6.
    """
    li = load_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").alias("yr"),
    ).agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        F.sum("l_quantity").alias("q"),
    )
    base = py.filter(F.col("yr") == 1995).select(
        "part", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    return (
        py.filter(F.col("yr") != 1995)
        .join(F.broadcast(base), "part")
        .groupBy(F.col("yr").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum(F.col("p") * F.col("q0"))
                / F.sum(F.col("p0") * F.col("q0")),
                6,
            ).alias("laspeyres"),
        )
    )


_HILL_K = 20


@register(
    "q_events_hill_tail",
    oracle=f"""
    WITH ux AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
    top AS (SELECT user_id, x FROM ux
            ORDER BY x DESC, user_id LIMIT {_HILL_K + 1}),
    th AS (SELECT x AS xk, user_id AS uk FROM top
           ORDER BY x ASC, user_id DESC LIMIT 1),
    tail AS (SELECT x FROM top, th WHERE top.user_id <> th.uk)
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(th.xk AS BIGINT) AS x_threshold,
           CASE WHEN avg(ln(CAST(x AS DOUBLE)))
                     - ln(CAST(th.xk AS DOUBLE)) > 0
                THEN round(1e0 / (avg(ln(CAST(x AS DOUBLE)))
                                  - ln(CAST(th.xk AS DOUBLE))), 6)
           END AS hill_alpha
    FROM tail, th GROUP BY th.xk
    """,
)
def q_events_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the activity distribution's tail index:
    α̂ = 1 / (mean(ln x₍ᵢ₎) − ln x₍k₊₁₎) over the top-k per-user
    event counts — the quantitative form of 'how heavy is the power
    law' that q_events_pareto eyeballs. α ≤ 2 means infinite
    variance: mean-based capacity planning and uniform partitioning
    both break, and the skew mitigations (q_agg_salted_twophase /
    q_join_skew_hybrid) stop being optional. Degenerate tails (all
    top-k counts equal) yield NULL rather than a division blow-up.

    Scale: the corpus reduces to O(users) counts map-side; the
    top-(k+1) cut is TakeOrderedAndProject (no global window — the
    threshold row is separated from the tail sample by a bounded
    21-row max(struct) instead); everything after runs on ≤ 21 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    ux = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    top = ux.orderBy(F.desc("x"), F.asc("user_id")).limit(_HILL_K + 1)
    th = top.agg(
        F.max(
            F.struct(
                (-F.col("x")).alias("nx"), F.col("user_id").alias("u")
            )
        ).alias("t")
    ).select(
        (-F.col("t.nx")).alias("xk"), F.col("t.u").alias("uk")
    )
    tail = top.crossJoin(F.broadcast(th)).filter(
        F.col("user_id") != F.col("uk")
    )
    denom = F.avg(F.log(F.col("x").cast("double"))) - F.first(
        F.log(F.col("xk").cast("double"))
    )
    return tail.groupBy(F.col("xk").cast("bigint").alias("x_threshold")).agg(
        F.count(F.lit(1)).alias("k"),
        F.when(denom > 0, F.round(F.lit(1.0) / denom, 6)).alias(
            "hill_alpha"
        ),
    ).select("k", "x_threshold", "hill_alpha")


@register(
    "q_orders_abc_xyz",
    oracle="""
    WITH pm AS (
        SELECT l_partkey AS part,
               year(l_shipdate) * 12 + month(l_shipdate) AS ym,
               sum(l_quantity) AS q,
               sum(l_extendedprice) AS rev
        FROM lineitem GROUP BY 1, 2
    ),
    ps AS (
        SELECT part, sum(rev) AS revenue,
               CASE WHEN avg(q) > 0 AND count(*) > 1
                    THEN stddev_samp(q) / avg(q) END AS cv
        FROM pm GROUP BY part
    ),
    tot AS (SELECT sum(revenue) AS t FROM ps),
    ranked AS (
        SELECT part, revenue, cv,
               sum(revenue) OVER (ORDER BY revenue DESC, part
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_rev
        FROM ps
    ),
    cls AS (
        SELECT CASE WHEN cum_rev - revenue < 0.8 * tot.t THEN 'A'
                    WHEN cum_rev - revenue < 0.95 * tot.t THEN 'B'
                    ELSE 'C' END AS abc,
               CASE WHEN cv IS NULL THEN 'Z'
                    WHEN cv <= 0.5 THEN 'X'
                    WHEN cv <= 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz,
               revenue
        FROM ranked, tot
    )
    SELECT abc, xyz, count(*) AS n_parts,
           round(sum(revenue), 2) AS revenue
    FROM cls GROUP BY 1, 2
    """,
)
def q_orders_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory classification matrix: parts classed by
    cumulative revenue share (A ≤ 80%, B ≤ 95%, C the tail — the
    Pareto cut q_events_pareto applies to users, here to SKUs) ×
    demand predictability (coefficient of variation of monthly
    quantity: X ≤ 0.5 steady, Y ≤ 1.0, Z erratic or single-month).
    The A×Z cell is the planner's nightmare quadrant (high value,
    unforecastable) and the reason the two dimensions must be
    CROSSED, not read separately.

    Scale: the fact table reduces to O(parts × months) then
    O(parts); the cumulative-revenue rank is ONE ordered window over
    the part-level aggregate — global, but dim-sized (the
    q_events_pareto precedent: 20k rows of (part, revenue) in a
    single sorted partition is the cheap correct plan; the window-
    free O(P²) self-join alternative is quadratic in the part
    dimension and loses at exactly the scale where it matters); the
    output is a ≤9-cell matrix.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
    ).agg(
        F.sum("l_quantity").alias("q"),
        F.sum("l_extendedprice").alias("rev"),
    )
    ps = pm.groupBy("part").agg(
        F.sum("rev").alias("revenue"),
        F.when(
            (F.avg("q") > 0) & (F.count(F.lit(1)) > 1),
            F.stddev_samp("q") / F.avg("q"),
        ).alias("cv"),
    )
    tot = ps.agg(F.sum("revenue").alias("t"))
    w_cum = W.orderBy(F.desc("revenue"), F.asc("part")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ranked = ps.select(
        "part",
        "revenue",
        "cv",
        F.sum("revenue").over(w_cum).alias("cum_rev"),
    )
    # class by the cumulative share BEFORE the part: a part is A when
    # it starts inside the first 80% of revenue — the convention that
    # keeps a single dominant SKU in class A instead of skipping
    # straight to C because its own revenue overshoots the cut.
    abc = (
        F.when(
            F.col("cum_rev") - F.col("revenue") < 0.8 * F.col("t"), "A"
        )
        .when(
            F.col("cum_rev") - F.col("revenue") < 0.95 * F.col("t"), "B"
        )
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("cv").isNull(), "Z")
        .when(F.col("cv") <= 0.5, "X")
        .when(F.col("cv") <= 1.0, "Y")
        .otherwise("Z")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(abc.alias("abc"), xyz.alias("xyz"), "revenue")
        .groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
        )
    )


_Z_ALPHA = 1.959963984540054  # two-sided 0.05
_Z_BETA = 0.8416212335729143  # power 0.80


@register(
    "q_events_ab_power",
    oracle=f"""
    WITH mx AS (SELECT max(value) AS mv FROM events
                WHERE event_type = 'purchase'),
    u AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase'
                         AND value >= mv / 2
                        THEN 1 ELSE 0 END) AS conv
        FROM events, mx GROUP BY user_id
    ),
    s AS (
        SELECT count(*) AS n_users,
               CAST(sum(conv) AS DOUBLE) / count(*) AS p
        FROM u
    ),
    d AS (
        SELECT n_users, p,
               least(p * CAST(1.05 AS DOUBLE), CAST(1 AS DOUBLE)) AS p2
        FROM s
    )
    SELECT n_users,
           round(p, 6) AS p_base,
           round(({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
                 * (p * (1 - p) + p2 * (1 - p2))
                 / ((p2 - p) * (p2 - p)), 2) AS n_per_arm_5pct_lift,
           round(({_Z_ALPHA} + {_Z_BETA})
                 * sqrt(2 * p * (1 - p)
                        / (CAST(n_users AS DOUBLE) / 2)), 6)
               AS mde_at_current_n
    FROM d
    """,
)
def q_events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment POWER planning from measured data — the question
    asked before `q_events_ab_test` is ever run: given the observed
    baseline conversion rate p (high-value purchase, the same
    conversion definition as ab_test since plain did-purchase is
    degenerate on this corpus), (a) how many users per arm does a
    5% relative lift need at alpha=.05 two-sided / 80% power
    (two-proportion normal approximation,
    n = (z_a+z_b)^2 (p1 q1 + p2 q2) / (p2-p1)^2), and (b) what
    minimum detectable effect does the CURRENT population support if
    split 50/50 (the inverse formula solved for delta). Both are
    closed-form arithmetic on two aggregates, with the z constants
    pinned as literals — no erf/quantile libm in either engine, so
    the certificate is deterministic cross-engine double math.

    Scale: one per-user conversion rollup (map-side combinable
    max), one global aggregate. The power math itself is O(1) — the
    point is that the INPUTS (p, n) come from the full corpus, not a
    sample, which at 100 TB is exactly what a planning query should
    do cheaply.
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.filter(F.col("event_type") == "purchase").agg(
        F.max("value").alias("mv")
    )
    u = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= F.col("mv") / 2),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
    )
    s = u.agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.sum("conv").cast("double") / F.count(F.lit(1))).alias("p"),
    )
    z = F.lit(_Z_ALPHA + _Z_BETA)
    p = F.col("p")
    p2 = F.least(p * F.lit(1.05), F.lit(1.0))
    return s.select(
        "n_users",
        F.round(p, 6).alias("p_base"),
        F.round(
            z * z * (p * (1 - p) + p2 * (1 - p2)) / ((p2 - p) * (p2 - p)),
            2,
        ).alias("n_per_arm_5pct_lift"),
        F.round(
            z
            * F.sqrt(
                2 * p * (1 - p) / (F.col("n_users").cast("double") / 2)
            ),
            6,
        ).alias("mde_at_current_n"),
    )


_DTW_BAND = 10


@register(
    "q_ts_dtw",
    oracle=f"""
    WITH RECURSIVE
    days AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS av,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS bv
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT row_number() OVER (ORDER BY d) AS i, av, bv FROM days
    ),
    n AS (SELECT count(*) AS n FROM s),
    dp(i, j, c, fresh) AS (
        SELECT 1, 1, abs(a.av - b.bv), 1
        FROM s a, s b WHERE a.i = 1 AND b.i = 1
        UNION ALL
        SELECT * FROM (
            WITH w AS (SELECT i, j, c, fresh FROM dp),
            cand AS (
                SELECT DISTINCT m.ci AS i, m.cj AS j
                FROM w, n,
                     LATERAL (VALUES (w.i + 1, w.j), (w.i, w.j + 1))
                         AS m(ci, cj)
                WHERE w.fresh = 1
                  AND m.ci <= n.n AND m.cj <= n.n
                  AND abs(m.ci - m.cj) <= {_DTW_BAND}
            )
            SELECT cand.i, cand.j,
                   abs(sa.av - sb.bv)
                   + (SELECT min(w2.c) FROM w w2
                      WHERE (w2.i, w2.j) IN ((cand.i - 1, cand.j),
                                             (cand.i, cand.j - 1),
                                             (cand.i - 1, cand.j - 1)))
                       AS c,
                   1 AS fresh
            FROM cand
            JOIN s sa ON sa.i = cand.i
            JOIN s sb ON sb.i = cand.j
            UNION ALL
            SELECT i, j, c, 0 FROM w WHERE fresh = 1
        )
    )
    SELECT CAST(n.n AS BIGINT) AS n_days,
           round(dp.c, 4) AS dtw_distance
    FROM dp, n WHERE dp.i = n.n AND dp.j = n.n AND dp.fresh = 1
    """,
)
def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance (Sakoe-Chiba band = 10) between
    the daily click and purchase series — the alignment-tolerant
    series similarity `q_ts_similarity`'s lockstep correlation can't
    express (a purchase curve that lags clicks by two days is
    near-identical under DTW, dissimilar under Pearson). The DP is
    inherently sequential, so this is the two-layer shape every
    sequential kernel takes in this engine: layer 1 DISTRIBUTES —
    the 100 TB event stream collapses to O(days) per-day counts via
    one map-side-combinable aggregate; layer 2 runs the O(n*band) DP
    on that bounded series inside ONE Arrow-batched pandas UDF (the
    sanctioned custom-operator escape hatch — bytes cross the
    JVM->Python boundary once, and n = days, never rows). The DuckDB
    oracle replays the identical DP as a RECURSIVE CTE marching the
    anti-diagonal frontier (the q_ts_holt / q_graph_bfs sequential-
    kernel-oracle pattern, extended to a 2-D frontier with a
    fresh-flag carrying exactly two diagonals); daily counts are
    integers, so every |a_i - b_j| and min(+) is exact in double
    arithmetic and the certificate is bit-deterministic, not
    rounding-forgiven.

    Scale: the only thing that grows at 100 TB is layer 1, which is
    a count-by-(day, type) partial aggregate; the DP cost is fixed
    by the calendar, and banding keeps it O(n*band) if the calendar
    grows to years.
    """
    from pyspark.sql.functions import pandas_udf

    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("double")
        .alias("av"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("double")
        .alias("bv"),
    )
    packed = days.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "av"))),
            lambda x: x["av"],
        ).alias("a"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "bv"))),
            lambda x: x["bv"],
        ).alias("b"),
    )

    @pandas_udf("double")
    def dtw_band(a_ser: pd.Series, b_ser: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(a_ser, b_ser):
            n, m = len(a), len(b)
            if n == 0 or m == 0:
                out.append(None)
                continue
            inf = float("inf")
            dp = [[inf] * (m + 1) for _ in range(n + 1)]
            dp[1][1] = abs(a[0] - b[0])
            for i in range(1, n + 1):
                for j in range(1, m + 1):
                    if (i == 1 and j == 1) or abs(i - j) > _DTW_BAND:
                        continue
                    prev = min(
                        dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1]
                    )
                    if prev == inf:
                        continue
                    dp[i][j] = abs(a[i - 1] - b[j - 1]) + prev
            out.append(dp[n][m])
        return pd.Series(out, dtype="float64")

    return (
        packed.select(
            F.size("a").cast("bigint").alias("n_days"),
            F.round(dtw_band("a", "b"), 4).alias("dtw_distance"),
        )
        .filter(F.col("n_days") > 0)
    )


@register(
    "q_events_did",
    oracle="""
    WITH cells AS (
        SELECT (strpos('0123456789abcdef',
                       substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1)
                   % 2 AS treat,
               CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN 1 ELSE 0 END AS post,
               count(*) AS n,
               CAST(sum(value) AS DOUBLE) AS sx,
               CAST(sum(value * value) AS DOUBLE) AS sxx
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    m AS (
        SELECT treat, post, n, sx / n AS mu,
               (sxx - sx * sx / n) / (n - 1) / n AS mvar
        FROM cells WHERE n > 1
    ),
    wide AS (
        SELECT
            max(CASE WHEN treat = 0 AND post = 0 THEN mu END) AS m00,
            max(CASE WHEN treat = 0 AND post = 1 THEN mu END) AS m01,
            max(CASE WHEN treat = 1 AND post = 0 THEN mu END) AS m10,
            max(CASE WHEN treat = 1 AND post = 1 THEN mu END) AS m11,
            max(CASE WHEN treat = 0 AND post = 0 THEN mvar END) AS v00,
            max(CASE WHEN treat = 0 AND post = 1 THEN mvar END) AS v01,
            max(CASE WHEN treat = 1 AND post = 0 THEN mvar END) AS v10,
            max(CASE WHEN treat = 1 AND post = 1 THEN mvar END) AS v11,
            CAST(sum(n) AS BIGINT) AS n_obs
        FROM m
    )
    SELECT n_obs,
           round(m00, 6) AS mean_ctrl_pre,
           round(m01, 6) AS mean_ctrl_post,
           round(m10, 6) AS mean_treat_pre,
           round(m11, 6) AS mean_treat_post,
           round((m11 - m10) - (m01 - m00), 6) AS did_estimate,
           round(sqrt(v00 + v01 + v10 + v11), 6) AS did_se,
           round(((m11 - m10) - (m01 - m00))
                 / sqrt(v00 + v01 + v10 + v11), 6) AS z_score
    FROM wide
    """,
)
def q_events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator — the causal tool for when
    assignment ISN'T randomized (rollouts, geo launches): the treated
    group's pre-to-post change in mean purchase value, net of the
    control group's change over the same calendar split (post =
    second half of the log), cancels any shared time trend under the
    parallel-trends assumption. Completes the experimentation suite:
    q_events_ab_test (randomized z-test), q_events_ab_srm (validity),
    q_events_ab_power (planning), DiD (observational). Treatment uses
    the same engine-portable md5-parity assignment as ab_test; since
    that assignment IS random here, the true effect is 0 and the
    z_score doubles as a placebo/A-A check on the estimator itself.
    SE is the four-cell delta-method sum of mean-variances, each
    computed from exact integer-free sums (sum, sum-of-squares, one
    fixed-order division) so the statistic is deterministic under
    any partition merge order.

    Scale: ONE pass over the fact — a 4-group partial-aggregable
    rollup of three moments; everything after is arithmetic on four
    rows. This is the whole point of closed-form inference at 100
    TB: the data never moves, only (n, sum, sumsq) per cell does.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    treat = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1),
        )
        - 1
    ) % 2
    post = F.when(
        F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), 1
    ).otherwise(0)
    cells = ev.groupBy(
        treat.alias("treat"), post.alias("post")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").cast("double").alias("sx"),
        F.sum(F.col("value") * F.col("value"))
        .cast("double")
        .alias("sxx"),
    )
    m = cells.filter(F.col("n") > 1).select(
        "treat",
        "post",
        "n",
        (F.col("sx") / F.col("n")).alias("mu"),
        (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("mvar"),
    )

    def cell(t: int, p: int, col: str) -> F.Column:
        return F.max(
            F.when(
                (F.col("treat") == t) & (F.col("post") == p), F.col(col)
            )
        )

    wide = m.agg(
        *[
            cell(t, p, "mu").alias(f"m{t}{p}")
            for t in (0, 1)
            for p in (0, 1)
        ],
        *[
            cell(t, p, "mvar").alias(f"v{t}{p}")
            for t in (0, 1)
            for p in (0, 1)
        ],
        F.sum("n").cast("bigint").alias("n_obs"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    se = F.sqrt(
        F.col("v00") + F.col("v01") + F.col("v10") + F.col("v11")
    )
    return wide.select(
        "n_obs",
        F.round("m00", 6).alias("mean_ctrl_pre"),
        F.round("m01", 6).alias("mean_ctrl_post"),
        F.round("m10", 6).alias("mean_treat_pre"),
        F.round("m11", 6).alias("mean_treat_post"),
        F.round(did, 6).alias("did_estimate"),
        F.round(se, 6).alias("did_se"),
        F.round(did / se, 6).alias("z_score"),
    )


@register(
    "q_orders_backlog_aging",
    oracle="""
    WITH open_lines AS (
        SELECT o.o_orderkey, o.o_orderdate, l.l_extendedprice
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate <= TIMESTAMP '1998-06-30'
          AND l.l_shipdate > TIMESTAMP '1998-06-30'
    ),
    aged AS (
        SELECT o_orderkey, l_extendedprice,
               date_diff('day', CAST(o_orderdate AS DATE),
                         DATE '1998-06-30') AS age_days
        FROM open_lines
    )
    SELECT CASE WHEN age_days <= 30 THEN '0-030'
                WHEN age_days <= 90 THEN '031-090'
                WHEN age_days <= 180 THEN '091-180'
                ELSE '180+' END AS age_bucket,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           count(*) AS n_open_lines,
           round(sum(l_extendedprice), 2) AS open_value
    FROM aged
    GROUP BY 1
    """,
)
def q_orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time open-order backlog aging — the operational
    report warehouses run nightly: as of a fixed cutoff, every line
    not yet shipped (l_shipdate > cutoff) on an order already placed
    (o_orderdate <= cutoff) is open exposure, bucketed by how long
    the order has been waiting. Bucket labels are zero-padded so
    lexical ordering equals age ordering in any consumer. Unlike
    `q_orders_ship_sla` (realized latency of SHIPPED lines), this is
    the complementary open-position view: the money that has NOT
    moved, which is what ops teams chase.

    Scale: the predicate pair pushes to both scans (an order-date
    zone map prunes the orders side, a ship-date one the lineitem
    side — see q_scan_zonemap_skip for the measured effect), the
    join shuffles only the open slice, and the distinct-order count
    is per-bucket over an already-collapsed key set.
    """
    cutoff_ts = F.lit("1998-06-30").cast("timestamp")
    cutoff_d = F.lit("1998-06-30").cast("date")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= cutoff_ts
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff_ts
    )
    aged = orders.join(
        li, orders.o_orderkey == li.l_orderkey
    ).select(
        "o_orderkey",
        "l_extendedprice",
        F.datediff(cutoff_d, F.to_date("o_orderdate")).alias(
            "age_days"
        ),
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-030")
        .when(F.col("age_days") <= 90, "031-090")
        .when(F.col("age_days") <= 180, "091-180")
        .otherwise("180+")
    )
    return aged.groupBy(bucket.alias("age_bucket")).agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_open_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("open_value"),
    )


HW_ALPHA = 0.5
HW_BETA = 0.3
HW_GAMMA = 0.2
HW_PERIOD = 7


@register(
    "q_ts_holt_winters",
    oracle=f"""
    WITH RECURSIVE
    daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS rn
        FROM daily
    ),
    n AS (SELECT event_type, max(rn) AS n FROM s GROUP BY 1),
    init AS (
        SELECT s.event_type,
               avg(CASE WHEN rn <= {HW_PERIOD} THEN v END) AS l0,
               (avg(CASE WHEN rn > {HW_PERIOD}
                          AND rn <= {2 * HW_PERIOD} THEN v END)
                - avg(CASE WHEN rn <= {HW_PERIOD} THEN v END))
                   / {HW_PERIOD} AS b0,
               list(CASE WHEN rn <= {HW_PERIOD} THEN v END ORDER BY rn
                    ) FILTER (WHERE rn <= {HW_PERIOD}) AS first_season
        FROM s GROUP BY 1
    ),
    hw(event_type, t, l, b, seasons) AS (
        SELECT event_type, CAST({HW_PERIOD} AS BIGINT), l0, b0,
               list_transform(first_season, x -> x - l0)
        FROM init
        UNION ALL
        SELECT hw.event_type, hw.t + 1,
               CAST({HW_ALPHA} AS DOUBLE) * (s.v - hw.seasons[1])
                   + CAST({1 - HW_ALPHA} AS DOUBLE) * (hw.l + hw.b),
               CAST({HW_BETA} AS DOUBLE)
                   * ((CAST({HW_ALPHA} AS DOUBLE) * (s.v - hw.seasons[1])
                       + CAST({1 - HW_ALPHA} AS DOUBLE) * (hw.l + hw.b))
                      - hw.l)
                   + CAST({1 - HW_BETA} AS DOUBLE) * hw.b,
               seasons[2:{HW_PERIOD}]
                   || [CAST({HW_GAMMA} AS DOUBLE) * (s.v
                       - (CAST({HW_ALPHA} AS DOUBLE)
                              * (s.v - hw.seasons[1])
                          + CAST({1 - HW_ALPHA} AS DOUBLE)
                              * (hw.l + hw.b)))
                       + CAST({1 - HW_GAMMA} AS DOUBLE) * hw.seasons[1]]
        FROM hw
        JOIN s ON s.event_type = hw.event_type AND s.rn = hw.t + 1
    )
    SELECT hw.event_type, hw.t AS n_days,
           round(hw.l, 6) AS level,
           round(hw.b, 6) AS trend,
           round(hw.l + hw.b + hw.seasons[1], 6) AS forecast_next
    FROM hw
    JOIN n ON n.event_type = hw.event_type AND hw.t = n.n
    WHERE n.n >= {2 * HW_PERIOD}
    """,
)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing (level +
    trend + weekly seasonality) per event type — the seasonal
    upgrade of `q_ts_holt` and the forecast every ops dashboard
    actually needs on weekly-patterned traffic (plain Holt chases
    the weekend dip as if it were trend). Same two-layer sequential-
    kernel shape as q_ts_dtw: the 100 TB stream collapses to
    O(types x days) counts in one distributed aggregate, then the
    recursion runs per type in one Arrow-batched pandas UDF with the
    7-slot season vector as loop state. The DuckDB oracle replays
    the identical recursion as a RECURSIVE CTE whose working row
    CARRIES the season vector as a LIST column (shift = slice ||
    append) — extending the scalar-state Holt oracle pattern to
    vector state. Fixed smoothing constants, fixed operation order,
    integer daily counts: every level/trend/season value is the
    same double in both engines, certified at 6 decimals. Types
    shorter than two seasons are excluded (their trend init is
    undefined), so the operator is total on any corpus.

    Scale: layer 1 is a map-side-combinable count; layer 2 is
    O(days) per type, independent across types (parallel within the
    UDF batch), and never touches raw rows.
    """
    from pyspark.sql.functions import pandas_udf

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    packed = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "v"))),
            lambda x: x["v"],
        ).alias("vals")
    )

    @pandas_udf(
        "struct<n_days: bigint, level: double, trend: double,"
        " forecast_next: double>"
    )
    def hw(vals: pd.Series) -> pd.DataFrame:
        out = []
        m, a, be, g = HW_PERIOD, HW_ALPHA, HW_BETA, HW_GAMMA
        for y in vals:
            y = list(y)
            if len(y) < 2 * m:
                out.append((len(y), None, None, None))
                continue
            l = sum(y[:m]) / m
            b = (sum(y[m : 2 * m]) / m - sum(y[:m]) / m) / m
            seas = [x - l for x in y[:m]]
            for t in range(m, len(y)):
                s_used = seas[0]
                l_new = a * (y[t] - s_used) + (1 - a) * (l + b)
                b_new = be * (l_new - l) + (1 - be) * b
                s_new = g * (y[t] - l_new) + (1 - g) * s_used
                seas = seas[1:] + [s_new]
                l, b = l_new, b_new
            out.append((len(y), l, b, l + b + seas[0]))
        return pd.DataFrame(
            out, columns=["n_days", "level", "trend", "forecast_next"]
        )

    return (
        packed.select("event_type", hw("vals").alias("r"))
        .select(
            "event_type",
            F.col("r.n_days").alias("n_days"),
            F.round("r.level", 6).alias("level"),
            F.round("r.trend", 6).alias("trend"),
            F.round("r.forecast_next", 6).alias("forecast_next"),
        )
        .filter(F.col("n_days") >= 2 * HW_PERIOD)
    )


@register(
    "q_events_cuped",
    oracle="""
    WITH span AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               sum(CASE WHEN epoch_us(ts) <= span.mid
                        THEN CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                                  AS BIGINT) ELSE 0 END) AS x_c,
               sum(CASE WHEN epoch_us(ts) > span.mid
                        THEN CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                                  AS BIGINT) ELSE 0 END) AS y_c
        FROM events, span
        GROUP BY user_id
    ),
    assigned AS (
        SELECT user_id, x_c, y_c,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1)
                   % 2 AS variant
        FROM per_user
    ),
    pooled AS (
        SELECT round(regr_slope(CAST(y_c AS DOUBLE),
                                CAST(x_c AS DOUBLE)), 6) AS theta,
               regr_avgx(CAST(y_c AS DOUBLE),
                         CAST(x_c AS DOUBLE)) AS xbar,
               round(regr_r2(CAST(y_c AS DOUBLE),
                             CAST(x_c AS DOUBLE)), 6) AS var_reduction
        FROM assigned
    ),
    arms AS (
        SELECT variant, count(*) AS n_users,
               sum(x_c) AS sx, sum(y_c) AS sy
        FROM assigned GROUP BY variant
    )
    SELECT CAST(a.variant AS INTEGER) AS variant,
           a.n_users,
           round(CAST(a.sy AS DOUBLE) / a.n_users / 100, 4) AS mean_y,
           round((CAST(a.sy AS DOUBLE) / a.n_users
                  - p.theta * (CAST(a.sx AS DOUBLE) / a.n_users - p.xbar))
                 / 100, 4) AS mean_y_cuped,
           p.theta, p.var_reduction
    FROM arms a, pooled p
    """,
)
def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data)
    variance reduction — the adjustment every mature experimentation
    platform applies before reading q_events_ab_test's z-score: each
    user's in-experiment spend Y is shifted by θ·(X − X̄) where X is
    their PRE-period spend and θ = cov(X,Y)/var(X), removing the
    between-user variance X explains (var_reduction = ρ² = regr_r2)
    without biasing the treatment difference (θ and X̄ are pooled
    across arms, and assignment is independent of X). The pre/post
    boundary is the corpus time-span midpoint in integer
    microseconds (unix_micros <-> epoch_us, the certified pairing);
    assignment is the same md5-parity hash as q_events_ab_test, so
    the experiment key reproduces in any engine.

    Determinism: per-user X and Y accumulate as integer CENTS
    (floor(v·100+0.5) — the explicit-floor rule; sums are exact
    bigints), θ/X̄/ρ² come from the regr_* aggregates (probed
    bit-exact between Spark and DuckDB), and the arm-level CUPED
    means are closed-form over exact integer arm sums — no
    merge-order-dependent floating aggregate anywhere.

    Scale: one fact scan → O(users) rows (map-side combinable),
    then a 1-row pooled regression and a 2-row arm table joined by
    broadcast. The 100 TB plan is identical; X̄/θ ride the 1-row
    broadcast exactly like q_events_ab_test's pooled rate.
    """
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("bigint")
        .alias("mid")
    )
    value = cents(F.col("value").cast("double"))
    us = F.unix_micros("ts")
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(us <= F.col("mid"), value).otherwise(0)).alias(
                "x_c"
            ),
            F.sum(F.when(us > F.col("mid"), value).otherwise(0)).alias(
                "y_c"
            ),
        )
    )
    hexes = "0123456789abcdef"
    assigned = per_user.withColumn(
        "variant",
        (
            F.expr(
                f"locate(substring(md5(CAST(user_id AS STRING)), 1, 1),"
                f" '{hexes}')"
            )
            - 1
        )
        % 2,
    )
    yd = F.col("y_c").cast("double")
    xd = F.col("x_c").cast("double")
    pooled = assigned.agg(
        F.round(F.regr_slope(yd, xd), 6).alias("theta"),
        F.regr_avgx(yd, xd).alias("xbar"),
        F.round(F.regr_r2(yd, xd), 6).alias("var_reduction"),
    )
    arms = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x_c").alias("sx"),
        F.sum("y_c").alias("sy"),
    )
    return arms.crossJoin(F.broadcast(pooled)).select(
        F.col("variant").cast("int").alias("variant"),
        "n_users",
        F.round(
            F.col("sy").cast("double") / F.col("n_users") / 100, 4
        ).alias("mean_y"),
        F.round(
            (
                F.col("sy").cast("double") / F.col("n_users")
                - F.col("theta")
                * (
                    F.col("sx").cast("double") / F.col("n_users")
                    - F.col("xbar")
                )
            )
            / 100,
            4,
        ).alias("mean_y_cuped"),
        "theta",
        "var_reduction",
    )


LB_LAGS = 3
LB_CHI2_CRIT_3DF_95 = 7.814728  # chi-square 0.95 quantile, df=3


@register(
    "q_ts_ljung_box",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS v
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, v,
               lag(v, 1) OVER w AS v1,
               lag(v, 2) OVER w AS v2,
               lag(v, 3) OVER w AS v3
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    sums AS (
        SELECT event_type,
               count(*) AS n, sum(v) AS s,
               sum(CAST(v AS HUGEINT) * v) AS sxx,
               {", ".join(f'''sum(CAST(v AS HUGEINT) * v{k}) AS sxy{k},
               sum(CASE WHEN v{k} IS NOT NULL THEN v END) AS sa{k},
               sum(v{k}) AS sb{k}, count(v{k}) AS n{k}''' for k in range(1, LB_LAGS + 1))}
        FROM lagged GROUP BY event_type
    ),
    acf AS (
        SELECT event_type, n,
               {", ".join(f"(CAST(sxy{k} AS DOUBLE) - (CAST(s AS DOUBLE) / n) * (sa{k} + sb{k}) + n{k} * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / (CAST(sxx AS DOUBLE) - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS r{k}" for k in range(1, LB_LAGS + 1))}
        FROM sums
    )
    SELECT event_type, n AS n_days,
           {", ".join(f"round(r{k}, 6) AS r{k}" for k in range(1, LB_LAGS + 1))},
           round(n * (n + 2.0) * ({" + ".join(f"r{k} * r{k} / (n - {k})" for k in range(1, LB_LAGS + 1))}), 4)
             AS lb_q,
           n * (n + 2.0) * ({" + ".join(f"r{k} * r{k} / (n - {k})" for k in range(1, LB_LAGS + 1))})
             > {LB_CHI2_CRIT_3DF_95} AS reject_white_noise_95
    FROM acf
    """,
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau whiteness test per event type — the
    decision layer above q_ts_autocorr's raw lags: Q = n(n+2)·Σ
    r_k²/(n−k) over lags 1..{LB_LAGS} against the χ²({LB_LAGS})
    95% critical value, answering "is there ANY autocorrelation
    worth modeling?" before a forecaster (q_ts_ewma / q_ts_holt) is
    chosen — a white-noise series needs none, and fitting one
    anyway just memorizes noise.

    Determinism: the ACF here is the textbook autocovariance form
    expanded into EXACT integer sums (v is a count; Σv, Σv², Σv·v_k,
    and the lag-aligned partial sums are all bigints under any merge
    order — the q_agg_skew_kurtosis discipline), then one
    fixed-order double closed form per lag; Q is computed from the
    unrounded r_k in both engines and rounded once. No corr()
    streaming aggregate anywhere.

    Scale: the fact log collapses to O(types × days) in one
    partial-aggregable pass; lags ride the event_type partitioning;
    the test itself is O(types) arithmetic.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("v"))
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "v",
        *[F.lag("v", k).over(w).alias(f"v{k}") for k in range(1, LB_LAGS + 1)],
    )
    # Squared/cross daily-count products accumulate as decimal(38,0)
    # (≙ DuckDB HUGEINT): v ~ N/(types x days), so v^2 alone passes
    # int64 near v ~ 3e9/day — a 30-day window over ~1e12 events —
    # and the int64 SUM wraps earlier still. Plain Σv stays int64
    # (bounded by total event count).
    vd = F.col("v").cast("decimal(19,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(vd * vd).alias("sxx"),
    ]
    for k in range(1, LB_LAGS + 1):
        vk = F.col(f"v{k}")
        aggs += [
            F.sum(vd * vk.cast("decimal(19,0)")).alias(f"sxy{k}"),
            F.sum(F.when(vk.isNotNull(), F.col("v"))).alias(f"sa{k}"),
            F.sum(vk).alias(f"sb{k}"),
            F.count(vk).alias(f"n{k}"),
        ]
    sums = lagged.groupBy("event_type").agg(*aggs)
    xbar = F.col("s").cast("double") / F.col("n")
    den = F.col("sxx").cast("double") - F.col("n") * xbar * xbar
    rks = []
    for k in range(1, LB_LAGS + 1):
        num = (
            F.col(f"sxy{k}").cast("double")
            - xbar * (F.col(f"sa{k}") + F.col(f"sb{k}"))
            + F.col(f"n{k}") * xbar * xbar
        )
        rks.append((num / den).alias(f"r{k}"))
    acf = sums.select("event_type", "n", *rks)
    q = None
    for k in range(1, LB_LAGS + 1):
        term = F.col(f"r{k}") * F.col(f"r{k}") / (F.col("n") - k)
        q = term if q is None else q + term
    q = F.col("n") * (F.col("n") + F.lit(2.0)) * q
    return acf.select(
        "event_type",
        F.col("n").alias("n_days"),
        *[F.round(F.col(f"r{k}"), 6).alias(f"r{k}") for k in range(1, LB_LAGS + 1)],
        F.round(q, 4).alias("lb_q"),
        (q > LB_CHI2_CRIT_3DF_95).alias("reject_white_noise_95"),
    )
