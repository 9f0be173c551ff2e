"""The sketch family's contracts that SQL oracles cannot express:
accuracy bounds, merge laws, state bounds and batch/stream twin
agreement of the histogram-quantile and binned-KS sketches, which run
on the kernels of operators/aggregates.py."""

from __future__ import annotations


def test_histogram_quantile_accuracy_and_merge_law(spark, sf_dir):
    """The sketch's two claims SQL can't pin: (1) measured relative
    error at 4096 buckets stays under 5e-3 for p50/p95/p99 in every
    group even on the tiny sf0.001 fixture (~2k rows/group, where
    in-bucket interpolation error is at its worst; at sf0.1 the same
    measurement is under 1e-3); (2) bucket counts are ADDITIVE — the sketch built on any
    2-way split of the data and merged by summing counts equals the
    sketch built whole (the mergeability contract that makes it a
    sketch, not a query)."""
    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.operators.aggregates import (
        HQ_BUCKETS,
        HQ_WIDTH,
    )
    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    rows = QUERIES["q_agg_histogram_quantile"](spark, sf_dir).collect()
    assert rows, "expected one row per return flag"
    for r in rows:
        for k in ("p50", "p95", "p99"):
            assert r[f"relerr_{k}"] <= 5e-3, (r["flag"], k, r)

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x"),
        (F.col("l_orderkey") % 2).alias("half"),
    )
    bucket = F.least(
        F.lit(HQ_BUCKETS - 1), F.floor(F.col("x") / F.lit(HQ_WIDTH))
    ).alias("b")
    whole = {
        r.b: r.c
        for r in li.groupBy(bucket).agg(F.count(F.lit(1)).alias("c")).collect()
    }
    merged: dict = {}
    for h in (0, 1):
        for r in (
            li.filter(F.col("half") == h)
            .groupBy(bucket)
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ):
            merged[r.b] = merged.get(r.b, 0) + r.c
    assert merged == whole


def test_streaming_quantile_sketch_state_bound(spark, sf_dir):
    """The streaming sketch's state-bound claim: the number of
    occupied buckets can never exceed the fixed 4096, and the
    estimates it finalizes are valid quantile positions (p50 <= p95
    <= p99, all within the declared domain)."""
    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.streaming.queries import SQS_BUCKETS

    r = QUERIES["s_quantile_sketch"](spark, sf_dir).collect()[0]
    assert 0 < r.n_buckets_used <= SQS_BUCKETS
    assert 0.0 <= r.est_p50 <= r.est_p95 <= r.est_p99 <= 512.0


def test_streaming_quantile_sketch_equals_batch_histogram(spark, sf_dir):
    """s_quantile_sketch finalizes its replayed state to the histogram
    the batch kernels build over the whole events table at the
    stream's grid: the same n, buckets used and p50/p95/p99."""
    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.operators.aggregates import (
        HQ_QS,
        _hist_bucket,
        _hist_quantiles,
    )
    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table
    from mrtweety_analytic_spark.streaming.queries import (
        SQS_BUCKETS,
        SQS_WIDTH,
    )

    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            _hist_bucket(
                F.col("value").cast("double"), SQS_BUCKETS, SQS_WIDTH
            ).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cells = counts.collect()
    batch = _hist_quantiles(counts, [], HQ_QS, SQS_WIDTH).collect()[0]
    stream = QUERIES["s_quantile_sketch"](spark, sf_dir).collect()[0]
    assert stream.n == sum(r.c for r in cells)
    assert stream.n_buckets_used == len(cells)
    for k, _q in HQ_QS:
        assert stream[f"est_{k}"] == batch[f"est_{k}"], k


def test_streaming_ks_consistent_with_exact_batch_test(spark, sf_dir):
    """Cross-operator consistency: the streaming BINNED KS statistic
    is a valid statistic in [0,1] over the same two arms as the
    exact batch test, with identical sample sizes, and can exceed
    the exact D by at most the binning slack (in practice it is a
    lower bound; tiny overshoot can only come from the 6dp
    rounding)."""
    from mrtweety_analytic_spark.queries import QUERIES

    binned = QUERIES["s_ks_drift"](spark, sf_dir).collect()[0]
    exact = QUERIES["q_dq_ks_test"](spark, sf_dir).collect()[0]
    assert binned.n_a == exact.n_a and binned.n_b == exact.n_b
    assert 0.0 <= binned.ks_binned <= 1.0
    assert binned.ks_binned <= exact.ks_stat + 1e-5
