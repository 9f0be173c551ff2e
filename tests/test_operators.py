"""Per-operator unit tests on tiny literal DataFrames (SURVEY.md
§5.2 item 3) — edge semantics the oracle comparison can't isolate.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


def test_asof_picks_latest_at_or_before(spark):
    from mrtweety_analytic_spark.queries import QUERIES  # noqa: F401

    # Build a miniature events table and run the as-of logic shape:
    # purchase at t=10 must see view value at t=9, not t=11 or t=4.
    events = spark.createDataFrame(
        [
            (1, 9.0, "view", 1, "2024-01-01 00:00:09"),
            (2, 4.0, "view", 1, "2024-01-01 00:00:04"),
            (3, 99.0, "view", 1, "2024-01-01 00:00:11"),
            (4, 0.0, "purchase", 1, "2024-01-01 00:00:10"),
            (5, 0.0, "purchase", 2, "2024-01-01 00:00:10"),  # no views
        ],
        "event_id long, value double, event_type string, user_id long, ts_s string",
    ).select("event_id", "value", "event_type", "user_id",
             F.col("ts_s").cast("timestamp").alias("ts"))
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts"),
        F.col("event_id").alias("vid"), F.col("value").alias("vv"),
    )
    out = (
        p.join(v, (p.user_id == v.vu) & (F.col("vts") <= p.ts), "left")
        .groupBy("event_id")
        .agg(F.max(F.struct("vts", "vid", "vv")).alias("b"))
        .select("event_id", F.col("b.vv").alias("last_view_value"))
    )
    got = {r["event_id"]: r["last_view_value"] for r in out.collect()}
    assert got[4] == 9.0
    assert got[5] is None


def test_set_except_is_distinct_semantics(spark):
    a = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    b = spark.createDataFrame([(2,), (3,)], "x int")
    assert [r["x"] for r in a.subtract(b).collect()] == [1]


def test_simhash_deterministic_and_sensitive(spark, sf_dir):
    from mrtweety_analytic_spark.queries import QUERIES

    s1 = {r["doc_id"]: r["simhash"]
          for r in QUERIES["q_dedup_simhash"](spark, sf_dir).collect()}
    s2 = {r["doc_id"]: r["simhash"]
          for r in QUERIES["q_dedup_simhash"](spark, sf_dir).collect()}
    assert s1 == s2          # stable across runs
    assert len(set(s1.values())) > 1  # not a constant function


def test_ngram_jaccard_near_dup_pair(spark):
    from mrtweety_analytic_spark.operators.dedup import q_dedup_ngram_jaccard  # noqa: F401
    # Direct shape test of the shingle join on crafted docs: one
    # near-dup pair, one unrelated doc.
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "a b c d e f g x"),     # shares 3 of 5-gram shingles
            (2, "q r s t u v w z"),     # unrelated
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("tmp_docs_jac")
    # reuse the registered query machinery by monkey-loading:
    from mrtweety_analytic_spark.registry import QUERIES as REG

    import mrtweety_analytic_spark.operators.dedup as dd

    orig = dd.load_table
    try:
        dd.load_table = lambda spark, sf, name: docs
        out = REG["q_dedup_ngram_jaccard"](spark, "ignored").collect()
    finally:
        dd.load_table = orig
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert (0, 1) in pairs and (0, 2) not in pairs
    assert 0 < pairs[(0, 1)] < 1


def test_cluster_labels_transitive(spark):
    """Min-label propagation must close transitive chains: docs 0-1
    and 1-2 near-dup => one cluster {0,1,2}; 5-6 separate."""
    import mrtweety_analytic_spark.operators.dedup as dd
    from mrtweety_analytic_spark.registry import QUERIES as REG

    # chain: 0~1~2 via shared 5-gram windows; pair 5~6; 9 alone
    base = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [
            (0, base + " x0 x1 x2"),
            (1, base + " y0 y1 y2"),
            (2, base + " z0 z1 z2"),
            (5, "p1 p2 p3 p4 p5 p6 p7 q8"),
            (6, "p1 p2 p3 p4 p5 p6 p7 r9"),
            (9, "a1 b2 c3 d4 e5 f6 g7 h8"),
        ],
        "doc_id long, text string",
    )
    orig = dd.load_table
    try:
        dd.load_table = lambda spark, sf, name: docs
        out = {r["doc_id"]: r["cluster_id"]
               for r in REG["q_dedup_clusters"](spark, "ignored").collect()}
    finally:
        dd.load_table = orig
    assert out[0] == out[1] == out[2] == 0
    assert out[5] == out[6] == 5
    assert 9 not in out  # no edges -> not in any cluster
    from mrtweety_analytic_spark.operators.similarity import cosine_expr

    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]),
         ([1.0, 1.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [round(r["c"], 6) for r in
           df.select(cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == 1.0 and got[1] == 0.0 and got[2] == round(2 ** -0.5, 6)


def test_decode_stub_contract():
    from mrtweety_analytic_spark.operators.multimodal import decode_stub

    f = decode_stub(b"\x10\x20\x30")
    assert f["width"] == 0x10 and f["height"] == 0x20
    assert decode_stub(b"") == {"width": 0, "height": 0, "mean_intensity": 0.0}


def test_topk_plan_is_take_ordered(spark, sf_dir):
    """Plan-shape assertion (SURVEY.md §5.2 item 5): orderBy+limit
    must compile to TakeOrderedAndProject, not a global sort."""
    from mrtweety_analytic_spark.queries import QUERIES

    plan = QUERIES["q_sort_limit_topk"](spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_star_join_broadcasts(spark, sf_dir):
    from mrtweety_analytic_spark.queries import QUERIES

    plan = QUERIES["q_join_multiway"](spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must be semantics-preserving: same multiset of rows as
    the unsalted join, with the fact spread over n_salts sub-keys."""
    from mrtweety_analytic_spark.operators.joins import salted_join
    from mrtweety_analytic_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    plain = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "inner"
    ).select("l_orderkey", "l_linenumber", "o_orderstatus")
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey").select(
        "l_orderkey", "l_linenumber", "o_orderstatus"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_bucketed_join_has_no_join_shuffle(spark, sf_dir):
    """The co-located join must read bucketed tables directly into
    SortMergeJoin: the only Exchange in the plan is the final
    group-by, never a join input."""
    from mrtweety_analytic_spark.queries import QUERIES

    df = QUERIES["q_join_bucketed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints Final + Initial plans; inspect only the final one.
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final
    assert final.count("Bucketed: true") == 2
    join_part = final.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_part  # no shuffle below the join


@pytest.mark.parametrize(
    "name, shared_dir",
    [
        ("q_join_bucketed", "mrtweety_bucketed_root_testdata_sf0.001"),
        ("q_scan_partition_pruned", f"mrtweety_part_events_sf0.001_{os.getuid()}"),
    ],
)
def test_written_tables_survive_a_second_process(spark, sf_dir, name, shared_dir):
    """Tables a query writes to /tmp live in a directory keyed by the
    Spark application id. A second process running the same query on
    the same sf clears and rewrites one per-sf directory; deleting
    that directory must leave this session's tables readable."""
    from mrtweety_analytic_spark.queries import QUERIES

    first = sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))
    assert first
    shutil.rmtree(os.path.join(tempfile.gettempdir(), shared_dir), True)
    again = sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))
    assert again == first


def test_scan_pruned_pushdown(spark, sf_dir):
    from mrtweety_analytic_spark.queries import QUERIES

    plan = QUERIES["q_scan_pruned"](spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_orderkey), LessThanOrEqual(l_orderkey" in plan


def test_sessionize_gap_semantics(spark):
    """Events 31 min apart split sessions; 29 min apart do not; the
    first event of a user always opens session 1."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.operators.analytics import (  # noqa: F401
        q_sessionize_gaps,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=29), 7, "view", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=29 + 31), 7, "view", 1.0, "{}"),
        (4, t0, 8, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    from mrtweety_analytic_spark.operators.analytics import sessionize

    out = (
        sessionize(df)
        .groupBy("user_id", "session_id")
        .count()
        .collect()
    )
    got = {(r.user_id, r.session_id): r["count"] for r in out}
    assert got == {(7, 1): 2, (7, 2): 1, (8, 1): 1}


def test_keep_latest_returns_one_row_per_key(spark, sf_dir):
    from mrtweety_analytic_spark.queries import QUERIES

    df = QUERIES["q_dedup_keep_latest"](spark, sf_dir)
    rows = df.collect()
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users))
    # Each surviving row carries its user's max ts.
    from mrtweety_analytic_spark.sources import load_table
    from pyspark.sql import functions as F

    mx = {
        r.user_id: r.mx
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("mx"))
        .collect()
    }
    assert all(r.ts == mx[r.user_id] for r in rows)


def test_dynamic_partition_pruning(spark, sf_dir):
    """A partitioned fact joined to a filtered dim must plan a
    dynamicpruning PartitionFilter: only the dim-selected partitions
    are scanned — at 100 TB this is the difference between reading
    one event_type directory and reading the whole table."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.sources import load_table

    out = os.path.join(tempfile.gettempdir(), "dpp_events_test")
    shutil.rmtree(out, ignore_errors=True)
    load_table(spark, sf_dir, "events").write.partitionBy(
        "event_type"
    ).parquet(out)
    part = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("purchase", 1), ("click", 0)], "event_type string, flag int"
    ).filter(F.col("flag") == 1)
    q = part.join(dim, "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert [r.event_type for r in q.collect()] == ["purchase"]


def test_fill_forward_leading_gap_defaults_to_zero(spark):
    """A user whose first events are all 'error' has no prior good
    value — forward-fill must coalesce to 0.0, not null; later good
    values propagate over subsequent errors."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "error", 99.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 7, "view", 5.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 7, "error", 88.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    import os
    import shutil
    import tempfile

    from mrtweety_analytic_spark.queries import QUERIES

    d = os.path.join(tempfile.gettempdir(), "ffill_edge")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "events.parquet"))
    out = {
        r.event_id: r.filled_value
        for r in QUERIES["q_win_fill_forward"](spark, d).collect()
    }
    assert out == {1: 0.0, 2: 5.0, 3: 5.0}


def test_funnel_requires_purchase_after_click(spark, sf_dir):
    """Conversion demands strict click-then-purchase ordering: a user
    whose only purchase precedes their first click must not count."""
    import datetime as dt

    from mrtweety_analytic_spark.queries import QUERIES

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: purchase BEFORE click -> not converted
        (1, t0, 1, "purchase", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=1), 1, "click", 1.0, "{}"),
        # user 2: click then purchase -> converted, lag 300 s
        (3, t0, 2, "click", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=5), 2, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    import tempfile, os, shutil
    d = os.path.join(tempfile.gettempdir(), "funnel_edge")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "events.parquet"))
    got = QUERIES["q_events_funnel"](spark, d).collect()[0]
    assert got.n_converted == 1
    assert got.avg_lag_sec == 300.0


def test_range_bucketed_band_boundary(spark):
    """The ±1 s band is inclusive at exactly 1 s and excludes 1 s + 1 µs
    — and the bucket-explode candidate generation must not lose pairs
    that straddle a bucket edge."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(seconds=1), 1, "view", 1.0, "{}"),          # in (== 1 s)
        (3, t0 + dt.timedelta(seconds=1, microseconds=1), 1, "view", 1.0, "{}"),  # out
        (4, t0 - dt.timedelta(microseconds=1), 1, "view", 1.0, "{}"),     # in, across bucket edge
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    import tempfile, os, shutil
    d = os.path.join(tempfile.gettempdir(), "band_edge")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "events.parquet"))
    from mrtweety_analytic_spark.queries import QUERIES
    got = {
        r.event_id: r.n_close
        for r in QUERIES["q_join_range_bucketed"](spark, d).collect()
    }
    # event 1 pairs with 2 (Δ=1 s) and 4 (Δ=1 µs); NOT 3 (Δ=1 s + 1 µs)
    assert got[1] == 2
    # event 3 pairs with 2 only (Δ=1 µs)
    assert got[3] == 1


def test_date_spine_contiguous_and_total(spark, sf_dir):
    """Spine covers every day min..max exactly once; zero-filled
    counts still sum to the raw event count."""
    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    rows = QUERIES["q_date_spine"](spark, sf_dir).collect()
    days = sorted(r.day for r in rows)
    assert len(days) == len(set(days))
    assert (days[-1] - days[0]).days == len(days) - 1  # contiguous
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total


def test_pack_sequences_respects_budget(spark, sf_dir):
    """Shard ids are non-decreasing in concatenation order and every
    doc's start offset lands inside its shard's token budget."""
    from mrtweety_analytic_spark.operators.textops import PACK_BUDGET
    from mrtweety_analytic_spark.queries import QUERIES

    rows = QUERIES["q_text_pack_sequences"](spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for docs in by_source.values():
        docs.sort(key=lambda r: r.doc_id)
        offset = 0
        prev_shard = 0
        for r in docs:
            assert r.shard_id == offset // PACK_BUDGET
            assert r.shard_id >= prev_shard
            prev_shard = r.shard_id
            offset += r.n_tokens


def test_kmeans_assign_is_argmin(spark, sf_dir):
    """Every vector is assigned exactly once, to the centroid whose
    recomputed L2 distance is minimal."""
    import numpy as np

    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    got = {
        r.vec_id: (r.assigned_label, r.dist_l2)
        for r in QUERIES["q_sim_kmeans_assign"](spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings").collect()
    assert len(got) == len(emb)
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb}
    labels: dict[int, list] = {}
    for r in emb:
        labels.setdefault(r.label, []).append(vecs[r.vec_id])
    cents = {lb: np.mean(np.stack(vs), axis=0) for lb, vs in labels.items()}
    for vid, (lb, dist) in got.items():
        dists = {
            c: round(float(np.linalg.norm(vecs[vid] - ce)), 6)
            for c, ce in cents.items()
        }
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))
        assert (lb, round(dist, 6)) == best


def test_mode_tiebreak_is_lowest_value(spark):
    """On a tied count the smaller event_type string wins."""
    rows = [
        (1, None, 7, "b", 1.0, "{}"),
        (2, None, 7, "a", 1.0, "{}"),
        (3, None, 17, "z", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    import os
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "mode_tie")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "events.parquet"))
    from mrtweety_analytic_spark.queries import QUERIES

    got = {r.cohort: r.mode_event
           for r in QUERIES["q_agg_mode"](spark, d).collect()}
    assert got == {7: "a"}


def test_dq_expectations_clean_corpus(spark, sf_dir):
    """The generated corpus satisfies the contract: every expectation
    reports zero violations (and all four checks are present)."""
    from mrtweety_analytic_spark.queries import QUERIES

    rows = QUERIES["q_dq_expectations"](spark, sf_dir).collect()
    assert {r.check_name for r in rows} == {
        "pk_orders_unique", "fk_lineitem_orders",
        "discount_in_range", "price_positive",
    }
    assert all(r.n_violations == 0 for r in rows)


def test_cdc_apply_deletes_win(spark):
    """A trailing 'error' change deletes the key; an earlier error is
    overridden by a later upsert."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "error", 0.0, "{}"),  # deletes u1
        (3, t0, 2, "error", 0.0, "{}"),
        (4, t0 + dt.timedelta(minutes=1), 2, "view", 7.0, "{}"),   # revives u2
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    import os
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "cdc_apply")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "events.parquet"))
    from mrtweety_analytic_spark.queries import QUERIES

    got = {r.user_id: r.last_value
           for r in QUERIES["q_cdc_apply"](spark, d).collect()}
    assert got == {2: 7.0}


def test_sketch_merge_estimate_close(spark, sf_dir):
    """Merged daily HLL sketches estimate the exact month-wide
    distinct within HLL error bounds."""
    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    row = QUERIES["q_agg_sketch_merge"](spark, sf_dir).collect()[0]
    exact = (
        load_table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()[0].n
    )
    assert abs(row.est_users - exact) / exact < 0.05
    assert row.n_days >= 28


def test_kmeans_assignment_pass_has_no_big_shuffle(spark, sf_dir):
    """The nearest-centroid pass must stay map-side: after the
    centroid broadcast there is no Exchange between the embeddings
    scan and the output (no window/groupBy on the big side)."""
    import re

    from mrtweety_analytic_spark.queries import QUERIES

    plan = (
        QUERIES["q_sim_kmeans_assign"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row centroid ship
    # The big side feeds the BNLJ via scan -> project only; every
    # Exchange in the plan belongs to the tiny centroid subtree
    # (below the broadcast), never above the join.
    above_join = plan.split("BroadcastNestedLoopJoin", 1)[0]
    assert not re.search(r"Exchange (hash|range|single)", above_join)
    assert "Window" not in plan


def test_dq_profile_is_single_scan(spark, sf_dir):
    """All per-column metrics must come from ONE pass over orders."""
    from mrtweety_analytic_spark.queries import QUERIES

    plan = (
        QUERIES["q_dq_profile"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2


def test_quantize_error_bound(spark, sf_dir):
    """int8 quantization error is bounded by half a quantization step
    (scale = 127/max|x| per vector => step/2 = max|x|/254)."""
    import numpy as np

    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    errs = {
        r.vec_id: r.max_abs_err
        for r in QUERIES["q_sim_quantize"](spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings").collect()
    assert len(errs) == len(emb)
    for r in emb:
        bound = float(np.max(np.abs(np.array(r.embedding, dtype=np.float64)))) / 254
        assert errs[r.vec_id] <= bound + 1e-6


def test_dedup_embedding_block_grid_exact(spark, tmp_path):
    """The blocked exact cosine join must find EVERY pair >= 0.5
    regardless of which hash blocks the two vectors land in, including
    off-diagonal block pairs where the higher vec_id sits in the lower
    block (the orientation that a naive vec_a < vec_b mask inside the
    block kernel would silently drop)."""
    import itertools

    import numpy as np

    from mrtweety_analytic_spark.queries import QUERIES

    rng = np.random.default_rng(7)
    n, dim = 40, 8
    base = rng.normal(size=(n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # Plant near-dups across arbitrary id pairs (and thus arbitrary
    # hash blocks): 17~3, 29~11, 38~5.
    for a, b in [(17, 3), (29, 11), (38, 5)]:
        base[a] = base[b] + rng.normal(scale=0.05, size=dim)
        base[a] /= np.linalg.norm(base[a])
    rows = [
        (int(i), [float(x) for x in base[i]], int(i) % 3) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tmp_path / "mini"
    d.mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    got = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in QUERIES["q_dedup_embedding"](spark, str(d)).collect()
    }
    emb64 = base.astype(np.float64)
    want = {}
    for i, j in itertools.combinations(range(n), 2):
        c = float(emb64[i] @ emb64[j])
        if c >= 0.5:
            want[(i, j)] = round(c, 6)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


def test_compaction_reduces_file_count(spark, sf_dir):
    """q_maintenance_compact must actually shrink the file count (64
    fragments -> ceil(bytes/32MB) files, = 1 at test scale)."""
    import os

    from mrtweety_analytic_spark.operators import sinks
    from mrtweety_analytic_spark.queries import QUERIES

    QUERIES["q_maintenance_compact"](spark, sf_dir).count()
    base = sinks.LAST_COMPACT_BASE
    frag = [f for f in os.listdir(f"{base}/frag") if f.endswith(".parquet")]
    comp = [f for f in os.listdir(f"{base}/compact") if f.endswith(".parquet")]
    assert len(frag) == 64
    assert len(comp) == 1


def test_custom_pyds_writer_commit_protocol(spark, tmp_path):
    """The jsonldir sink must leave no temp litter, stamp a _SUCCESS
    manifest consistent with the part files, and fully replace prior
    contents on overwrite."""
    import json
    import os

    from mrtweety_analytic_spark.sources_python_ds import register_jsonldir

    register_jsonldir(spark)
    out = str(tmp_path / "sink")
    df1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    df1.repartition(2).write.format("jsonldir").mode("overwrite").save(out)
    first_parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["rows"] == 3
    assert manifest["files"] == first_parts
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]
    # Append keeps prior parts AND the manifest must describe the
    # whole table (prior files + rows merged in), not just the delta.
    df_app = spark.createDataFrame([(4, "d"), (5, "e")], "id long, v string")
    df_app.coalesce(1).write.format("jsonldir").mode("append").save(out)
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert manifest["rows"] == 5
    assert manifest["files"] == parts
    assert set(first_parts) < set(parts)
    # Overwrite replaces: old part files gone, new manifest coherent.
    df2 = spark.createDataFrame([(9, "z")], "id long, v string")
    df2.coalesce(1).write.format("jsonldir").mode("overwrite").save(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1 and parts[0] not in first_parts
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["rows"] == 1 and manifest["files"] == parts
    back = spark.read.schema("id long, v string").json(out)
    assert [(r.id, r.v) for r in back.collect()] == [(9, "z")]


def test_pagerank_mass_conservation(spark, sf_dir):
    """With an undirected edge set every node has out-edges (no
    dangling mass), so total PageRank mass stays exactly 1: the
    scaled ranks must sum to ~N and all be positive."""
    from mrtweety_analytic_spark.queries import QUERIES

    rows = QUERIES["q_graph_pagerank"](spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    total = sum(r.rank_scaled for r in rows)
    assert abs(total - n) < 0.01 * n  # rounding noise only
    assert all(r.rank_scaled > 0 for r in rows)


def test_zorder_roundtrip_and_file_envelopes(spark, tmp_path):
    """The Morton code must be invertible (no information loss), and
    a repartitionByRange('z') + sortWithinPartitions write must yield
    parquet files whose z-ranges do not overlap — the property file
    skipping relies on."""
    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.operators.layout import zvalue_sql

    df = spark.range(0, 4096).select(
        (F.col("id") % 61).alias("a"), (F.col("id") % 67).alias("b")
    )
    z = df.withColumn(
        "z",
        F.expr(
            zvalue_sql(
                "(CAST(a AS BIGINT) & 65535)",
                "(CAST(b AS BIGINT) & 65535)",
                "spark",
            )
        ).cast("long"),
    )
    # Invertibility: de-interleave in Python and compare.
    for r in z.limit(200).collect():
        a = b = 0
        for bit in range(32):
            if r.z >> (2 * bit) & 1:
                a |= 1 << bit
            if r.z >> (2 * bit + 1) & 1:
                b |= 1 << bit
        assert (a, b) == (r.a, r.b)

    out = str(tmp_path / "zsorted")
    z.repartitionByRange(8, "z").sortWithinPartitions("z").write.parquet(out)
    back = spark.read.parquet(out)
    ranges = [
        (r.f, r.lo, r.hi)
        for r in back.groupBy(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f")
        )
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .collect()
    ]
    ranges.sort(key=lambda t: t[1])
    assert len(ranges) >= 2
    for (_, _, hi_prev), (_, lo, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo


def test_runtime_bloom_filter_plan(spark, sf_dir):
    """q_join_bloom_runtime's certified plan must carry the injected
    runtime bloom filter on the fact side (bloom_filter_agg on the
    dim build + might_contain probe filter), and stay a shuffle join."""
    from mrtweety_analytic_spark.queries import QUERIES

    out = QUERIES["q_join_bloom_runtime"](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    assert "BroadcastHashJoin" not in plan.split("== Initial Plan ==")[0]


def test_resize_nearest_kernel():
    """The resample kernel is real math, not a checksum fake: identity
    resize is the identity, 2x upscale duplicates each pixel, and
    downscale gathers the exact scaled-coordinate samples."""
    import numpy as np

    from mrtweety_analytic_spark.operators.multimodal import resize_nearest

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert np.array_equal(resize_nearest(img, 4, 4), img)
    up = resize_nearest(img, 8, 8)
    assert up.shape == (8, 8)
    assert np.array_equal(up[::2, ::2], img)     # every source pixel kept
    assert np.array_equal(up[1::2, 1::2], img)   # ...and duplicated
    down = resize_nearest(img, 2, 2)
    assert np.array_equal(down, img[[0, 2]][:, [0, 2]])
    assert resize_nearest(np.zeros((0, 0), np.uint8), 3, 3).shape == (3, 3)


def test_observe_single_pass_metrics(spark, sf_dir):
    """df.observe() collects audit metrics as a side-channel of the
    SAME action — at 100 TB this replaces the second 'count the nulls
    / sum the bytes' scan every pipeline stage otherwise pays. The
    observed numbers must equal a direct aggregate."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("ingest_audit")
    audited = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
        F.count(F.when(F.col("lang").isNull(), 1)).alias("null_langs"),
    )
    audited.write.format("noop").mode("overwrite").save()
    direct = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("c"),
    ).first()
    got = obs.get
    assert got["n_rows"] == direct["n"]
    assert got["total_chars"] == direct["c"]
    assert got["null_langs"] == 0


def test_aqe_skew_join_split(spark):
    """AQE must split a skewed shuffle partition at join time: with a
    hot key holding ~90% of the probe side, the finalized adaptive
    plan shows SortMergeJoin(skew=true) over a skewed AQEShuffleRead.
    At 100 TB this is the runtime answer to key skew the static
    planner can't see (salting remains the fallback when AQE can't
    apply, e.g. under required output partitioning)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(1000).select(
            (F.col("id") % 1000).alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k").select(F.count(F.lit(1)).alias("n"))
        # collect() finalizes THIS QueryExecution's adaptive plan (a
        # write would run a separate one and leave this unfinalized).
        assert j.collect()[0]["n"] == 200000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_udf_arrow_trailing_empty_and_null_embedding(spark, tmp_path):
    """Regression: a batch whose LAST list is empty (or null) puts
    offsets[:-1]'s final entry at len(flat); un-padded reduceat raises
    'index out-of-bounds'. The sentinel-padded buffer must handle it,
    and null embeddings must stay NULL (not 0.0)."""
    import math

    from mrtweety_analytic_spark.operators.udfs import q_udf_arrow

    rows = [
        (1, [3.0, 4.0]),
        (2, []),          # empty mid-batch
        (3, [5.0, 12.0]),
        (4, None),        # null mid-batch
        (5, []),          # trailing EMPTY list — the crash shape
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out_dir = str(tmp_path / "corpus")
    df.coalesce(1).write.parquet(f"{out_dir}/embeddings.parquet")

    got = {
        r["vec_id"]: r["l2_norm"]
        for r in q_udf_arrow(spark, out_dir).collect()
    }
    assert got[1] == 5.0
    assert got[2] == 0.0
    assert got[3] == 13.0
    assert got[4] is None
    assert got[5] == 0.0

    # Trailing NULL list variant (distinct arrow validity layout).
    df2 = spark.createDataFrame(
        [(1, [6.0, 8.0]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    out2 = str(tmp_path / "corpus2")
    df2.coalesce(1).write.parquet(f"{out2}/embeddings.parquet")
    got2 = {
        r["vec_id"]: r["l2_norm"]
        for r in q_udf_arrow(spark, out2).collect()
    }
    assert math.isclose(got2[1], 10.0)
    assert got2[2] is None


def test_triangle_orientation_bounds_hub_fanout(spark):
    """Degree-(then id)-orientation must bound wedge fan-out by graph
    degeneracy, not hub degree: on a star-plus-triangle fixture the
    id-orientation gives the hub out-degree 50 (O(d^2) wedges), while
    degree-orientation caps every node's out-degree at 2 — and the
    wedge join still finds exactly the one triangle."""
    from mrtweety_analytic_spark.operators.graph import _orient_by_degree

    # Hub 0 — (deliberately the LOWEST id, the id-orientation worst
    # case) — connected to 1..50; edge (1,2) closes one triangle.
    rows = [(0, i) for i in range(1, 51)] + [(1, 2)]
    base = spark.createDataFrame(rows, "u long, v long")

    oriented = _orient_by_degree(base)
    out_deg = {
        r["u"]: r["n"]
        for r in oriented.groupBy("u").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(out_deg.values()) <= 2          # degeneracy bound
    assert out_deg.get(0) is None              # hub is never a source
    assert oriented.count() == 51              # every edge kept once

    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u"))
    closed = wedges.join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
    )
    assert closed.count() == 1


def test_knn_batch_probe_ceiling_routes_to_scale_tiers(spark, tmp_path, monkeypatch):
    """The brute-force tier must refuse probe sets beyond PROBE_MAX
    with a pointer to the IVF/LSH tiers rather than attempt an
    unbounded broadcast."""
    import pytest as _pytest

    import mrtweety_analytic_spark.operators.similarity as sim

    rows = [(i * sim.PROBE_MOD, [1.0, float(i)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "corpus")
    df.write.parquet(f"{out}/embeddings.parquet")

    monkeypatch.setattr(sim, "PROBE_MAX", 2)
    with _pytest.raises(ValueError, match="q_sim_ivf_label"):
        sim.q_sim_knn_batch(spark, out)


def test_shingle_pair_generation_has_no_join(spark, sf_dir):
    """Plan pin for the postings-list pair generation: the inverted-
    index dedup tiers must contain NO join for pair enumeration (the
    skew-prone self-join shape) — pairs explode map-side from bounded
    posting arrays; the only joins left are the broadcast stop-shingle
    semi-join and the final size lookups."""
    from mrtweety_analytic_spark.operators.dedup import q_dedup_ngram_jaccard

    df = q_dedup_ngram_jaccard(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan  # the map-side pair explode
