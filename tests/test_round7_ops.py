"""Round-7 pytest pins: behaviors SQL oracles can't express.

- UpsertKeyedSink reopen-and-continue (ADVICE r06 item 2): a new sink
  instance over an existing base_dir must resume versioning after the
  newest committed snapshot instead of colliding with v000001.
"""

from __future__ import annotations

from datetime import datetime

EVENT_SCHEMA = (
    "user_id long, ts timestamp, event_id long, "
    "event_type string, value double"
)


def test_upsert_sink_reopen_and_continue(spark, tmp_path):
    """Restart recovery: reopening an existing base_dir picks up the
    version counter from committed snapshots, the next commit lands in
    a FRESH version dir, and the merged table reflects both the
    pre-restart and post-restart batches under the same merge law."""
    from mrtweety_analytic_spark.streaming.queries import UpsertKeyedSink

    base = str(tmp_path / "tbl")
    first = UpsertKeyedSink(base_dir=base)
    first(
        spark.createDataFrame(
            [
                (1, datetime(2024, 1, 1, 0, 0, 10), 100, "a", 1.0),
                (2, datetime(2024, 1, 1, 0, 0, 20), 101, "b", 2.0),
            ],
            EVENT_SCHEMA,
        ),
        0,
    )
    first(
        spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 0, 0, 30), 102, "c", 3.0)],
            EVENT_SCHEMA,
        ),
        1,
    )
    committed = first.snapshots()
    assert committed == [1, 2]

    # Simulate a driver restart: a brand-new sink object, same dir.
    reopened = UpsertKeyedSink(base_dir=base)
    assert reopened._version == 2  # resumed, not reset to 0
    reopened(
        spark.createDataFrame(
            [
                (2, datetime(2024, 1, 1, 0, 0, 40), 103, "d", 4.0),
                (3, datetime(2024, 1, 1, 0, 0, 50), 104, "e", 5.0),
            ],
            EVENT_SCHEMA,
        ),
        2,
    )
    assert reopened.snapshots() == [1, 2, 3]

    got = {
        r.user_id: (r.event_id, r.value)
        for r in reopened.table().collect()
    }
    assert got == {1: (102, 3.0), 2: (103, 4.0), 3: (104, 5.0)}

    # Time travel across the restart boundary still resolves.
    pre = {
        r.user_id: r.event_id for r in reopened.table(as_of=2).collect()
    }
    assert pre == {1: 102, 2: 101}






def test_ks_test_contract(spark, sf_dir):
    """KS statistic and p-value live in [0,1]; lambda consistent with
    D and the sample sizes; the exact-grid precondition (value on a
    0.01 grid) holds on the corpus — the fact that makes the
    distinct-value collapse EXACT rather than binned."""
    import math

    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    r = QUERIES["q_dq_ks_test"](spark, sf_dir).collect()[0]
    assert 0.0 <= r.ks_stat <= 1.0
    assert 0.0 <= r.p_value <= 1.0
    expect_lambda = r.ks_stat * math.sqrt(
        r.n_a * r.n_b / (r.n_a + r.n_b)
    )
    assert abs(r["lambda"] - expect_lambda) < 1e-4

    off_grid = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") != F.round(F.col("value"), 2))
        .count()
    )
    assert off_grid == 0


def test_ks_p_value_clamped(spark):
    """ADVICE r07: the truncated 5-term Kolmogorov series exceeds 1
    for small lambda (it tends to 2 as lambda -> 0), so the p-value
    must be clamped to [0, 1] — the corpus arms differ strongly, so
    only a synthetic small lambda exercises the boundary. Pin that
    the raw partial sum really is > 1 there (the hazard is real) and
    that the shipped expression clamps it to exactly 1."""
    import math

    from pyspark.sql import functions as F

    from mrtweety_analytic_spark.operators.quality import (
        KS_SERIES_K,
        _ks_p_value,
    )

    lam = 0.05
    raw = sum(
        2.0 * (-1) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        for k in range(1, KS_SERIES_K + 1)
    )
    assert raw > 1.0  # unclamped series is an invalid probability
    rows = (
        spark.range(1)
        .select(_ks_p_value(F.lit(lam)).alias("p"))
        .collect()
    )
    assert rows[0].p == 1.0


def test_cuped_preserves_pooled_mean_and_reduces_variance(spark, sf_dir):
    """CUPED's defining invariants: (1) the user-weighted pooled mean
    of the adjusted metric equals the pooled raw mean (the adjustment
    is mean-zero, so it cannot bias the aggregate level); (2) the
    reported variance reduction is a valid r-squared in [0, 1]."""
    from mrtweety_analytic_spark.queries import QUERIES

    rows = QUERIES["q_events_cuped"](spark, sf_dir).collect()
    assert len(rows) == 2
    n = sum(r.n_users for r in rows)
    raw = sum(r.mean_y * r.n_users for r in rows) / n
    adj = sum(r.mean_y_cuped * r.n_users for r in rows) / n
    assert abs(raw - adj) < 1e-3
    for r in rows:
        assert 0.0 <= r.var_reduction <= 1.0


def test_components_cert_partition_properties(spark, sf_dir):
    """Connected components form a partition: every nation appears
    exactly once, the component id is a member of its own component
    (the canonical min label), and sizes sum to the node count."""
    from mrtweety_analytic_spark.queries import QUERIES

    rows = QUERIES["q_graph_components_cert"](spark, sf_dir).collect()
    nodes = [r.n_name for r in rows]
    assert len(nodes) == len(set(nodes)) == 25
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component, set()).add(r.n_name)
    for comp, members in by_comp.items():
        assert comp in members, "component id must be its min member"
        assert comp == min(members)
    assert sum(len(m) for m in by_comp.values()) == 25
    for r in rows:
        assert r.comp_size == len(by_comp[r.component])


def test_ivfpq_contract(spark, sf_dir):
    """IVF-PQ structural invariants the oracle hash can't narrate:
    at most IVFPQ_K results per probe, distances non-negative and
    non-decreasing in rank order, and the recall certificate is a
    valid fraction over exactly BATCH_K * n_probes ground-truth
    rows."""
    from collections import defaultdict

    from mrtweety_analytic_spark.operators.similarity import (
        BATCH_K,
        IVFPQ_K,
    )
    from mrtweety_analytic_spark.queries import QUERIES

    per_probe = defaultdict(list)
    for r in QUERIES["q_sim_ivfpq"](spark, sf_dir).collect():
        assert r.approx_l2 >= 0.0
        per_probe[r.probe_id].append(r.approx_l2)
    assert per_probe
    for scores in per_probe.values():
        assert len(scores) <= IVFPQ_K

    rec = QUERIES["q_sim_ivfpq_recall"](spark, sf_dir).collect()[0]
    assert rec.n_exact == BATCH_K * rec.n_probes
    assert 0.0 <= rec.recall_at_k <= 1.0
    assert rec.n_hit <= rec.n_exact


def test_kfold_leakage_free_and_complete(spark, sf_dir):
    """K-fold invariants: zero cross-fold near-dup pairs
    (STRUCTURAL — fold is a function of cluster id), folds cover the
    whole corpus exactly once, and fold ids are within [0, K)."""
    from mrtweety_analytic_spark.operators.dedup import KF_K
    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    rows = QUERIES["q_sample_kfold"](spark, sf_dir).collect()
    assert all(r.n_leak_pairs == 0 for r in rows)
    assert all(0 <= r.fold < KF_K for r in rows)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs


def test_ljung_box_internal_consistency(spark, sf_dir):
    """Ljung-Box invariants: each ACF lag in [-1, 1], Q non-negative
    and consistent with the emitted r_k values under the published
    formula, and the rejection flag agrees with the chi-square
    critical value."""
    from mrtweety_analytic_spark.operators.mining import (
        LB_CHI2_CRIT_3DF_95,
        LB_LAGS,
    )
    from mrtweety_analytic_spark.queries import QUERIES

    rows = QUERIES["q_ts_ljung_box"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_days > LB_LAGS
        q_check = 0.0
        for k in range(1, LB_LAGS + 1):
            rk = r[f"r{k}"]
            assert -1.0 <= rk <= 1.0
            q_check += rk * rk / (r.n_days - k)
        q_check *= r.n_days * (r.n_days + 2.0)
        assert r.lb_q >= 0.0
        # r_k are rounded to 6dp, so the recomputed Q matches loosely
        assert abs(r.lb_q - q_check) < 0.05 * max(1.0, abs(r.lb_q))
        assert r.reject_white_noise_95 == (r.lb_q > LB_CHI2_CRIT_3DF_95)


def test_chi2_matches_pure_python(spark, sf_dir):
    """The chi-square statistic equals the from-scratch textbook
    computation (observed vs expected from margins) on the same
    contingency table — a full numeric pin, independent of the
    algebraic shortcut the operator uses."""
    from collections import defaultdict

    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    cells = {
        (r.source, r.lang): r.c
        for r in docs.groupBy("source", "lang").count()
        .withColumnRenamed("count", "c").collect()
    }
    rt: dict = defaultdict(int)
    ct: dict = defaultdict(int)
    for (s, l), o in cells.items():
        rt[s] += o
        ct[l] += o
    n = sum(cells.values())
    chi2 = 0.0
    for s in rt:
        for l in ct:
            e = rt[s] * ct[l] / n
            o = cells.get((s, l), 0)
            chi2 += (o - e) ** 2 / e
    r = QUERIES["q_dq_chi2"](spark, sf_dir).collect()[0]
    assert abs(r.chi2 - chi2) < 1e-3
    assert r.n_docs == n
    assert r.dof == (len(rt) - 1) * (len(ct) - 1)
    assert 0.0 <= r.cramers_v <= 1.0
