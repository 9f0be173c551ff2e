"""Round-6 operator tests: what the DuckDB oracles can't express —
cross-engine hash parity, partitioning invariance, planted-signal
detection, canonical-bucket dedup, and kernel-vs-reference checks.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_hash48_parity_spark_vs_duckdb(spark):
    """The engine-portable 48-bit md5 gate (q_shard_assign /
    q_mix_rebalance) must produce IDENTICAL values in Spark and
    DuckDB — the whole point of hash-gated sampling is that the kept
    set is reproducible across engines."""
    import duckdb

    got = {
        r.doc_id: r.h
        for r in spark.range(500)
        .select(
            F.col("id").alias("doc_id"),
            F.expr(
                "conv(substring(md5(cast(doc_id AS string)), 1, 12), 16, 10)"
            )
            .cast("bigint")
            .alias("h"),
        )
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.sql(
            "SELECT i, ('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 12))"
            "::BIGINT FROM range(500) t(i)"
        ).fetchall()
    )
    assert got == want


def test_ts_changepoint_finds_planted_shift(spark, tmp_path):
    """A series flat at 10/day for 20 days then 30/day for 10 days
    must put the CUSUM argmax at the shift boundary."""
    from mrtweety_analytic_spark.queries import QUERIES

    rows = []
    eid = 0
    for d in range(30):
        n = 10 if d < 20 else 30
        for i in range(n):
            rows.append(
                (
                    eid,
                    1,
                    datetime(2024, 3, 1) + timedelta(days=d, seconds=i),
                    "shift",
                    1.0,
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = QUERIES["q_ts_changepoint"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    # CUSUM of a single level shift peaks on the last pre-shift day
    assert got[0].cp_day.date() == (
        datetime(2024, 3, 1).date() + timedelta(days=19)
    )
    assert got[0].n_days == 30


def test_ts_holt_matches_reference_and_skips_singletons(spark, tmp_path):
    """The applyInPandas kernel equals a plain-Python Holt reference
    on a constructed 2-type corpus, and a type with a single day
    (undefined trend) is dropped."""
    from mrtweety_analytic_spark.operators.mining import HOLT_ALPHA, HOLT_BETA
    from mrtweety_analytic_spark.queries import QUERIES

    series = {"a": [5.0, 8.0, 6.0, 9.0, 12.0], "lone": [3.0]}
    rows = []
    eid = 0
    for et, vs in series.items():
        for d, n in enumerate(vs):
            for i in range(int(n)):
                rows.append(
                    (
                        eid,
                        1,
                        datetime(2024, 5, 1) + timedelta(days=d, seconds=i),
                        et,
                        1.0,
                    )
                )
                eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r.event_type: r for r in QUERIES["q_ts_holt"](spark, str(tmp_path)).collect()}
    assert set(got) == {"a"}  # singleton type skipped

    v = series["a"]
    l, b = v[0], v[1] - v[0]
    for t in range(1, len(v)):
        l_new = HOLT_ALPHA * v[t] + (1 - HOLT_ALPHA) * (l + b)
        b = HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b
        l = l_new
    assert got["a"].level == pytest.approx(round(l, 6))
    assert got["a"].trend == pytest.approx(round(b, 6))
    assert got["a"].forecast_7d == pytest.approx(round(l + 7 * b, 6))


def test_dq_drift_detects_planted_shift(spark, tmp_path):
    """PSI ~ 0 for a stable distribution, large for a planted
    location shift between the two calendar halves."""
    from mrtweety_analytic_spark.queries import QUERIES

    rows = []
    eid = 0
    for d in range(30):
        for i in range(40):
            stable = float((i * 7) % 100)
            drift = float((i * 7) % 100) + (0.0 if d < 15 else 400.0)
            rows.append((eid, 1, datetime(2024, 7, 1) + timedelta(days=d, seconds=i), "stable", stable)); eid += 1
            rows.append((eid, 1, datetime(2024, 7, 1) + timedelta(days=d, seconds=i), "drift", drift)); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r.event_type: r.psi for r in QUERIES["q_dq_drift"](spark, str(tmp_path)).collect()}
    assert got["stable"] < 0.01
    assert got["drift"] > 0.5
    assert all(psi >= 0 for psi in got.values())


def test_interval_overlap_counts_multi_bucket_pairs_once(spark, tmp_path):
    """A session spanning MANY 1-hour buckets that overlaps an
    incident across several of them must be counted exactly once
    (the canonical-bucket trick replaces a distinct), and the result
    equals the brute-force theta join."""
    from mrtweety_analytic_spark.queries import QUERIES

    base = datetime(2024, 9, 1)
    rows = []
    eid = 0
    # user 1: one long session 00:00-03:00 (events every 20 min)
    for m in range(0, 181, 20):
        rows.append((eid, 1, base + timedelta(minutes=m), "view", 1.0)); eid += 1
    # user 2: short session entirely inside hour 1
    for m in (70, 80):
        rows.append((eid, 2, base + timedelta(minutes=m), "view", 1.0)); eid += 1
    # errors: two in the same 10-min window spanning hours 1-2 edge
    rows.append((eid, 9, base + timedelta(minutes=119), "error", 1.0)); eid += 1
    rows.append((eid, 9, base + timedelta(minutes=118), "error", 1.0)); eid += 1
    # an error far away, overlapping nothing
    rows.append((eid, 9, base + timedelta(days=2), "error", 1.0)); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.i_start: r.n_sessions
        for r in QUERIES["q_join_interval_overlap"](spark, str(tmp_path)).collect()
    }
    # incident at ~118-119 min overlaps ONLY user 1's long session
    # (user 2's session ended at minute 80); counted once, not once
    # per shared bucket. The far error overlaps its own singleton
    # error "session" for user 9? No: sessions come from ALL events
    # including the error rows themselves.
    inc1 = base + timedelta(minutes=118)
    assert got[inc1] == 2  # user 1's session + user 9's error-pair session
    far = base + timedelta(days=2)
    assert got[far] == 1  # only its own singleton session

    # brute force parity
    from mrtweety_analytic_spark.operators.analytics import sessionize

    sess = (
        sessionize(df)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .collect()
    )
    inc = (
        df.filter(F.col("event_type") == "error")
        .groupBy(F.floor(F.unix_timestamp("ts") / 600).alias("iw"))
        .agg(F.min("ts").alias("i_start"), F.max("ts").alias("i_end"))
        .collect()
    )
    want = {}
    for i in inc:
        n = sum(
            1 for s in sess if s.s_start <= i.i_end and i.i_start <= s.s_end
        )
        if n:
            want[i.i_start] = n
    assert got == want


def test_events_pareto_shares_are_coherent(spark, sf_dir):
    from mrtweety_analytic_spark.queries import QUERIES

    rows = sorted(
        QUERIES["q_events_pareto"](spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.share for r in rows) == pytest.approx(1.0, abs=1e-4)
    assert rows[-1].cum_share == pytest.approx(1.0, abs=1e-6)
    # heaviest decile first: shares must be non-increasing
    shares = [r.share for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(shares, shares[1:]))


def test_bpe_pairs_hand_computed(spark, tmp_path):
    """Tiny corpus with known word frequencies: pair weights equal
    the hand-computed adjacent-pair counts weighted by word count."""
    from mrtweety_analytic_spark.queries import QUERIES

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["aba aba ab", "Xx aba zz zz 1a"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [10, 15],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    got = {
        r.pair: (r.wsum, r.n_positions)
        for r in QUERIES["q_text_bpe_pairs"](spark, str(tmp_path)).collect()
    }
    # aba x3 -> ab,ba each once per word; ab x1 -> ab; xx x1; zz x2
    # "1a" fails the [a-z]{2,} filter
    assert got["ab"] == (4, 2)  # 3 (aba) + 1 (ab); in 2 distinct words
    assert got["ba"] == (3, 1)
    assert got["xx"] == (1, 1)
    assert got["zz"] == (2, 1)


def test_graph_bfs_levels_on_constructed_graph(spark, tmp_path):
    """Chain + isolated component: BFS levels match hand-derived hop
    counts, the isolated pair (not reachable from the three seed
    customers) is absent, and seeds are level 0."""
    from mrtweety_analytic_spark.queries import QUERIES

    # edges via orders+lineitem: c1-s1, c2-s1 (cluster), c3-s3, c4-s3,
    # c4-s4 (chain from c3), c10-s10 (isolated: c10 not a seed)
    orders = [(1, 1), (2, 2), (3, 3), (4, 4), (5, 4), (6, 10)]
    lines = [(1, 1), (2, 1), (3, 3), (4, 3), (5, 4), (6, 10)]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines, "l_orderkey long, l_suppkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r.node: r.lvl
        for r in QUERIES["q_graph_bfs"](spark, str(tmp_path)).collect()
    }
    assert got == {
        "c1": 0, "c2": 0, "c3": 0,
        "s1": 1, "s3": 1,
        "c4": 2,
        "s4": 3,
    }  # c10/s10 unreachable -> absent


def test_llr_ranks_planted_collocation_and_nonnegative(spark, tmp_path):
    """A planted always-together bigram must outrank a frequent-but-
    independent pair, and every LLR is >= 0 (it is a G-test stat)."""
    import pandas as pd

    from mrtweety_analytic_spark.queries import QUERIES

    filler = " ".join(f"w{i % 7} w{(i * 3) % 11}" for i in range(40))
    docs = pd.DataFrame(
        {
            "doc_id": range(10),
            "text": [f"alpha beta {filler}" for _ in range(10)],
            "lang": ["en"] * 10,
            "source": ["s"] * 10,
            "n_chars": [100] * 10,
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    rows = QUERIES["q_text_llr"](spark, str(tmp_path)).collect()
    assert all(r.llr >= 0 for r in rows)
    assert rows[0].bigram == "alpha beta"


def test_streaming_drift_equals_batch_drift(spark, sf_dir):
    """The streaming monitor and the batch audit must produce the
    SAME PSI table (shared core + full replay equivalence)."""
    from mrtweety_analytic_spark.queries import QUERIES

    batch = {
        r.event_type: r
        for r in QUERIES["q_dq_drift"](spark, sf_dir).collect()
    }
    stream = {
        r.event_type: r
        for r in QUERIES["s_dq_drift"](spark, sf_dir).collect()
    }
    assert batch.keys() == stream.keys()
    for k in batch:
        assert batch[k].psi == stream[k].psi
        assert batch[k].n_early == stream[k].n_early
        assert batch[k].n_late == stream[k].n_late


def test_vacuum_removes_orphans_only_and_is_idempotent(spark, tmp_path):
    """vacuum(): committed data unchanged, orphan version dirs and
    stale tmp pointers removed, second vacuum finds nothing."""
    import os
    from datetime import datetime

    from mrtweety_analytic_spark.streaming.queries import UpsertKeyedSink

    sink = UpsertKeyedSink(base_dir=str(tmp_path / "tbl"))
    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 10), 100, "a", 1.0),
        (2, datetime(2024, 1, 1, 0, 0, 20), 101, "b", 2.0),
    ]
    schema = (
        "user_id long, ts timestamp, event_id long, "
        "event_type string, value double"
    )
    sink(spark.createDataFrame(rows, schema), 0)
    before = sink.rows

    orphan = os.path.join(sink.base, "v424242", "bucket=1")
    os.makedirs(orphan)
    open(os.path.join(orphan, "junk.parquet"), "w").write("x")
    open(os.path.join(sink.base, "_CURRENT.tmp"), "w").write("{}")

    stats = sink.vacuum()
    assert stats["n_orphans_removed"] == 1
    assert stats["n_tmp_removed"] == 1
    assert not os.path.exists(os.path.join(sink.base, "v424242"))
    assert sink.rows == before

    again = sink.vacuum()
    assert again["n_orphans_removed"] == 0
    assert again["n_tmp_removed"] == 0
    assert sink.rows == before


def test_sample_weighted_contract(spark, sf_dir):
    """Weighted sampler: exactly WS_TOP_K rows per stratum (fixture
    strata are larger), weights clamped to [1, WS_MAX_W] and equal to
    the documented length formula, deterministic across calls."""
    from mrtweety_analytic_spark.operators.lifecycle import (
        WS_MAX_W,
        WS_TOP_K,
    )
    from mrtweety_analytic_spark.queries import QUERIES

    rows = QUERIES["q_sample_weighted"](spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
        assert 1 <= r.wt <= WS_MAX_W
        assert r.wt == min(WS_MAX_W, max(1, r.n_chars // 200))
    assert all(len(v) == WS_TOP_K for v in by_src.values())
    again = QUERIES["q_sample_weighted"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_countmin_never_underestimates(spark, sf_dir, tmp_path):
    """CMS one-sided error: no probe is ever underestimated — on the
    fixture corpus AND on a constructed heavy-skew corpus where the
    sketch is saturated (500 distinct terms into 64 cells)."""
    import pandas as pd

    from mrtweety_analytic_spark.queries import QUERIES

    r = QUERIES["q_agg_countmin_eval"](spark, sf_dir).collect()[0]
    assert r.n_underestimates == 0
    assert r.n_probes == 20
    assert r.max_rel_err >= 0

    text = " ".join(
        ["heavy"] * 200 + [f"t{i}" for i in range(500)]
    )
    pd.DataFrame(
        {
            "doc_id": [0],
            "text": [text],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [len(text)],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    r2 = QUERIES["q_agg_countmin_eval"](spark, str(tmp_path)).collect()[0]
    assert r2.n_underestimates == 0


ROUND6_OPS_TABLES = {
    "q_shard_assign": ["documents"],
    "q_mix_rebalance": ["documents"],
    "q_text_bpe_pairs": ["documents"],
    "q_text_llr": ["documents"],
    "q_sample_weighted": ["documents"],
    "q_agg_countmin_eval": ["documents"],
    "q_ts_changepoint": ["events"],
    "q_ts_holt": ["events"],
    "q_dq_drift": ["events"],
    "q_join_interval_overlap": ["events"],
    "q_events_pareto": ["events"],
    "q_maintenance_vacuum": ["events"],
    "q_graph_bfs": ["orders", "lineitem"],
}

EMPTY_SCHEMAS = {
    "documents": "doc_id long, text string, lang string, source string,"
                 " n_chars long",
    "events": "event_id long, user_id long, ts timestamp,"
              " event_type string, value double",
    "orders": "o_orderkey long, o_custkey long",
    "lineitem": "l_orderkey long, l_suppkey long",
}


def test_round6_ops_tolerate_empty_corpus(spark, tmp_path):
    """Every round-6 batch operator must run (not crash) on a
    zero-row corpus — the restart-on-empty-partition robustness a
    production pipeline needs. Aggregation-to-scalar ops may emit
    their one summary row; everything else must emit zero rows."""
    from mrtweety_analytic_spark.queries import QUERIES

    for t, schema in EMPTY_SCHEMAS.items():
        spark.createDataFrame([], schema).write.parquet(
            str(tmp_path / f"{t}.parquet")
        )
    may_emit_summary = {"q_agg_countmin_eval"}
    for name in ROUND6_OPS_TABLES:
        rows = QUERIES[name](spark, str(tmp_path)).collect()
        if name in may_emit_summary:
            assert len(rows) <= 1, name
        else:
            assert rows == [], name


def test_phash_duplicates_and_band_recall(spark, tmp_path):
    """aHash near-dup: identical payloads hash identically (reported
    at Hamming 0), and the banded candidate generation equals the
    brute-force Hamming<=3 pair set (pigeonhole recall guarantee) on
    a corpus with planted exact and near duplicates."""
    import pandas as pd

    from mrtweety_analytic_spark.queries import QUERIES

    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base[:-9] + "lazy cat "  # tail perturbation
    far = "completely different content with other bytes entirely " * 6
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [base, base, near, far],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(base)] * 2 + [len(near), len(far)],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in QUERIES["q_multimodal_phash"](spark, str(tmp_path)).collect()
    }
    assert got[(1, 2)] == 0  # exact duplicate payloads

    # brute-force parity over the same stub pipeline
    import numpy as np

    from mrtweety_analytic_spark.operators.multimodal import (
        raw_decode_stub,
        resize_nearest,
    )

    def ahash(text: str) -> int:
        img = resize_nearest(raw_decode_stub(text.encode()), 8, 8)
        bits = (img.astype(np.float64) >= img.mean()).flatten()
        h = 0
        for b in bits:
            h = (h << 1) | int(b)
        return h

    hs = {i: ahash(t) for i, t in zip(docs.doc_id, docs.text)}
    want = {}
    ids = sorted(hs)
    for i in ids:
        for j in ids:
            if i < j:
                d = bin(hs[i] ^ hs[j]).count("1")
                if d <= 3:
                    want[(i, j)] = d
    assert got == want


def test_keyed_table_time_travel_and_retention(spark, tmp_path):
    """Snapshot reads: table(as_of=sid) reproduces the state after
    each batch; vacuum(retain_last=1) expires older snapshots and
    their now-unreferenced version dirs while the current read is
    unchanged."""
    from datetime import datetime

    import pytest as _pytest

    from mrtweety_analytic_spark.streaming.queries import UpsertKeyedSink

    schema = (
        "user_id long, ts timestamp, event_id long, "
        "event_type string, value double"
    )
    sink = UpsertKeyedSink(base_dir=str(tmp_path / "tt"))
    b1 = [(1, datetime(2024, 1, 1, 0, 0, 10), 100, "a", 1.0)]
    b2 = [(1, datetime(2024, 1, 1, 0, 0, 50), 101, "b", 2.0),
          (2, datetime(2024, 1, 1, 0, 0, 20), 102, "c", 3.0)]
    sink(spark.createDataFrame(b1, schema), 0)
    sink(spark.createDataFrame(b2, schema), 1)
    s1, s2 = sink.snapshots()

    def state(df):
        return {r.user_id: (r.event_id, r.event_type) for r in df.collect()}

    assert state(sink.table(as_of=s1)) == {1: (100, "a")}
    assert state(sink.table(as_of=s2)) == {1: (101, "b"), 2: (102, "c")}
    assert state(sink.table()) == state(sink.table(as_of=s2))

    stats = sink.vacuum(retain_last=1)
    assert stats["n_snapshots_expired"] == 1
    assert sink.snapshots() == [s2]
    assert state(sink.table()) == {1: (101, "b"), 2: (102, "c")}
    with _pytest.raises(FileNotFoundError):
        sink.table(as_of=s1)


def test_ts_seasonal_recovers_planted_weekly_pattern(spark, tmp_path):
    """Series = 20 + dow-dependent bump, constant over weeks: the
    7-day centered trend is flat (=20 + mean bump), the seasonal
    profile matches the planted bumps (centered), residuals ~ 0."""
    from mrtweety_analytic_spark.queries import QUERIES

    bump = {0: 0, 1: 7, 2: 0, 3: 0, 4: 0, 5: 0, 6: 7}  # Mon,Sat +7
    rows, eid = [], 0
    for d in range(28):
        n = 20 + bump[d % 7]
        for i in range(n):
            rows.append(
                (eid, 1,
                 datetime(2024, 4, 1) + timedelta(days=d, seconds=i),
                 "w", 1.0)
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["q_ts_seasonal"](spark, str(tmp_path)).collect()
    assert len(out) == 28 - 6  # full 7-day windows only
    for r in out:
        assert abs(r.residual) < 1e-6, r
        assert r.trend == pytest.approx(22.0)  # 20 + mean bump 2


def test_mad_outlier_resists_masking(spark, tmp_path):
    """One 40x spike day: the MAD robust-z flags it (a mean/stddev
    z-score would be dragged toward the spike); all normal days stay
    unflagged."""
    from mrtweety_analytic_spark.queries import QUERIES

    rows, eid = [], 0
    for d in range(30):
        n = 400 if d == 12 else 10 + (d % 3)
        for i in range(n):
            rows.append(
                (eid, 1,
                 datetime(2024, 6, 1) + timedelta(days=d, seconds=i),
                 "m", 1.0)
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    # day is emitted as TIMESTAMP_NTZ midnight (cross-engine pandas-
    # dtype alignment) — key by .date()
    out = {
        r.day.date(): r
        for r in QUERIES["q_ts_outlier_mad"](spark, str(tmp_path)).collect()
    }
    spike_day = (datetime(2024, 6, 1) + timedelta(days=12)).date()
    assert out[spike_day].is_outlier == 1
    assert sum(r.is_outlier for r in out.values()) == 1


def test_asof_nearest_boundary_tie_and_tolerance(spark, tmp_path):
    """Nearest view resolves across the 10-min bucket boundary, ties
    break to the smaller view id, and views outside +-10 min never
    match."""
    from mrtweety_analytic_spark.queries import QUERIES

    base = datetime(2024, 8, 1, 12, 0, 0)

    def ev(eid, uid, dt_s, typ):
        return (eid, uid, base + timedelta(seconds=dt_s), typ, 1.0)

    rows = [
        # user 1: purchase at t=0 (bucket edge); nearest view 9 min
        # EARLIER (previous bucket); a farther view 9.5 min later
        ev(10, 1, 0, "purchase"),
        ev(11, 1, -540, "view"),
        ev(12, 1, 570, "view"),
        # user 2: two views exactly +-60 s -> tie, smaller id wins
        ev(20, 2, 0, "purchase"),
        ev(22, 2, 60, "view"),
        ev(21, 2, -60, "view"),
        # user 3: only view is 11 min away -> no match
        ev(30, 3, 0, "purchase"),
        ev(31, 3, 660, "view"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.event_id: (r.nearest_view_id, r.lag_sec)
        for r in QUERIES["q_join_asof_nearest"](spark, str(tmp_path)).collect()
    }
    assert got == {10: (11, -540.0), 20: (21, -60.0)}
