"""Checkpoint recovery — the capability the reference explicitly
lacked (no checkpointing anywhere; window state lost on restart,
SURVEY.md §2A negative space / BASELINE.md fault-tolerance row).

A streaming aggregation is run, stopped, fed more data, and
RESTARTED from the same checkpoint: state must survive (counts keep
accumulating, no double-counting of batch-1 rows).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "key string, ts_s string").select(
        "key", F.col("ts_s").cast("timestamp").alias("ts")
    ).write.mode("append").parquet(path)


def _start(spark, src, ckpt, name):
    agg = (
        spark.readStream.schema("key string, ts timestamp").parquet(src)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_restart_resumes_state_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, [("a", "2024-01-01 00:00:00"),
                              ("a", "2024-01-01 00:00:01"),
                              ("b", "2024-01-01 00:00:02")])
    q1 = _start(spark, src, ckpt, "ckpt_run1")
    try:
        q1.processAllAvailable()
        first = {r["key"]: r["n"] for r in spark.table("ckpt_run1").collect()}
    finally:
        q1.stop()
        q1.awaitTermination()
    assert first == {"a": 2, "b": 1}

    # New data arrives while the query is DOWN.
    _write_batch(spark, src, [("a", "2024-01-01 00:01:00"),
                              ("c", "2024-01-01 00:01:01")])

    # Restart from the same checkpoint: prior state recovered, only
    # the new file processed (no double count of batch-1 rows).
    q2 = _start(spark, src, ckpt, "ckpt_run2")
    try:
        q2.processAllAvailable()
        second = {r["key"]: r["n"] for r in spark.table("ckpt_run2").collect()}
    finally:
        q2.stop()
        q2.awaitTermination()
    assert second == {"a": 3, "b": 1, "c": 1}

    for v in ("ckpt_run1", "ckpt_run2"):
        spark.catalog.dropTempView(v)


def _state_widths(q):
    return {
        op.numShufflePartitions
        for p in q.recentProgress
        for op in p.stateOperators
    }


def test_restart_keeps_the_recorded_state_width(spark, tmp_path):
    """A checkpoint written at 32 state partitions (the width before
    the stream state width shrank) restarts under the session default
    with its 32 state stores and no lost or doubled count: the offset
    log records the width, so an existing stream needs no migration."""
    from mrtweety_analytic_spark.session import RUNTIME_CONF

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    keys = [f"k{i}" for i in range(40)]
    _write_batch(spark, src, [(k, "2024-01-01 00:00:00") for k in keys])

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        q1 = _start(spark, src, ckpt, "width_run1")
        try:
            q1.processAllAvailable()
        finally:
            q1.stop()
            q1.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert _state_widths(q1) == {32}

    _write_batch(spark, src, [(k, "2024-01-01 00:01:00") for k in keys[::3]])
    default = int(RUNTIME_CONF["spark.sql.shuffle.partitions"])
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == default

    q2 = _start(spark, src, ckpt, "width_run2")
    q3 = None
    try:
        q2.processAllAvailable()
        restarted = {r["key"]: r["n"] for r in spark.table("width_run2").collect()}
        q3 = _start(spark, src, str(tmp_path / "fresh"), "width_fresh")
        q3.processAllAvailable()
        fresh = {r["key"]: r["n"] for r in spark.table("width_fresh").collect()}
    finally:
        for q in (q2, q3):
            if q is not None:
                q.stop()
                q.awaitTermination()
        for v in ("width_run1", "width_run2", "width_fresh"):
            spark.catalog.dropTempView(v)
    assert _state_widths(q2) == {32}
    assert _state_widths(q3) == {default}
    assert restarted == fresh
    assert sum(fresh.values()) == 40 + len(keys[::3])


# ---------------------------------------------------------------------------
# Ingest-health triad restart tests (VERDICT r10 item 6): the triad's
# value claim is REPLAY-EXACTNESS of its bounded state (monotone mins,
# additive counters). Each test kills the query, feeds data while it
# is down, restarts from the same checkpoint, and asserts the FULL
# recovered state equals the uninterrupted batch result. The harness
# runs the shipped aggregation expressions in COMPLETE mode (the only
# memory-sink mode Spark allows to recover from a checkpoint); state
# semantics are identical to the registered update-mode ops — output
# mode changes emission, not the state store. Lost state is
# detectable, not maskable: the checkpoint pins the batch-1 file
# offsets, so a rebuilt state would show batch-2-only mins/counts and
# MISS batch-1-only keys entirely.
# ---------------------------------------------------------------------------


def _run_complete(spark, agg, ckpt, name):
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    return rows


def test_restart_novelty_min_state_recovered(spark, tmp_path):
    from mrtweety_analytic_spark.streaming.queries import _novelty_firsts

    src = str(tmp_path / "ev")

    def write(rows):
        spark.createDataFrame(
            rows, "user_id long, event_type string, ts_s string"
        ).select(
            "user_id", "event_type",
            F.col("ts_s").cast("timestamp").alias("ts"),
        ).write.mode("append").parquet(src)

    def agg():
        ev = spark.readStream.schema(
            "user_id long, event_type string, ts timestamp"
        ).parquet(src)
        return _novelty_firsts(ev)

    write([(1, "click", "2024-01-01 00:00:00"),
           (2, "view", "2024-01-01 01:00:00")])
    ckpt = str(tmp_path / "ckpt")
    run1 = {r["bucket"]: r["first_ts"] for r in
            _run_complete(spark, agg(), ckpt, "nov_run1")}
    assert len(run1) == 2

    # While DOWN: a LATER event on an existing key (must not move its
    # bucket's min — lost state would re-seed the bucket at day 2)
    # and a new key (new bucket).
    write([(1, "click", "2024-01-02 00:00:00"),
           (3, "purchase", "2024-01-01 02:00:00")])
    run2 = {r["bucket"]: r["first_ts"] for r in
            _run_complete(spark, agg(), ckpt, "nov_run2")}

    expect = {
        r["bucket"]: r["first_ts"]
        for r in _novelty_firsts(spark.read.parquet(src)).collect()
    }
    assert run2 == expect
    # The planted existing-key bucket kept its batch-1 min.
    for b, ts in run1.items():
        assert run2[b] == ts, "restart lost the bucket's min(ts)"


def test_restart_dup_rate_owner_state_recovered(spark, tmp_path):
    import pandas as pd

    from mrtweety_analytic_spark.streaming.queries import (
        _mdr_band_buckets,
    )

    src = str(tmp_path / "docs")
    t_a = "the quick brown fox jumps over the lazy dog today"
    t_b = "completely different words about spark shuffle joins"
    t_c = "yet another unrelated document mentioning parquet scans"

    def write(rows):
        spark.createDataFrame(
            pd.DataFrame(
                [
                    {"doc_id": i, "text": t, "lang": "en",
                     "source": "s0", "n_chars": len(t)}
                    for i, t in rows
                ]
            )
        ).write.mode("append").parquet(src)

    def agg():
        docs = spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).parquet(src)
        return (
            _mdr_band_buckets(docs)
            .select("bucket", "doc_id")
            .groupBy("bucket")
            .agg(F.min("doc_id").alias("first_doc"))
        )

    write([(0, t_a), (1, t_b)])
    ckpt = str(tmp_path / "ckpt")
    run1 = {r["bucket"]: r["first_doc"] for r in
            _run_complete(spark, agg(), ckpt, "mdr_run1")}
    assert set(run1.values()) == {0, 1}

    # While DOWN: doc 2 = exact copy of doc 0 (same 4 band buckets,
    # higher doc_id — owner must stay 0; lost state would re-own
    # those buckets as doc 2) and doc 3 = fresh text (new buckets).
    write([(2, t_a), (3, t_c)])
    run2 = {r["bucket"]: r["first_doc"] for r in
            _run_complete(spark, agg(), ckpt, "mdr_run2")}

    expect = {
        r["bucket"]: r["first_doc"]
        for r in _mdr_band_buckets(spark.read.parquet(src))
        .groupBy("bucket")
        .agg(F.min("doc_id").alias("first_doc"))
        .collect()
    }
    assert run2 == expect
    assert 2 not in run2.values(), "copy re-owned a recovered bucket"
    for b, owner in run1.items():
        assert run2[b] == owner, "restart lost the bucket owner"


def test_restart_quality_gate_counters_recovered(spark, tmp_path):
    import pandas as pd

    from mrtweety_analytic_spark.streaming.queries import _qg_counters

    src = str(tmp_path / "docs")
    good = (
        "the distributed query engine executes streaming aggregations "
        "with bounded state while checkpoint recovery guarantees "
        "exactly once semantics across restarts of the ingestion "
        "pipeline today"
    )
    short = "too short"

    def write(rows):
        spark.createDataFrame(
            pd.DataFrame(
                [
                    {"doc_id": i, "text": t, "lang": "en",
                     "source": s, "n_chars": len(t)}
                    for i, t, s in rows
                ]
            )
        ).write.mode("append").parquet(src)

    def agg():
        docs = spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).parquet(src)
        return _qg_counters(docs)

    write([(0, good, "s0"), (1, short, "s0"), (2, good, "s1")])
    ckpt = str(tmp_path / "ckpt")
    run1 = {r["source"]: (r["n_docs"], r["n_pass"]) for r in
            _run_complete(spark, agg(), ckpt, "qg_run1")}
    assert run1["s0"] == (2, 1) and run1["s1"] == (1, 1)

    # While DOWN: two more s0 docs. Additive counters must RESUME
    # from (2, 1) — lost state would report batch-2-only (2, 2) and
    # drop s1 (whose only doc is in the already-committed batch 1).
    write([(3, good, "s0"), (4, good, "s0")])
    run2 = {r["source"]: (r["n_docs"], r["n_pass"]) for r in
            _run_complete(spark, agg(), ckpt, "qg_run2")}
    expect = {
        r["source"]: (r["n_docs"], r["n_pass"])
        for r in _qg_counters(spark.read.parquet(src)).collect()
    }
    assert run2 == expect
    assert run2["s0"] == (4, 3) and run2["s1"] == (1, 1)


def test_restart_schema_drift_census_recovered(spark, tmp_path):
    import pandas as pd

    from mrtweety_analytic_spark.streaming.queries import (
        _drift_shape_counts,
    )

    src = str(tmp_path / "ev")
    p_a = '{"k": 1, "tag": "x"}'          # shape A
    p_a2 = '{"k": 2.5, "tag": "y"}'       # shape A too (NUM-normalized)
    p_b = '{"k": 1, "tag": "x", "v2": true}'  # shape B (new field)

    def write(rows):
        spark.createDataFrame(
            pd.DataFrame(
                [{"event_id": i, "props": p} for i, p in rows]
            )
        ).write.mode("append").parquet(src)

    def agg():
        ev = spark.readStream.schema(
            "event_id long, props string"
        ).parquet(src)
        return _drift_shape_counts(ev)

    write([(0, p_a), (1, p_a2)])
    ckpt = str(tmp_path / "ckpt")
    run1 = {r["shape"]: r["n_part"] for r in
            _run_complete(spark, agg(), ckpt, "drift_run1")}
    # int-vs-float payloads normalize to ONE shape (NUM folding).
    assert len(run1) == 1 and set(run1.values()) == {2}

    # While DOWN: a producer ships a NEW field (shape B) plus one
    # more shape-A row — the recovered census must keep counting A
    # from 2 (lost state would restart it at 1) and register B.
    write([(2, p_b), (3, p_a)])
    run2 = {r["shape"]: r["n_part"] for r in
            _run_complete(spark, agg(), ckpt, "drift_run2")}

    expect = {
        r["shape"]: r["n_part"]
        for r in _drift_shape_counts(
            spark.read.parquet(src)
        ).collect()
    }
    assert run2 == expect
    assert sorted(run2.values()) == [1, 3]


def test_restart_decontamination_counters_recovered(spark, tmp_path):
    import pandas as pd

    from mrtweety_analytic_spark.streaming.queries import (
        _decon_flagged,
    )

    src = str(tmp_path / "docs")
    bench_text = "alpha beta gamma delta epsilon zeta"
    clean_text = "one two three four five six seven"
    # contaminated: shares the 4-gram "beta gamma delta epsilon"
    dirty_text = "intro beta gamma delta epsilon outro"

    # Build the bench array the same way the op does (4-gram kernel).
    from mrtweety_analytic_spark.operators.textops import (
        DECON_N,
        _word_ngrams,
    )

    bench_row = (
        spark.createDataFrame(pd.DataFrame([{"text": bench_text}]))
        .select(
            F.explode(
                _word_ngrams(F.split("text", " "), DECON_N)
            ).alias("s")
        )
        .agg(F.collect_set("s").alias("bench"))
    )

    def write(rows):
        spark.createDataFrame(
            pd.DataFrame(
                [{"doc_id": i, "text": t, "source": s} for i, t, s in rows]
            )
        ).write.mode("append").parquet(src)

    def agg():
        docs = spark.readStream.schema(
            "doc_id long, text string, source string"
        ).parquet(src)
        return (
            _decon_flagged(docs, bench_row)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("hit").alias("n_hit"),
            )
        )

    write([(1, clean_text, "s0"), (2, dirty_text, "s0")])
    ckpt = str(tmp_path / "ckpt")
    run1 = {r["source"]: (r["n_docs"], r["n_hit"]) for r in
            _run_complete(spark, agg(), ckpt, "decon_run1")}
    assert run1 == {"s0": (2, 1)}

    # While DOWN: one more dirty doc and a clean one on a new source
    # — recovered counters must keep counting from (2, 1).
    write([(3, dirty_text, "s0"), (4, clean_text, "s1")])
    run2 = {r["source"]: (r["n_docs"], r["n_hit"]) for r in
            _run_complete(spark, agg(), ckpt, "decon_run2")}
    assert run2 == {"s0": (3, 2), "s1": (1, 0)}
