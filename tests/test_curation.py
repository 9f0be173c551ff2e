"""Corpus-curation family: shard addressing under repartitioning, the
language-mix rebalance, the training export's books, and the spec
runner's redact stage and audit mode — the invariants the DuckDB
oracles' aggregate outputs can't see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mrtweety_analytic_spark.queries import QUERIES


def test_shard_assign_invariant_under_partitioning(spark, sf_dir, tmp_path):
    """Same corpus => same (shard, offset) addresses, no matter how
    the input is partitioned (retry/reshuffle reproducibility), and
    offsets are dense 0..n_s-1 within every shard."""
    from mrtweety_analytic_spark.queries import QUERIES

    base = QUERIES["q_shard_assign"](spark, sf_dir)
    rows = {r.doc_id: (r.shard, r.offset) for r in base.collect()}

    # rewrite the table fragmented 13 ways and re-run
    import shutil

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    alt = str(tmp_path / "alt")
    shutil.os.makedirs(alt)
    docs.repartition(13).write.parquet(f"{alt}/documents.parquet")
    again = {
        r.doc_id: (r.shard, r.offset)
        for r in QUERIES["q_shard_assign"](spark, alt).collect()
    }
    assert rows == again

    by_shard: dict = {}
    for _, (s, o) in rows.items():
        by_shard.setdefault(s, []).append(o)
    for s, offs in by_shard.items():
        assert sorted(offs) == list(range(len(offs))), s


def test_mix_rebalance_hits_targets(spark, sf_dir):
    """The kept corpus approximates the target mix at the largest
    achievable size: the binding language keeps ~everything, rates
    are in (0, 1], and every achieved share is within sampling noise
    of its target."""
    from mrtweety_analytic_spark.operators.lifecycle import MIX_TARGETS
    from mrtweety_analytic_spark.queries import QUERIES

    rows = {r.lang: r for r in QUERIES["q_mix_rebalance"](spark, sf_dir).collect()}
    assert set(rows) == set(MIX_TARGETS)
    assert all(0 < r.rate <= 1.0 for r in rows.values())
    # the binding language's rate is exactly 1 (keeps everything)
    binding = max(rows.values(), key=lambda r: r.rate)
    assert binding.rate == pytest.approx(1.0)
    total_kept = sum(r.n_kept for r in rows.values())
    for lang, r in rows.items():
        # expected kept = rate * avail; hash-uniform sampling noise
        exp = r.rate * r.n_avail
        assert abs(r.n_kept - exp) <= max(5, 4 * exp**0.5), lang
    assert total_kept > 0


def test_training_export_books_balance(spark, sf_dir):
    """The export manifest must reconcile with its own stages: shard
    doc counts sum to the rebalanced survivor count (<= funnel
    survivors), every shard id is in range, and the kept language mix
    leans toward the configured targets (en-heavy after an en-biased
    quality gate)."""
    from mrtweety_analytic_spark.operators.dedup import funnel_stages
    from mrtweety_analytic_spark.operators.lifecycle import N_SHARDS
    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.sources import load_table

    rows = QUERIES["q_training_export"](spark, sf_dir).collect()
    assert all(0 <= r.shard < N_SHARDS for r in rows)
    n_exported = sum(r.n_docs for r in rows)

    docs = load_table(spark, sf_dir, "documents")
    final = funnel_stages(docs)[2]
    n_final = final.count()
    assert 0 < n_exported <= n_final
    assert sum(r.sum_chars for r in rows) > 0


def test_pipeline_redact_stage_equals_text_redact(spark, sf_dir):
    """The spec runner's `redact` stage rewrites every document's text
    to exactly the redacted text q_text_redact certifies."""
    from mrtweety_analytic_spark.pipeline_spec import compile_pipeline

    got = {
        r.doc_id: r.h
        for r in compile_pipeline(spark, sf_dir, [{"stage": "redact"}])
        .select("doc_id", F.md5("text").alias("h"))
        .collect()
    }
    want = {
        r.doc_id: r.redacted_md5
        for r in QUERIES["q_text_redact"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0


def test_pipeline_report_counts_each_stage(spark, sf_dir):
    """The audit mode counts the input and every stage's survivors,
    ends on compile_pipeline's plan, and rejects an unknown stage
    anywhere in the spec before it runs a job."""
    from mrtweety_analytic_spark.pipeline_spec import (
        compile_pipeline,
        run_pipeline_with_report,
    )

    spec = [{"stage": "filter_lang", "lang": "en"}, {"stage": "dedup_exact"}]
    df, report = run_pipeline_with_report(spark, sf_dir, spec)
    assert [name for name, _ in report] == ["input", "filter_lang", "dedup_exact"]
    counts = [n for _, n in report]
    assert counts == sorted(counts, reverse=True) and counts[-1] > 0
    assert df.count() == compile_pipeline(spark, sf_dir, spec).count()

    jobs = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    before = jobs()
    with pytest.raises(ValueError, match="unknown pipeline stage"):
        run_pipeline_with_report(spark, sf_dir, spec + [{"stage": "nope"}])
    assert jobs() == before
