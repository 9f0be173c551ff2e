"""Declarative corpus-pipeline runner: a JSON spec composes the
engine's curation stages into one lazy DataFrame plan.

The reference hard-codes its single dataflow in the application
(`SparkApplication.scala:63-93`); here the equivalent wiring is DATA:
a list of {"stage": name, ...params} steps over the documents table,
each step a pure DataFrame->DataFrame transform, so the whole
pipeline stays one Catalyst plan (filters push down through the
stack, nothing materializes between stages unless a stage needs it).

    spec = [
        {"stage": "filter_lang", "lang": "en"},
        {"stage": "min_chars", "min": 100},
        {"stage": "redact"},
        {"stage": "dedup_exact"},
        {"stage": "dedup_near"},
    ]
    df = compile_pipeline(spark, sf_dir, spec)

CLI: python -m mrtweety_analytic_spark pipeline --spec spec.json
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import textops
from .operators.dedup import _exact_survivors, _near_survivors
from .sources import load_table

StageFn = Callable[[DataFrame, dict], DataFrame]


def _filter_lang(df: DataFrame, p: dict) -> DataFrame:
    return df.where(F.col("lang") == p.get("lang", "en"))


def _min_chars(df: DataFrame, p: dict) -> DataFrame:
    return df.where(F.col("n_chars") >= int(p.get("min", 0)))


def _max_chars(df: DataFrame, p: dict) -> DataFrame:
    return df.where(F.col("n_chars") <= int(p.get("max", 1 << 31)))


def _min_tokens(df: DataFrame, p: dict) -> DataFrame:
    return df.where(
        F.size(F.split("text", " ")) >= int(p.get("min", 1))
    )


def _redact(df: DataFrame, p: dict) -> DataFrame:
    return df.withColumn("text", textops._redact(F.col("text")))


def _dedup_exact(df: DataFrame, p: dict) -> DataFrame:
    return _exact_survivors(df)


def _dedup_near(df: DataFrame, p: dict) -> DataFrame:
    return _near_survivors(df, float(p.get("threshold", 0.2)))


def _sample_mod(df: DataFrame, p: dict) -> DataFrame:
    m, r = int(p.get("mod", 10)), int(p.get("rem", 0))
    return df.where(F.col("doc_id") % m == r)


def _dedup_semantic(df: DataFrame, p: dict) -> DataFrame:
    """Paraphrase tier: drop the larger doc_id of every embedding
    pair with cosine >= 0.5, via the blocked exact pair join
    (q_dedup_embedding — vec_id pairs 1:1 with doc_id per
    FIXTURES.md). The runner injects _spark/_sf_dir so the stage can
    reach the embeddings table alongside the documents frame."""
    from .queries import QUERIES

    pairs = QUERIES["q_dedup_embedding"](p["_spark"], p["_sf_dir"])
    # Only drop doc_b when its keeper doc_a SURVIVED the earlier
    # stages of THIS pipeline — otherwise a pair whose keeper was
    # already filtered out would leave neither copy in the output
    # (ADVICE r05 item 4).
    live_keepers = df.select(F.col("doc_id").alias("vec_a"))
    dropped = (
        pairs.join(live_keepers, "vec_a", "left_semi")
        .select(F.col("vec_b").alias("doc_id"))
        .distinct()
    )
    return df.join(dropped, "doc_id", "left_anti")


STAGES: dict[str, StageFn] = {
    "filter_lang": _filter_lang,
    "min_chars": _min_chars,
    "max_chars": _max_chars,
    "min_tokens": _min_tokens,
    "redact": _redact,
    "dedup_exact": _dedup_exact,
    "dedup_near": _dedup_near,
    "dedup_semantic": _dedup_semantic,
    "sample_mod": _sample_mod,
}


def _steps(
    spark: SparkSession, sf_dir: str, spec: list[dict]
) -> Iterator[tuple[str, DataFrame]]:
    """("input", documents), then (stage, frame) after each step of
    the spec. The whole spec is validated before the documents table
    is loaded, so a typo in stage N fails before any job runs — in
    the audit mode too, where it would otherwise cost N-1 counted
    stages first (ADVICE r05 item 5)."""
    unknown = [s.get("stage") for s in spec if s.get("stage") not in STAGES]
    if unknown:
        raise ValueError(
            f"unknown pipeline stage(s) {unknown}; known: {sorted(STAGES)}"
        )
    df = load_table(spark, sf_dir, "documents")
    yield "input", df
    for step in spec:
        df = STAGES[step["stage"]](
            df, {**step, "_spark": spark, "_sf_dir": sf_dir}
        )
        yield step["stage"], df


def compile_pipeline(
    spark: SparkSession, sf_dir: str, spec: list[dict]
) -> DataFrame:
    """Fold the spec's stages over the documents table — one lazy
    plan, validated up front so a typo fails before any job runs."""
    return list(_steps(spark, sf_dir, spec))[-1][1]


def run_pipeline_with_report(
    spark: SparkSession, sf_dir: str, spec: list[dict]
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Like compile_pipeline, but also counts survivors after each
    stage (one job per stage — the audit mode; production runs the
    single-plan compile_pipeline and counts nothing)."""
    report: list[tuple[str, int]] = []
    for name, df in _steps(spark, sf_dir, spec):
        report.append((name, df.count()))
    return df, report
