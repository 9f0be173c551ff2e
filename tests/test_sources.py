"""Batch loading launches no Spark job it does not need: a table file's
footer schema is inferred once per file identity, and files a query
has just written are read back with the schema it wrote."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from mrtweety_analytic_spark.queries import QUERIES
from mrtweety_analytic_spark.sources import load_table, table_path
from tools.audit_plans import normalize_plan


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _plan(df) -> str:
    return normalize_plan(df._jdf.queryExecution().executedPlan().toString())


def test_repeat_load_of_an_unchanged_file_launches_no_job(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}),
        table_path(d, "docs"),
    )
    first = load_table(spark, d, "docs")
    before = _next_job(spark)
    again = load_table(spark, d, "docs")
    assert _next_job(spark) == before
    assert _plan(again) == _plan(first)
    assert sorted(again.collect()) == sorted(first.collect())


def test_file_rewritten_in_place_is_inferred_afresh(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2]}), table_path(d, "t"))
    assert load_table(spark, d, "t").columns == ["a"]
    pq.write_table(
        pa.table({"b": ["x"], "c": [1.5]}), table_path(d, "t")
    )
    df = load_table(spark, d, "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_directory_table_is_inferred_on_every_load(spark, tmp_path):
    """A new part file leaves a directory's own identity unchanged, so a
    directory table's schema is never cached."""
    d = str(tmp_path)
    spark.createDataFrame([(1,)], "a long").write.parquet(table_path(d, "t"))
    assert load_table(spark, d, "t").columns == ["a"]
    before = _next_job(spark)
    load_table(spark, d, "t")
    assert _next_job(spark) > before
    spark.createDataFrame([("x",)], "b string").write.mode(
        "overwrite"
    ).parquet(table_path(d, "t"))
    assert load_table(spark, d, "t").columns == ["b"]


@pytest.mark.parametrize(
    "name", ["q_multimodal_offload", "q_maintenance_compact"]
)
def test_read_backs_launch_no_inference_job(spark, sf_dir, monkeypatch, name):
    """Outside its parquet writes, a warm call launches no job: the
    corpus schema is cached and the written files are read back with
    the written frames' schemas."""
    in_writes = []
    write = DataFrameWriter.parquet

    def counted(self, *args, **kwargs):
        start = _next_job(spark)
        try:
            return write(self, *args, **kwargs)
        finally:
            in_writes.append(_next_job(spark) - start)

    QUERIES[name](spark, sf_dir)  # warm the corpus schema
    monkeypatch.setattr(DataFrameWriter, "parquet", counted)
    before = _next_job(spark)
    QUERIES[name](spark, sf_dir)
    assert _next_job(spark) - before == sum(in_writes)
