"""Session tuning: the two shuffle widths and what `tune` may skip.

Batch plans shuffle into AQE's `initialPartitionNum`; streams run with
AQE off and size their state stores by `spark.sql.shuffle.partitions`.
The two are separate confs so that the stream state width can be
small without shrinking any batch shuffle.
"""

from __future__ import annotations

import re

import pytest
from pyspark.errors import IllegalArgumentException
from pyspark.sql import functions as F

from mrtweety_analytic_spark import session

BATCH_WIDTH = 32


def _stream_width() -> int:
    return int(session.RUNTIME_CONF["spark.sql.shuffle.partitions"])


def test_tune_raises_when_a_runtime_conf_fails(spark, monkeypatch):
    """A runtime conf that cannot be set (here: a bad value) raises;
    swallowing it would silently run with the previous value."""
    monkeypatch.setattr(
        session, "RUNTIME_CONF", {"spark.sql.shuffle.partitions": "zero"}
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(IllegalArgumentException):
        session.tune(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_tune_skips_a_static_conf(spark, monkeypatch):
    """A static conf is fixed by whoever built the session; `tune`
    leaves it and still applies the confs after it."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    monkeypatch.setattr(
        session,
        "RUNTIME_CONF",
        {
            "spark.sql.warehouse.dir": warehouse + "-elsewhere",
            "spark.sql.session.timeZone": "UTC",
        },
    )
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        assert session.tune(spark) is spark
        assert spark.conf.get("spark.sql.warehouse.dir") == warehouse
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_batch_width_and_stream_state_width_are_separate(spark, tmp_path):
    """On the default session a batch groupBy still shuffles into 32
    partitions, while a streaming aggregation's state store runs at
    the smaller stream width."""
    batch = (
        spark.range(1000)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .count()
    )
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"hashpartitioning\(k#\d+L?, {BATCH_WIDTH}\)", plan), plan

    src = str(tmp_path / "src")
    spark.range(40).withColumn("k", F.col("id") % 5).write.parquet(src)
    counts = (
        spark.readStream.schema("id long, k long")
        .parquet(src)
        .groupBy("k")
        .count()
    )
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("width_split")
        .start()
    )
    try:
        q.processAllAvailable()
        widths = {
            op.numShufflePartitions
            for p in q.recentProgress
            for op in p.stateOperators
        }
        n = spark.table("width_split").count()
    finally:
        q.stop()
        q.awaitTermination()
        spark.catalog.dropTempView("width_split")
    assert n == 5
    assert widths == {_stream_width()}
    assert _stream_width() < BATCH_WIDTH
