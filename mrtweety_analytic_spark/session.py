"""SparkSession construction and runtime tuning.

The reference ran a single-node `local[*]` Spark 2.2 context
(reference: spark/src/main/scala/.../SparkApplication.scala:34,37).
Here the session is tuned for the Catalyst/Tungsten path: AQE on, UTC
session timezone so results hash identically against the DuckDB
oracle, and two shuffle widths. Batch plans start from AQE's
`initialPartitionNum` (32) and coalesce; streams run with AQE off, so
their state stores take `spark.sql.shuffle.partitions`. A cluster sets
the first for batch and the second for stream state; a stream with a
checkpoint keeps the width its offset log recorded.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime-settable confs applied even to externally-created sessions
# (the verify driver builds its own SparkSession; these keep semantics
# stable regardless of who built it).
RUNTIME_CONF = {
    # Determinism: timestamps must collect identically to DuckDB's
    # UTC-naive values (SURVEY.md §7.5 risk 1).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join splitting, and
    # sort-merge->broadcast switching. Essential at 100 TB, harmless
    # locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Batch width: AQE starts every batch shuffle here, then coalesces.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "32",
    # Stream state width: each trigger commits every state partition,
    # and the flagship's ~2k state rows need few.
    "spark.sql.shuffle.partitions": "4",
    # ANSI off: keep permissive SQL semantics matching DuckDB's
    # silent-null behaviours we rely on (e.g. bad JSON -> NULL).
    "spark.sql.ansi.enabled": "false",
    # The events table is physically timestamp[ns], which Spark's
    # parquet reader rejects outright; read as long nanos and convert
    # in the loader (sources.load_table) — values are µs-precision so
    # the ns→µs conversion is lossless.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_UNMODIFIABLE = {"CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG"}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            # skip only what the session cannot modify: a skipped
            # initialPartitionNum would shrink every batch shuffle
            if e.getCondition() not in _UNMODIFIABLE:
                raise
    return spark


def get_spark(app_name: str = "mrtweety-analytic-spark") -> SparkSession:
    """Build the engine's own local session (tests, bench, CLI)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        # NOTE: measured locally — first-shuffle latency grows roughly
        # linearly with driver heap (~3s/GB on this box), so a modest
        # heap beats a huge one for the <1 GB test corpus. 4g is ample
        # for sf0.1 under local[32]; a real cluster sizes executors
        # instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "4g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
