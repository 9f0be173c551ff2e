"""Driver contract for the spark-graft builder (PySpark target).

entry()     — flagship trending-terms query at sf 0.001 (the reference
              dataflow transplanted to the documents corpus;
              SURVEY.md §7.1).
queries()   — one callable per implemented operator (SURVEY.md §2B).
oracle_sql()— DuckDB twins with matching column aliases; operators
              without an entry get the driver's rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mrtweety_analytic_spark.queries import ORACLES, QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Names listed here lead queries() and oracle_sql(), in this order;
# every other registered name follows in registry order.
PRIORITY = [
    # round-12 births, windowed in their birth round
    "s_schema_drift",
    "q_training_export_full",
    "s_decontaminate",
    # plan-changed re-checks (broadcast-explicit crossJoin)
    "q_dq_chi2",
    "q_ts_crosscorr",
    # stalest rotation: the full r01 cohort, registry order
    "q_scan_parquet",
    "q_scan_pruned",
    "q_source_json_lines",
    "q_sample_hash_mod",
    "q_scan_partition_pruned",
    "q_source_custom_pyds",
    "q_project_expr",
    "q_filter_blacklist",
    "q_filter_compound",
    "q_sample_stratified",
    "q_join_inner_hash",
    "q_join_multiway",
    "q_join_left",
    "q_join_full",
    "q_join_semi",
    "q_join_theta_range",
    "q_join_asof",
    "q_join_range_bucketed",
    "q_join_salted",
    "q_join_null_safe",
    "q_agg_count_by_key",
    "q_agg_multi",
    "q_agg_distinct",
    "q_agg_rollup",
    "q_agg_cube",
    "q_agg_gsets",
    "q_agg_filtered",
    "q_agg_argminmax",
    "q_agg_histogram",
    "q_agg_grouping_id",
    "q_agg_stringagg",
    "q_agg_bool",
    "q_agg_mode",
    "q_agg_moments",
    "q_agg_bitmap_distinct",
    "q_agg_percentile",
    "q_pivot",
    "q_unpivot",
    "q_win_ntile_dist",
    "q_ts_pattern_match",
    "q_win_range_frame",
    "q_agg_corr_stats",
    "q_fn_null_handling",
    "q_join_cross",
    "q_set_union_all",
]


def _ordered(mapping: dict) -> dict:
    out = {n: mapping[n] for n in PRIORITY if n in mapping}
    out.update((n, v) for n, v in mapping.items() if n not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q_text_trending"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(ORACLES)
