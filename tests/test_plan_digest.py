"""The plan-digest gate (`tools/audit_plans.py --digest`) hashes a
query's plan, not the session's history."""

from __future__ import annotations

from mrtweety_analytic_spark.queries import QUERIES
from tools.audit_plans import normalize_plan


def test_distinct_aggregate_digest_ignores_earlier_expressions(spark, sf_dir):
    """q_dq_profile's distinct-aggregate rewrite orders its columns and
    gid groups by expression id; allocating ids in between must not
    change the normalized plan."""
    texts = set()
    for _ in range(6):
        df = QUERIES["q_dq_profile"](spark, sf_dir)
        texts.add(
            normalize_plan(df._jdf.queryExecution().executedPlan().toString())
        )
        # analysing a frame allocates fresh expression ids
        _ = spark.range(1).selectExpr(*[f"id + {i}" for i in range(7)]).schema
    assert len(texts) == 1
