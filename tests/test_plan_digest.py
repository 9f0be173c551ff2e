"""The plan-digest gate (`tools/audit_plans.py --digest`) hashes a
query's plan, not the session's history."""

from __future__ import annotations

import json

from mrtweety_analytic_spark import queries
from mrtweety_analytic_spark.queries import QUERIES
from tools.audit_plans import digest_main, normalize_plan


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


def test_digest_fails_on_a_query_that_raises(
    spark, tmp_path, monkeypatch, capsys
):
    """A query that raises while planned fails the digest run, and an
    error recorded on both sides of --against is no match."""

    def q_broken(spark, sf_dir):
        raise ValueError("no plan")

    monkeypatch.setattr(
        queries, "QUERIES",
        {"q_ok": lambda spark, sf_dir: spark.range(3), "q_broken": q_broken},
    )
    out = tmp_path / "d.json"
    assert digest_main("unused", str(out), None) == 1
    assert "q_broken" in capsys.readouterr().out
    assert "error" in json.loads(out.read_text())["q_broken"]
    base = tmp_path / "base.json"
    base.write_text(out.read_text())
    assert digest_main("unused", str(tmp_path / "d2.json"), str(base)) == 1
    lines = capsys.readouterr().out.splitlines()
    assert any(
        line.startswith("q_broken") and "differs" in line for line in lines
    )
    assert not any(line.startswith("q_ok") for line in lines)


def test_digest_reports_schema_and_oracle_changes(
    spark, tmp_path, monkeypatch, capsys
):
    """--against names the kind of each difference: a query whose
    result columns change differs in `schema`, one whose oracle SQL
    changes differs in `oracle`, and a stream twin is compared by its
    oracle alone."""
    monkeypatch.setattr(
        queries, "QUERIES",
        {
            "q_cols": lambda spark, sf_dir: spark.range(3),
            "q_sql": lambda spark, sf_dir: spark.range(3),
            "s_twin": None,
        },
    )
    monkeypatch.setattr(
        queries, "ORACLES", {"q_sql": "SELECT 1", "s_twin": "SELECT 2"}
    )
    base = tmp_path / "base.json"
    assert digest_main("unused", str(base), None) == 0
    assert set(json.loads(base.read_text())["s_twin"]) == {"oracle"}
    monkeypatch.setattr(
        queries, "QUERIES",
        {
            "q_cols": lambda spark, sf_dir: spark.range(3).toDF("n"),
            "q_sql": lambda spark, sf_dir: spark.range(3),
            "s_twin": None,
        },
    )
    monkeypatch.setattr(
        queries, "ORACLES", {"q_sql": "SELECT 10", "s_twin": "SELECT 2"}
    )
    capsys.readouterr()
    assert digest_main("unused", str(tmp_path / "d.json"), str(base)) == 1
    diffs = {
        line.split()[0]: line.split("differs: ")[1]
        for line in capsys.readouterr().out.splitlines()
        if "differs: " in line
    }
    assert "schema" in diffs["q_cols"].split(", ")
    assert diffs["q_sql"] == "oracle"
    assert "s_twin" not in diffs
