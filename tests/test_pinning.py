"""Materialization policy: every operator persist goes through
util.LastHandle, which releases the previous generation BEFORE it
persists the new one, so a repeat call keeps its cache."""

from __future__ import annotations

import ast
import os

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from mrtweety_analytic_spark.queries import QUERIES
from mrtweety_analytic_spark.util import LastHandle

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mrtweety_analytic_spark",
)


def _imr(df) -> int:
    plan = df._jdf.queryExecution().withCachedData().toString()
    return plan.count("InMemoryRelation")


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _scrub(spark) -> None:
    # bench.py's untimed scrub between queries: drop every cache entry
    # and every persisted (checkpoint) RDD.
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def test_repeat_persist_of_same_plan_keeps_one_entry(spark):
    def build():
        return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    h = LastHandle()
    before = _persistent_rdd_ids(spark)
    first = build()
    h.persist(first)
    first.count()
    second = build()
    h.persist(second)
    assert _imr(second) > 0
    assert second.count() == 7
    assert len(_persistent_rdd_ids(spark) - before) == 1
    h.clear()
    assert _imr(build()) == 0
    assert _persistent_rdd_ids(spark) - before == set()


def test_replace_releases_checkpointed_generation(spark):
    h = LastHandle()
    ids = []
    for _ in range(2):
        ck = spark.range(10).localCheckpoint(eager=True)
        ids.append(ck._jdf.queryExecution().analyzed().rdd().id())
        h.replace(ck)
    live = _persistent_rdd_ids(spark)
    assert ids[0] not in live and ids[1] in live
    h.clear()
    assert ids[1] not in _persistent_rdd_ids(spark)


class _Stale:
    """Stands in for a DataFrame whose release call raises `exc`."""

    def __init__(self, exc: Exception):
        self.exc = exc

    @property
    def _jdf(self):
        raise self.exc


def test_release_swallows_only_py4j_errors():
    h = LastHandle()
    h.replace(_Stale(Py4JError("stopped session")))
    h.clear()
    h.replace(_Stale(RuntimeError("bug")))
    with pytest.raises(RuntimeError):
        h.clear()


@pytest.mark.parametrize("name", ["q_corpus_funnel", "q_mix_dsir_weights"])
def test_repeat_calls_keep_their_persists(spark, sf_dir, name):
    counts = []
    for _ in range(3):
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        counts.append(_imr(df))
        _scrub(spark)
    assert counts[0] > 0
    assert counts == [counts[0]] * 3


def _handle_names(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Name)
            and node.value.func.id == "LastHandle"
        ):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    return names


def test_no_persist_outside_last_handle():
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "util.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            handles = _handle_names(tree)
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")
                ):
                    continue
                recv = node.func.value
                if isinstance(recv, ast.Name) and recv.id in handles:
                    continue
                offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []
