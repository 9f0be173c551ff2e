"""Small shared runtime utilities."""

from __future__ import annotations

import atexit

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def _release(df: DataFrame) -> None:
    # localCheckpoint blocks are NOT in the CacheManager, so
    # DataFrame.unpersist() is a no-op on them; the persisted RDD
    # hangs off the LogicalRDD leaf and must be released there.
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:
        df.unpersist()


class LastHandle:
    """Supersession holder for an operator's materialized DataFrames,
    one generation per call: a new generation releases the ones that
    fall out of `keep`, which bounds block-manager accumulation across
    repeated bench/verify runs; the last generation is released at
    interpreter exit.

    `persist(*dfs)` releases BEFORE it persists: a repeat call plans
    the same frames as the previous call, persist() would share the
    previous call's CacheManager entry, and releasing that generation
    afterwards would evict the new cache with it. `replace(*dfs)`
    records frames that are already materialized (localCheckpoint),
    whose blocks are new on every call.

    `keep` > 1 retains that many generations — for checkpointed frames
    whose previous generation may still back a DataFrame the caller
    has not acted on yet. It is for `replace` only: a retained
    persisted generation would share its cache entry with a new one.

    py4j errors on release are swallowed: a handle left over from a
    stopped SparkSession raises Py4JJavaError (a Java
    NullPointerException), which must not break the operator's first
    call in the next session. Any other error propagates.
    """

    def __init__(self, keep: int = 1):
        self._keep = max(1, keep)
        self._gens: list[tuple[DataFrame, ...]] = []
        atexit.register(self.clear)

    def persist(self, *dfs: DataFrame) -> None:
        """Release what falls out of `keep`, then persist `dfs` in
        order (a later frame built on an earlier one reads its cache)."""
        self._trim(self._keep - 1)
        for df in dfs:
            df.persist()
        self._gens.append(dfs)

    def replace(self, *dfs: DataFrame) -> None:
        self._gens.append(dfs)
        self._trim(self._keep)

    def clear(self) -> None:
        self._trim(0)

    def _trim(self, n: int) -> None:
        while len(self._gens) > n:
            for df in self._gens.pop(0):
                try:
                    _release(df)
                except Py4JError:
                    pass
