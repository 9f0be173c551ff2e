"""Small shared runtime utilities."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _release(df: DataFrame) -> None:
    # localCheckpoint blocks are NOT in the CacheManager, so
    # DataFrame.unpersist() is a no-op on them; the persisted RDD
    # hangs off the LogicalRDD leaf and must be released there.
    # SparkContext.unpersistRDD (private[spark] in Scala, public to
    # py4j) frees the same blocks as RDD.unpersist without its
    # "lineage has been truncated" warning, which a superseded
    # generation (never read again) would log on every release.
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(
            plan.rdd().id(), False
        )
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
    call in the next session. Any other error propagates. At exit,
    a process that already shut its JVM gateway down has nothing
    left to release, so the handle just forgets its generations.
    """

    def __init__(self, keep: int = 1):
        self._keep = max(1, keep)
        self._gens: list[tuple[DataFrame, ...]] = []
        atexit.register(self._exit)

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

    def _exit(self) -> None:
        from pyspark import SparkContext

        if SparkContext._gateway is None:
            self._gens.clear()
        else:
            self.clear()

    def _trim(self, n: int) -> None:
        while len(self._gens) > n:
            for df in self._gens.pop(0):
                try:
                    _release(df)
                except Py4JError:
                    pass


_APP_DIRS: set[str] = set()


def app_temp_dir(spark: SparkSession, name: str) -> str:
    """A temp directory private to this Spark application, removed at
    interpreter exit. Keyed by the application id, so two processes
    running the same query never delete or overwrite each other's
    files."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"mrtweety_{name}_{spark.sparkContext.applicationId}",
    )
    if path not in _APP_DIRS:
        _APP_DIRS.add(path)
        atexit.register(shutil.rmtree, path, True)
    return path


def ordered_pairs(df: DataFrame, arr: str, a: str, b: str) -> DataFrame:
    """(a, b) for every pair of positions i < j of the sorted array
    column `arr` — so a < b for distinct elements.

    The fan-out is posexplode + slice + explode (two codegen'd
    generators) rather than a nested transform(...) HOF building an
    array-of-structs (interpreted, and it materializes the full
    d^2/2 pair array per row before exploding). Round-13 in-session
    A/B (sf 0.1, identical result signature): full jaccard kernel
    3.4/4.7/3.0 s with the HOF form vs 3.0/3.1/2.7 s with this form +
    the checkpointed index.
    """
    return df.select(F.posexplode(arr).alias("i", a), F.col(arr)).select(
        a,
        F.explode(
            F.slice(
                F.col(arr),
                F.col("i") + 2,
                F.greatest(F.lit(0), F.size(arr) - F.col("i") - 1),
            )
        ).alias(b),
    )


def ngram_windows(arr, n: int) -> F.Column:
    """The word n-gram windows of the array column `arr`: element i is
    the struct (arr[i], ..., arr[i + n - 1]) with fields "0".."n-1" —
    the one shingling kernel of the text, dedup and similarity
    operators.

    It is an arrays_zip of n shifted slices, all codegen'd array ops;
    the interpreted transform(sequence(...)) HOF form measured 3-7x
    slower on the sf 0.1 corpus (0.5 s vs 3.2 s for q_text_pmi's
    bigram aggregate, 0.8 s vs 2-3 s for dedup's 5-gram index). The
    greatest(0, ...) guard keeps the slice length non-negative, so an
    array shorter than n zips to an empty array and a null array
    stays null; explode drops both.
    """
    win_len = F.greatest(F.lit(0), F.size(arr) - (n - 1))
    return F.arrays_zip(*[F.slice(arr, i + 1, win_len) for i in range(n)])


def cents(col) -> Column:
    """Integer cents of the money column `col` (a name or a Column):
    floor(col * 100 + 0.5) cast to bigint. Every DuckDB oracle spells
    the same floor before its integer cast, so both engines sum the
    same integers — exact under any merge order up to 2^63 cents,
    where a double money sum carries merge-order error past the 1e-4
    rounding grid at sf 0.1 (PLANS.md "money-sum hardening")."""
    col = F.col(col) if isinstance(col, str) else col
    return F.floor(col * 100 + 0.5).cast("bigint")


def cents_sum(col, digits: int = 4) -> Column:
    """round(sum(cents(col)) / 100, digits): a money sum accumulated
    as exact int64 cents and divided once."""
    return F.round(F.sum(cents(col)).cast("double") / 100, digits)


def unit_sum(units: Column, places: int) -> Column:
    """round(sum(units) / 10^places, places) for integer money units
    on a 10^-places grid (cents x percent factors). The sum runs in
    decimal(38,0) — exact 128-bit, partial-aggregable, the match of
    DuckDB's HUGEINT promotion — since a unit product reaches ~1.1e9
    per row and an int64 sum would wrap silently at ~8.4e9 rows per
    group."""
    return F.round(
        F.sum(units.cast("decimal(38,0)")).cast("double") / 10**places,
        places,
    )


def md5_int(expr, start: int, digits: int) -> Column:
    """The hex digits [start, start + digits) of md5(expr) as a
    decimal string (callers cast it) — the cross-engine hash: DuckDB
    reads the same slice as CAST(('0x' || substr(md5(...), start,
    digits)) AS BIGINT), bit for bit."""
    return F.conv(F.substring(F.md5(expr), start, digits), 16, 10)


def md5_unit(expr) -> Column:
    """md5_int(expr, 1, 12) as a bigint / 2^48: the cross-engine
    uniform in [0, 1) of the hash-gated samplers. DuckDB divides the
    same 48-bit integer by 281474976710656.0."""
    return md5_int(expr, 1, 12).cast("bigint") / F.lit(281474976710656.0)
