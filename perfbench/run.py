"""Benchmark of the mrtweety_analytic_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (README.md gives the
reasons and the layer -> end-to-end map):

  trending_replay   the flagship stream: Zipf tags over a 5000-tag vocabulary
  curation_sf01     a batch pass over LLM-data-pipeline queries

Each run sets up several times (session start, warm-up, input
generation) and reports the median of the restarts as setup_s, then
measures. Samples taken while the hypervisor stole CPU time (read from
/proc/stat) are replaced by extra ones, within a cap. The last
stdout line is one JSON object {correct, attempted, failed, metrics}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The line before it carries diagnostics (the host
calibration loop, sample counts, any failed check).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import curation
import spark_status
import stats
import stream
import tweets

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3              # restarts whose median is setup_s
NOMINAL_BATCH_S = 3.0   # one micro-batch on a 4-core host; sizes the timed part
WORKLOADS = ("trending_replay", "curation_sf01")

END_TO_END = {
    "setup_s": "s",
    "tweets_per_s": "tweets/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "pass_s": "s",
}


def _per_layer() -> dict[str, str]:
    layers = {
        "session.jvm_start_s": "s",
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "gen.input_s": "s",
        "host.calib_ms": "ms",
        "traced.latency_p50_s": "s",
        "traced.pass_s": "s",
        "sources.latest_offset_ms": "ms",
        "sources.get_batch_ms": "ms",
        "pipeline.query_planning_ms": "ms",
        "pipeline.add_batch_ms": "ms",
        "pipeline.input_rows": "count",
        "pipeline.window_rows_per_tweet": "count",
        "checkpoint.wal_commit_ms": "ms",
        "checkpoint.commit_offsets_ms": "ms",
        "state.rows_total": "count",
        "state.rows_updated": "count",
        "state.rows_removed": "count",
        "state.memory_bytes": "bytes",
        "state.update_ms": "ms",
        "state.commit_ms": "ms",
        "state.dropped_by_watermark": "count",
        "sink.call_s": "s",
        "sink.self_s": "s",
    }
    layers.update({key: unit for key, _attr, unit in spark_status.EXEC_METRICS})
    for q in curation.QUERY_SET:
        layers.update({
            f"{q}.build_s": "s",
            f"{q}.exec_s": "s",
            f"{q}.cold_s": "s",
            f"{q}.jobs": "count",
            f"{q}.tasks": "count",
            f"{q}.shuffle_bytes": "bytes",
            f"{q}.spill_bytes": "bytes",
        })
    return layers


def _environment(work: str) -> None:
    """Point every process this run starts at the checkout: Python
    workers import the engine from ROOT, and Spark's scratch space,
    the JVM's temp dir and the SQL warehouse live in the run's work
    dir."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "pyspark-shell",
    ])


def _warm_up(spark) -> None:
    """bench.py's warm-up: a real shuffle + codegen pass. The Python
    worker pool is not forked here; the first query that needs it pays
    for it in its cold repetition, which no end-to-end metric counts."""
    from pyspark.sql import functions as F

    (
        spark.range(1_000_000)
        .groupBy((F.col("id") % 101).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    (
        spark.range(10_000)
        .select(F.explode(F.split(F.lit("a b c d e"), " ")).alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "t").limit(5)
        .write.format("noop").mode("overwrite").save()
    )


def _timed_batches(seconds: int) -> int:
    return max(5, round(seconds / NOMINAL_BATCH_S))


def _generate(workload: str, out_dir: str, seed: int, seconds: int):
    if workload == "trending_replay":
        n_files = stream.files_needed(_timed_batches(seconds))
        return tweets.generate(out_dir, n_files, seed)
    curation.generate(ROOT, out_dir, seed)
    return out_dir


def _digest(input_dir: str) -> str:
    """sha256 over the names and bytes of the generated input files."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(input_dir)):
        h.update(name.encode())
        with open(os.path.join(input_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _stop(spark) -> None:
    """Stop the session and the JVM gateway and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def bench(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    calib = [stats.calibrate_ms()]
    from mrtweety_analytic_spark.session import get_spark

    # One row per set-up: (seconds, get_spark, warm-up, generation, steal %).
    setups: list[tuple[float, float, float, float, float | None]] = []
    digests: set[str] = set()
    spark = None
    try:
        while True:
            i = len(setups)
            if spark is not None:
                spark.stop()
                shutil.rmtree(os.path.join(work, f"input-{i - 1}"))
            ticks = stats.cpu_ticks()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            _warm_up(spark)
            t2 = time.perf_counter()
            inputs = _generate(workload, os.path.join(work, f"input-{i}"), seed, seconds)
            t3 = time.perf_counter()
            setups.append((t3 - t0, t1 - t0, t2 - t1, t3 - t2,
                           stats.steal_pct(ticks, stats.cpu_ticks())))
            digests.add(_digest(os.path.join(work, f"input-{i}")))
            clean = sum(not stats.stolen(row[4]) for row in setups[1:])
            if clean >= SETUPS or len(setups) > 2 * SETUPS:
                break
        ticks = stats.cpu_ticks()
        if workload == "trending_replay":
            os.makedirs(os.path.join(work, "replay"))
            out = stream.run(spark, os.path.join(work, "replay"), inputs,
                             _timed_batches(seconds), trace)
        else:
            out = curation.run(spark, ROOT, inputs, seconds, trace)
        steal = stats.steal_pct(ticks, stats.cpu_ticks())
    finally:
        if spark is not None:
            _stop(spark)
    calib.append(stats.calibrate_ms())

    # setup_s: the median of the SETUPS least-stolen restarts. The first
    # set-up also launches the JVM; it is reported as session.jvm_start_s.
    restarts = setups[1:]
    restarts = [restarts[i] for i in stats.least_stolen([r[4] for r in restarts], SETUPS)]
    metrics = out["metrics"]
    metrics["setup_s"] = (statistics.median(r[0] for r in restarts), "s")
    if len(digests) != 1:
        out["problems"].append(f"{len(digests)} different inputs from one seed")
    if trace:
        layers = _per_layer()
        reading = {name: (0.0, unit) for name, unit in layers.items()}
        reading.update({k: v for k, v in metrics.items() if k in layers})
        reading.update({
            "session.jvm_start_s": (setups[0][1], "s"),
            "session.get_spark_s": (statistics.median(r[1] for r in restarts), "s"),
            "session.warmup_s": (statistics.median(r[2] for r in restarts), "s"),
            "gen.input_s": (statistics.median(r[3] for r in restarts), "s"),
            "host.calib_ms": (statistics.mean(calib), "ms"),
        })
        for name in ("latency_p50_s", "pass_s"):
            if name in metrics:
                reading[f"traced.{name}"] = metrics[name]
        wanted = layers
    else:
        reading = {k: v for k, v in metrics.items() if k in END_TO_END}
        wanted = END_TO_END
    complete = all(name in reading for name in wanted)
    diag = dict(out["diag"], workload=workload, seed=seed, trace=int(trace),
                host_calib_ms=calib, host_steal_pct=steal,
                input_sha256=sorted(digests)[0],
                setup_samples_s=[r[0] for r in setups],
                setup_steal_pct=[r[4] for r in setups],
                replaced_setups=len(setups) - 1 - SETUPS)
    return {
        "diag": diag,
        "result": {
            "correct": out["failed"] == 0 and not out["problems"] and complete,
            "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {
                name: {"value": value, "unit": unit}
                for name, (value, unit) in sorted(reading.items()) if name in wanted
            },
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    engine = os.path.join(ROOT, "mrtweety_analytic_spark")
    tools = [os.path.join(ROOT, "tools", f"{t}.py") for t in ("verify_oracle", "scale_rehearsal")]
    if not (os.path.isdir(engine) and all(map(os.path.isfile, tools))):
        print(f"engine sources not found under {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        _environment(work)
        report = bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report["diag"]))
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
