"""Per-layer readings from Spark's own status stores.

Everything here reads what the driver already keeps for its UI (the
AppStatusStore of jobs/stages and the SQL store of executions and
plan-node metrics); executors do no extra work. The stores are fed
asynchronously by the listener bus, so `settle` drains the bus before
a reading.
"""

from __future__ import annotations

from dataclasses import dataclass


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def settle(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def max_job_id(spark) -> int:
    """Id of the newest job submitted so far, read from the scheduler
    itself (the status store may not have seen it yet)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - 1


def max_execution_id(spark) -> int:
    """Id of the newest SQL execution the status store has seen; call
    `settle` first for an exact reading."""
    execs = _seq(spark._jsparkSession.sharedState().statusStore().executionsList())
    return max((e.executionId() for e in execs), default=-1)


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0


# (metric name, ExecTotals field, unit) of the exec.* per-layer metrics.
EXEC_METRICS = (
    ("exec.jobs", "jobs", "count"),
    ("exec.stages", "stages", "count"),
    ("exec.tasks", "tasks", "count"),
    ("exec.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("exec.executor_run_ms", "executor_run_ms", "ms"),
    ("exec.gc_ms", "gc_ms", "ms"),
)


def exec_totals(spark, after_job: int, upto_job: int) -> ExecTotals:
    """Sum the work of jobs with after_job < id <= upto_job: jobs,
    completed (not skipped) stages and their tasks, job wall time,
    shuffle and spill bytes, executor run and GC time."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = ExecTotals()
    stage_ids: set[int] = set()
    for job in _seq(store.jobsList(None)):
        if not after_job < job.jobId() <= upto_job:
            continue
        out.jobs += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out.job_ms += done.get().getTime() - sub.get().getTime()
        stage_ids.update(_seq(job.stageIds()))
    if not stage_ids:
        return out
    jvm = spark._jvm
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    for st in _seq(stages):
        if st.stageId() not in stage_ids or st.status().toString() != "COMPLETE":
            continue
        out.stages += 1
        out.tasks += st.numCompleteTasks()
        out.shuffle_write_bytes += st.shuffleWriteBytes()
        out.shuffle_read_bytes += st.shuffleReadBytes()
        out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.executor_run_ms += st.executorRunTime()
        out.gc_ms += st.jvmGcTime()
    return out


def node_output_rows(spark, after_exec: int, upto_exec: int, node_name: str) -> int:
    """Sum of the 'number of output rows' metric over every plan node
    called node_name in SQL executions after_exec < id <= upto_exec.

    A foreachBatch micro-batch runs its plan inside the sink's own
    execution, so the SQL store never aggregates the outer plan's
    metrics; for those the value is read from the live accumulator,
    which holds it while the batch is running.
    """
    store = spark._jsparkSession.sharedState().statusStore()
    accumulators = spark._jvm.org.apache.spark.util.AccumulatorContext
    total = 0
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if not after_exec < eid <= upto_exec:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            if node.name() != node_name:
                continue
            for m in _seq(node.metrics()):
                if m.name() != "number of output rows":
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    total += int(v.get().replace(",", ""))
                    continue
                acc = accumulators.get(m.accumulatorId())
                if acc.isDefined():
                    total += int(acc.get().value())
    return total
