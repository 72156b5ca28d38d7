"""One measured run of a query: its wall time by phase, and the jobs,
stages and task metrics Spark recorded for it.

:func:`measure` runs a builder under its own job group, as
:func:`~limeqo_spark.steer.run_steered` runs a frame: it builds the frame,
plans it (``queryExecution().executedPlan()``) and executes the planned
QueryExecution (``toRdd().count()``), with no write. It then waits for the
listener bus to deliver the run's events and reads the run's jobs, stages
and tasks from the in-process status store, which Spark keeps whether or
not its UI is enabled. Rows, jobs, stages, tasks and bytes are counters a
noisy neighbour cannot move; executor CPU seconds it moves far less than
wall time.

It also counts the classes Janino compiled during the run, from Spark's
JVM-wide ``CodegenMetrics``: a warm rep of a query whose generated classes
are still in the codegen cache compiles none.
"""

from __future__ import annotations

import statistics
import time
import uuid
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

#: the thread-local properties that make up a job group
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
#: longest wait for the listener bus to hand the run's events to the store
_BUS_WAIT_MS = 30_000
_ALL_TASKS = 2**31 - 1
#: Spark's codegen metrics source, by its dotted name (one py4j lookup that
#: hits; see :mod:`limeqo_spark.session`)
_CODEGEN_METRICS = "org.apache.spark.metrics.source.CodegenMetrics"


def _seq(jseq) -> list:
    """A Scala Seq as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _ran(store, stage_id: int):
    """The last attempt of a stage that ran, or None for a skipped stage.
    The store drops skipped stages first once it holds more than
    ``spark.ui.retainedStages``, so a stage it no longer has was skipped."""
    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.util.NoSuchElementException":
            return None
        raise
    return st if st.status().toString() != "SKIPPED" else None


def measure(spark: SparkSession, build: Callable[[], DataFrame]) -> dict:
    """Build, plan and execute ``build()``'s frame under a fresh job group;
    return one record of the run.

    - ``build_s``, ``plan_s``, ``exec_s`` and their sum ``wall_s``;
    - ``rows``: the rows the plan produced;
    - ``jobs``; ``stages`` and ``tasks`` count the stages that ran (not
      the skipped ones) and their tasks;
    - ``executor_run_s``, ``executor_cpu_s``: summed over the tasks;
    - ``shuffle_read_bytes``, ``shuffle_write_bytes`` (compressed, so a
      different row order can change them slightly),
      ``shuffle_write_records``, ``spill_bytes`` (spilled to disk);
    - ``task_p50_s``, ``task_max_s``: task durations over all the run's
      tasks (None without tasks); max over p50 is the skew signal;
    - ``codegen_compiles``: the generated classes Janino compiled during
      the build, plan and run (the change in the count of
      ``CodegenMetrics.METRIC_COMPILATION_TIME``). The counter is JVM-wide,
      so the figure is exact only when one query runs at a time.

    Jobs the builder itself runs (a fitted model, an ingest-time write)
    count as the run's. The thread's job group is restored afterwards,
    also when the build or the run raises.
    """
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    group = f"limeqo-profile-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "limeqo profile")
    compilations = getattr(spark._jvm, _CODEGEN_METRICS).METRIC_COMPILATION_TIME()
    compiled0 = compilations.getCount()
    try:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.perf_counter()
        rows = qe.toRdd().count()
        t3 = time.perf_counter()
        compiled = compilations.getCount() - compiled0
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(_BUS_WAIT_MS)
    store = jsc.statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids = {sid for jid in jobs for sid in _seq(store.job(jid).stageIds())}
    stages = [st for st in (_ran(store, sid) for sid in stage_ids) if st is not None]
    tasks = [t for st in stages for t in _seq(store.taskList(st.stageId(), st.attemptId(), _ALL_TASKS))]
    durations_ms = [d.get() for d in (t.duration() for t in tasks) if d.isDefined()]
    return {
        "build_s": round(t1 - t0, 4),
        "plan_s": round(t2 - t1, 4),
        "exec_s": round(t3 - t2, 4),
        "wall_s": round(t3 - t0, 4),
        "rows": rows,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": round(sum(st.executorRunTime() for st in stages) / 1e3, 4),
        "executor_cpu_s": round(sum(st.executorCpuTime() for st in stages) / 1e9, 4),
        "shuffle_read_bytes": sum(st.shuffleReadBytes() for st in stages),
        "shuffle_write_bytes": sum(st.shuffleWriteBytes() for st in stages),
        "shuffle_write_records": sum(st.shuffleWriteRecords() for st in stages),
        "spill_bytes": sum(st.diskBytesSpilled() for st in stages),
        "task_p50_s": statistics.median(durations_ms) / 1e3 if durations_ms else None,
        "task_max_s": max(durations_ms) / 1e3 if durations_ms else None,
        "codegen_compiles": compiled,
    }
