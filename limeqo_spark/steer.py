"""Live steering: execute a query under a HintSet with latency capture and
timeout-as-censoring (SURVEY §3.3 step 4, §4.3).

This is the driver->cluster boundary the reference only simulates: a hinted
run either completes (observed latency) or is stopped at the wall-clock
budget (censored at the budget). A run executes the physical plan the
fingerprint pass made (:func:`hint_plans`), so its clock covers execution
only, as the reference's runtime does (A30). Each run has its own Spark job
group. On timeout that group is cancelled together with its future jobs:
the jobs active then stop and later ones are rejected. The cancel is
repeated until the run's thread returns, because Spark checks the shuffle
map-stage jobs AQE submits against no cancelled group. So a censored cell
costs about its budget
(tests/test_steering.py::test_censored_run_completes_no_job).
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from limeqo_spark import hints as H
from limeqo_spark.plans import explain_formatted, replanned

# how long a cancelled run's thread may take to return before run_steered
# gives up on it, and how often the cancel is repeated meanwhile
_CANCEL_WAIT_S = 30.0
_RECANCEL_EVERY_S = 0.01


@dataclass
class SteeredRun:
    hint_id: int
    latency: float | None  # None => censored (timed out)
    censor_cutoff: float | None


def run_steered(
    spark: SparkSession,
    df: DataFrame,
    hint_set: H.HintSet,
    timeout_s: float | None = None,
) -> SteeredRun:
    """Execute ``df``'s physical plan under ``hint_set``'s confs; return
    its latency, or the censoring cutoff on timeout.

    ``df`` is planned under the set's confs before the clock starts, which
    is a no-op for the frame :func:`hint_plans` fingerprinted under that
    set; the run then executes that QueryExecution's plan, with no write
    and no second planning, so the latency and the budget cover execution
    only. A QueryExecution is executed at most once: AQE keeps a finished
    plan's shuffle outputs and a cancelled stage's failed result, so a
    second run would skip stages or fail. ``timeout_s=None`` waits for the
    run; any other value, 0 included, is the budget, past which the run is
    stopped as the module docstring describes: its active jobs, its later
    jobs and AQE's map-stage jobs are cancelled. A run whose thread is
    still alive ``_CANCEL_WAIT_S`` after the cancel raises RuntimeError
    instead of running on unseen.
    """
    with H.applied(spark, hint_set):
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # planned before the clock starts: a no-op once fingerprinted
        group = f"limeqo-steer-{uuid.uuid4().hex[:12]}"
        sc = spark.sparkContext
        done = threading.Event()
        err: list[BaseException] = []

        def execute() -> None:
            try:
                sc.setJobGroup(group, f"steered run hint={hint_set.hint_id}", True)
                qe.toRdd().count()
            except BaseException as e:  # cancellation surfaces as an exception
                err.append(e)
            finally:
                done.set()

        t0 = time.perf_counter()
        worker = threading.Thread(target=execute, daemon=True)
        worker.start()
        finished = done.wait(timeout=timeout_s)
        elapsed = time.perf_counter() - t0

        if not finished:
            deadline = time.perf_counter() + _CANCEL_WAIT_S
            # PySpark has no wrapper for it; the group stays on Spark's
            # bounded cancelled-group list (numCancelledJobGroupsToTrack)
            cancel = sc._jsc.sc().cancelJobGroupAndFutureJobs
            while True:
                cancel(group)
                if done.wait(timeout=_RECANCEL_EVERY_S):
                    return SteeredRun(hint_set.hint_id, None, float(timeout_s))
                if time.perf_counter() >= deadline:
                    raise RuntimeError(
                        f"steered run hint={hint_set.hint_id} (job group {group}) "
                        f"still running {_CANCEL_WAIT_S:g}s after its cancel"
                    )
        if err:
            raise err[0]
        return SteeredRun(hint_set.hint_id, elapsed, None)


def hint_plans(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    hint_sets: list[H.HintSet],
) -> tuple[dict[str | None, DataFrame], list[DataFrame], list[str]]:
    """``build()``'s frame per distinct join hint of ``hint_sets``, and
    each hint set's planned frame and its EXPLAIN FORMATTED text, as two
    lists aligned with ``hint_sets``.

    Only a set's join hint changes the built plan (io.table tags relations
    with it); its other levers are session confs, which Catalyst reads only
    when it optimizes and plans. So each set re-plans the frame built for
    its join hint under its own confs (:func:`~limeqo_spark.plans.replanned`),
    which gives the same plan as rebuilding the query under the set, for
    builders that do not read those confs themselves. That planned frame is
    the one EXPLAINed, so :func:`run_steered` can execute the plan
    fingerprinted here. The plan is fingerprinted before execution (initial
    physical plan), so equivalence grouping is stable under AQE re-planning
    (SURVEY §7 risk: plan stability).
    """
    built: dict[str | None, DataFrame] = {}
    planned, texts = [], []
    for hs in hint_sets:
        with H.applied(spark, hs):
            if hs.join_hint not in built:
                built[hs.join_hint] = build()
            planned.append(replanned(built[hs.join_hint]))
            texts.append(explain_formatted(planned[-1]))
    return built, planned, texts
