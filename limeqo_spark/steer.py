"""Live steering: execute a query under a HintSet with latency capture and
timeout-as-censoring (SURVEY §3.3 step 4, §4.3).

This is the driver->cluster boundary the reference only simulates: a hinted
run either completes (observed latency) or is killed at the wall-clock
budget (censored at the budget). Cancellation uses Spark job groups so a
timed-out query releases cluster resources.
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
    """Execute ``df`` to the noop sink under ``hint_set``'s confs; return
    its latency, or the censoring cutoff on timeout.

    ``df`` is the frame :func:`hint_plans` built for the set's join hint;
    the write plans it afresh under the applied confs, so it runs the plan
    that pass fingerprinted.
    """
    with H.applied(spark, hint_set):
        group = f"limeqo-steer-{uuid.uuid4().hex[:12]}"
        sc = spark.sparkContext
        done = threading.Event()
        err: list[BaseException] = []

        def execute() -> None:
            try:
                sc.setJobGroup(group, f"steered run hint={hint_set.hint_id}", True)
                df.write.format("noop").mode("overwrite").save()
            except BaseException as e:  # cancellation surfaces as an exception
                err.append(e)
            finally:
                done.set()

        t0 = time.perf_counter()
        worker = threading.Thread(target=execute, daemon=True)
        worker.start()
        finished = done.wait(timeout=timeout_s) if timeout_s else (done.wait() or True)
        elapsed = time.perf_counter() - t0

        if not finished:
            sc.cancelJobGroup(group)
            done.wait(timeout=30)
            return SteeredRun(hint_set.hint_id, None, float(timeout_s))
        if err:
            raise err[0]
        return SteeredRun(hint_set.hint_id, elapsed, None)


def hint_plans(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    hint_sets: list[H.HintSet],
) -> tuple[dict[str | None, DataFrame], list[str]]:
    """``build()``'s frame per distinct join hint of ``hint_sets``, and its
    EXPLAIN FORMATTED text under each hint set.

    Only a set's join hint changes the built plan (io.table tags relations
    with it); its other levers are session confs, which Catalyst reads only
    when it optimizes and plans. So each set re-plans the frame built for
    its join hint under its own confs, which gives the same plan as
    rebuilding the query under the set, for builders that do not read those
    confs themselves. The plan is fingerprinted before execution (initial
    physical plan), so equivalence grouping is stable under AQE re-planning
    (SURVEY §7 risk: plan stability).
    """
    built: dict[str | None, DataFrame] = {}
    texts = []
    for hs in hint_sets:
        with H.applied(spark, hs):
            if hs.join_hint not in built:
                built[hs.join_hint] = build()
            texts.append(explain_formatted(replanned(built[hs.join_hint])))
    return built, texts
