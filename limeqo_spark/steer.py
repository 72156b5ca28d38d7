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
from limeqo_spark.plans import explain_formatted, plan_hash, replanned


@dataclass
class SteeredRun:
    hint_id: int
    latency: float | None  # None => censored (timed out)
    censor_cutoff: float | None
    plan_hash: str
    plan_text: str


def run_steered(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    hint_set: H.HintSet,
    timeout_s: float | None = None,
) -> SteeredRun:
    """Build + execute ``build()`` under ``hint_set``; return latency (or the
    censoring cutoff on timeout) and the plan fingerprint.

    The plan is fingerprinted *before* execution (initial physical plan) so
    equivalence grouping is stable under AQE re-planning (SURVEY §7 risk:
    plan stability).
    """
    with H.applied(spark, hint_set):
        df = build()  # io.table tags relations with the active join hint
        text = explain_formatted(df)
        fp = plan_hash(text)

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
            return SteeredRun(hint_set.hint_id, None, float(timeout_s), fp, text)
        if err:
            raise err[0]
        return SteeredRun(hint_set.hint_id, elapsed, None, fp, text)


def hint_plan_texts(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    hint_sets: list[H.HintSet],
) -> list[str]:
    """EXPLAIN FORMATTED text of ``build()`` under each hint set, building
    the query once per distinct join hint.

    Only a set's join hint changes the built plan (io.table tags relations
    with it); its other levers are session confs, which Catalyst reads only
    when it optimizes and plans. So each set re-plans the plan built for its
    join hint under its own confs, which gives the same plan as rebuilding
    the query under the set, for builders that do not read those confs
    themselves.
    """
    built: dict[str | None, DataFrame] = {}
    texts = []
    for hs in hint_sets:
        with H.applied(spark, hs):
            if hs.join_hint not in built:
                built[hs.join_hint] = build()
            texts.append(explain_formatted(replanned(built[hs.join_hint])))
    return texts


def probe_hint_space(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    hint_sets: list[H.HintSet] | None = None,
    timeout_s: float | None = None,
    dedup_by_plan: bool = True,
) -> list[SteeredRun]:
    """Measure a query across a HintSet registry, paying each distinct
    physical plan only once (A15/A18): equivalent plans inherit the measured
    latency instead of re-running."""
    hint_sets = hint_sets if hint_sets is not None else H.REGISTRY
    if dedup_by_plan:
        fps = [plan_hash(t) for t in hint_plan_texts(spark, build, hint_sets)]
    else:
        fps = [None] * len(hint_sets)
    runs: list[SteeredRun] = []
    seen: dict[str, SteeredRun] = {}
    for hs, fp in zip(hint_sets, fps):
        if fp in seen:
            prior = seen[fp]
            runs.append(SteeredRun(hs.hint_id, prior.latency, prior.censor_cutoff, fp, ""))
            continue
        run = run_steered(spark, build, hs, timeout_s)
        seen[run.plan_hash] = run
        runs.append(run)
    return runs
