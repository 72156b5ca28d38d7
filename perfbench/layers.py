"""Per-layer instrumentation for the traced run.

``instrument`` replaces the engine's public functions, at every module
attribute that names them, with span-recording wrappers, and returns the
undo. The layers and their span names:

============  ==============================================================
build         query builders (spans opened by the workload around each call)
io            ``io.table`` (the plan cache hit ratio comes from the parquet
              reads made inside it)
hints         ``hints.applied``
plans         ``plans.explain_formatted`` and ``plans.plan_hash``
exec          ``DataFrameWriter.save`` (the noop sink; in steering it runs on
              ``run_steered``'s worker thread); jobs, stages and tasks come
              from the public ``StatusTracker`` for the job groups set
steer         ``steer.run_steered``
live          ``LiveSteeringSession.execute_cell`` and ``._fingerprints``
complete      ``complete.als_complete`` (one call per ALS fit)
strategies    the LimeQO strategies' ``select``, ``SimState.reveal_or_censor``
              and, in live steering, ``rank_cells_by_improvement``
============  ==============================================================
"""

from __future__ import annotations

import sys
import time
from collections.abc import Callable
from contextlib import contextmanager

from perfbench.trace import Span, Tracer, descendants, self_by_name

#: self-time layers, in report order; a span belongs to the layer its
#: name starts with
LAYERS = ("build", "io", "hints", "plans", "exec", "steer", "live", "complete", "strategies")


class LayerState:
    """What the wrappers learn besides spans: the job groups the traced
    section ran under, the distinct plan fingerprints, and per-call
    censoring outcomes."""

    def __init__(self) -> None:
        self.job_groups: list[str] = []
        self.plan_hashes: set[str] = set()
        self.censored = 0
        self.cancel_overhead_s = 0.0
        self.reveal_censored = 0


def instrument(tracer: Tracer, state: LayerState) -> Callable[[], None]:
    from pyspark import SparkContext
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from limeqo_spark import complete, hints, io, live, plans, steer, strategies

    undo: list[tuple[object, str, object]] = []

    def patch(obj: object, attr: str, new: object) -> None:
        undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def patch_everywhere(orig: Callable, new: Callable, only: str | None = None) -> None:
        """Replace ``orig`` under every engine module attribute bound to it
        (modules import these functions by name)."""
        for name, mod in list(sys.modules.items()):
            if not name.startswith("limeqo_spark") or (only and name != only):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    patch(mod, attr, new)

    def on_hash(result: str, _span: Span) -> None:
        state.plan_hashes.add(result)

    def on_steered(result, span: Span) -> None:
        if result.latency is None:
            state.censored += 1
            state.cancel_overhead_s += (span.end - span.start) - result.censor_cutoff

    def on_reveal(result: bool, _span: Span) -> None:
        if not result:
            state.reveal_censored += 1

    patch_everywhere(io.table, tracer.wrap(io.table, "io.table"))
    patch_everywhere(plans.explain_formatted, tracer.wrap(plans.explain_formatted, "plans.explain"))
    patch_everywhere(plans.plan_hash, tracer.wrap(plans.plan_hash, "plans.hash", on_hash))
    patch_everywhere(steer.run_steered, tracer.wrap(steer.run_steered, "steer.run_steered", on_steered))
    patch_everywhere(complete.als_complete, tracer.wrap(complete.als_complete, "complete.fit"))
    patch_everywhere(
        strategies.rank_cells_by_improvement,
        tracer.wrap(strategies.rank_cells_by_improvement, "strategies.select"),
        only="limeqo_spark.live",
    )

    orig_applied = hints.applied

    @contextmanager
    def applied(spark, hint_set):
        tracer.count("hints.applied")
        with tracer.span("hints.applied"), orig_applied(spark, hint_set) as hs:
            yield hs

    patch_everywhere(orig_applied, applied)

    cls = live.LiveSteeringSession
    patch(cls, "execute_cell", tracer.wrap(cls.execute_cell, "live.execute_cell"))
    patch(cls, "_fingerprints", tracer.wrap(cls._fingerprints, "live.fingerprints"))
    for scls in (strategies.LimeQOStrategy, strategies.LimeQOPlusStrategy):
        patch(scls, "select", tracer.wrap(scls.__dict__["select"], "strategies.select"))
    patch(
        strategies.SimState,
        "reveal_or_censor",
        tracer.wrap(strategies.SimState.reveal_or_censor, "strategies.reveal", on_reveal),
    )

    patch(DataFrameWriter, "save", tracer.wrap(DataFrameWriter.save, "exec"))
    orig_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        tracer.count("io.read_parquet")
        if tracer.current() == "io.table":
            tracer.count("io.table_miss")
        return orig_parquet(self, *paths, **options)

    patch(DataFrameReader, "parquet", parquet)
    orig_group = SparkContext.setJobGroup

    def set_job_group(self, group_id, description, interrupt_on_cancel=False):
        state.job_groups.append(group_id)
        return orig_group(self, group_id, description, interrupt_on_cancel)

    patch(SparkContext, "setJobGroup", set_job_group)

    def uninstall() -> None:
        for obj, attr, val in reversed(undo):
            setattr(obj, attr, val)

    return uninstall


#: longest wait for the status tracker to report the jobs of a group ended
_JOB_END_WAIT_S = 30.0


def job_counts(sc, group_ids: list[str]) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) over the given job groups, from
    the public status tracker. A stage counts once, however many jobs
    share it; skipped stages complete no task and are not counted.

    The tracker learns of finished tasks from an asynchronous event queue,
    after the action that ran them has returned; the counts are read once
    it reports every job of the groups as ended (a job ends after its
    tasks)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + _JOB_END_WAIT_S
    while True:
        job_ids = [jid for g in dict.fromkeys(group_ids) for jid in tracker.getJobIdsForGroup(g)]
        infos = [tracker.getJobInfo(jid) for jid in job_ids]
        if all(i is not None and i.status != "RUNNING" for i in infos) or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    jobs, stages = len(job_ids), set()
    for info in infos:
        stages.update(info.stageIds if info else ())
    tasks, run = 0, 0
    for sid in stages:
        si = tracker.getStageInfo(sid)
        if si is not None and si.numCompletedTasks > 0:
            run += 1
            tasks += si.numCompletedTasks
    return jobs, run, tasks


def layer_metrics(tracer: Tracer, state: LayerState, root: int, sc=None) -> dict[str, float]:
    """The per-layer metrics of the traced section under span ``root``.
    Layer self times plus ``trace.uncovered_s`` add up to ``trace.root_s``,
    the root's wall without the output checks made inside it."""
    spans = tracer.spans
    by_name = self_by_name(spans, root)
    under = [spans[i] for i in descendants(spans, root)]
    # output checks inside the unit are neither layer work nor unit work
    check_s = by_name.get("check", 0.0)
    root_s = spans[root].end - spans[root].start - check_s
    c = tracer.counts
    out: dict[str, float] = {}
    for layer in LAYERS:
        out[f"{layer}.s"] = sum(v for k, v in by_name.items() if k.split(".")[0] == layer)

    def total(name: str) -> float:
        return sum(s.end - s.start for s in under if s.name == name)

    jobs, stages, tasks = job_counts(sc, state.job_groups) if sc is not None else (0, 0, 0)
    table_calls = c["io.table"]
    out.update(
        {
            "build.calls": c["build"],
            "io.table_calls": table_calls,
            "io.read_parquet_calls": c["io.read_parquet"],
            "io.plan_cache_hit_ratio": (1 - c["io.table_miss"] / table_calls) if table_calls else 0.0,
            "hints.applied_calls": c["hints.applied"],
            "plans.explain_s": by_name.get("plans.explain", 0.0),
            "plans.explain_calls": c["plans.explain"],
            "plans.hash_s": by_name.get("plans.hash", 0.0),
            "plans.hash_calls": c["plans.hash"],
            "plans.distinct_hashes": len(state.plan_hashes),
            "exec.calls": c["exec"],
            "exec.jobs": jobs,
            "exec.stages": stages,
            "exec.tasks": tasks,
            "steer.run_steered_s": total("steer.run_steered"),
            "steer.run_steered_calls": c["steer.run_steered"],
            "steer.censored": state.censored,
            "steer.cancel_overhead_s": state.cancel_overhead_s,
            "complete.fit_s": total("complete.fit"),
            "complete.fit_calls": c["complete.fit"],
            "strategies.select_s": total("strategies.select"),
            "strategies.rounds": c["strategies.select"],
            "strategies.reveal_calls": c["strategies.reveal"],
            "strategies.censored_frac": (
                state.reveal_censored / c["strategies.reveal"] if c["strategies.reveal"] else 0.0
            ),
            "trace.root_s": root_s,
            "trace.check_s": check_s,
            "trace.uncovered_s": by_name[spans[root].name],
            "trace.uncovered_frac": by_name[spans[root].name] / root_s,
            "trace.spans": len(under) + 1,
        }
    )
    return out
