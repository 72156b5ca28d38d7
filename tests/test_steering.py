"""t1 hint-steering smoke (SURVEY §5.2.5) on sf0.001: every HintSet yields a
valid run, results are hint-invariant, plan hashes dedup equivalent plans."""

from __future__ import annotations

import threading
import time
import uuid

import numpy as np
import pytest

from pyspark.errors import IllegalArgumentException
from pyspark.sql import functions as F

from limeqo_spark import hints as H
from limeqo_spark import plans as P
from limeqo_spark import steer
from limeqo_spark.io import table
from limeqo_spark.live import LiveSteeringSession
from limeqo_spark.steer import hint_plans, run_steered
from limeqo_spark.workloads import steering_workload

SF = "/root/testdata/sf0.001"


def join_query(spark):
    def build():
        li = table(spark, SF, "lineitem")
        o = table(spark, SF, "orders")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        )

    return build


def test_registry_shape():
    assert len(H.REGISTRY) == 49
    assert H.REGISTRY[0].name == "default"
    ids = [h.hint_id for h in H.REGISTRY]
    assert ids == list(range(49))
    # join-strategy family hints present (the README.md:11 nested-loop analog)
    assert any(h.join_hint == "SHUFFLE_REPLICATE_NL" for h in H.REGISTRY)
    assert len({h.name for h in H.REGISTRY}) == 49


def test_hint_invariance_and_plan_dedup(spark):
    build = join_query(spark)
    baseline = {tuple(r) for r in build().collect()}
    s = LiveSteeringSession(spark, {"q": build}, hint_sets=H.REGISTRY[:6])
    obs = s.probe(timeout_s=120.0)
    assert len(obs) == 6
    hashes = {o.plan_hash for o in obs}
    assert len(hashes) < len(obs), "expected some HintSets to share a physical plan"
    # hint-invariance: every hinted variant returns identical results
    for hs in H.REGISTRY[:6]:
        with H.applied(spark, hs):
            got = {tuple(r) for r in build().collect()}
        assert got == baseline, f"HintSet {hs.hint_id} changed query results"
    # ... and so does the frame each measured cell executed, under its set
    for o in obs:
        if o.measured:
            with H.applied(spark, s.hint_sets[o.hint_id]):
                got = {tuple(r) for r in s.frame(0, o.hint_id).collect()}
            assert got == baseline, f"cell frame of hint {o.hint_id} changed query results"


def test_probe_builds_once_per_join_hint(spark):
    """A probe builds the query once per distinct join hint, in the
    fingerprint pass; its measured runs execute those frames and build
    nothing."""
    inner = join_query(spark)
    builds = [0]

    def build():
        builds[0] += 1
        return inner()

    hint_sets = H.REGISTRY[:6] + H.REGISTRY[16:18]
    s = LiveSteeringSession(spark, {"q": build}, hint_sets=hint_sets)
    obs = s.probe(timeout_s=120.0)
    assert len(obs) == len(hint_sets) and s.explored.all()
    assert sum(o.measured for o in obs) > 1
    assert builds[0] == len({hs.join_hint for hs in hint_sets})


def test_forbid_broadcast_changes_plan(spark):
    build = join_query(spark)

    def dim_join():
        li = table(spark, SF, "lineitem")
        p = table(spark, SF, "part")
        return li.join(p, li.l_partkey == p.p_partkey).groupBy("p_brand").count()

    with H.applied(spark, H.REGISTRY[0]):
        default_plan = P.explain_formatted(dim_join())
    forbid = next(h for h in H.REGISTRY if "bcast=off" in h.name and "aqe=off" in h.name)
    with H.applied(spark, forbid):
        forbidden_plan = P.explain_formatted(dim_join())
    assert "BroadcastHashJoin" in default_plan
    assert "BroadcastHashJoin" not in forbidden_plan, "broadcast ban not honored"
    assert P.plan_hash(default_plan) != P.plan_hash(forbidden_plan)


def test_applied_restores_confs_when_spark_rejects_a_value(spark):
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k, None) for k in keys}
    bad = H.HintSet(
        -1,
        "rejected",
        {keys[0]: "-1", keys[1]: "not-a-number"},  # the second is rejected
    )
    with pytest.raises(IllegalArgumentException, match="not-a-number"):
        with H.applied(spark, bad):
            pass
    assert {k: spark.conf.get(k, None) for k in keys} == before
    assert H.active_join_hint() is None


def test_canonicalize_strips_session_noise():
    a = "Project [l_orderkey#123L], Statistics(sizeInBytes=1.2 MiB) file:/tmp/x [id=#12]"
    b = "Project [l_orderkey#456L], Statistics(sizeInBytes=9.9 MiB) file:/tmp/y [id=#99]"
    assert P.canonicalize(a) == P.canonicalize(b)
    assert P.plan_hash(a) == P.plan_hash(b)


def test_run_steered_timeout_censors(spark):
    def slow():
        # a deliberately heavy cross join at sf0.001, big enough to outlive
        # a 0.05 s budget; the cancel stops it there (what it stops is
        # checked job by job in test_censored_run_completes_no_job)
        li = table(spark, SF, "lineitem").select("l_orderkey")
        return li.crossJoin(li.selectExpr("l_orderkey as r")).selectExpr(
            "count(*) as n"
        )

    run = run_steered(spark, slow(), H.REGISTRY[0], timeout_s=0.05)
    assert run.latency is None
    assert run.censor_cutoff == pytest.approx(0.05)


def test_run_steered_zero_budget_censors_at_zero(spark):
    run = run_steered(spark, join_query(spark)(), H.REGISTRY[0], timeout_s=0.0)
    assert run.latency is None
    assert run.censor_cutoff == 0.0


def _poll(cond, what: str, limit_s: float = 120.0) -> None:
    deadline = time.monotonic() + limit_s
    while not cond():
        assert time.monotonic() < deadline, f"status tracker never showed {what}"
        time.sleep(0.02)


def _marker_job(sc) -> int:
    """Run a one-task job on a fresh thread in its own job group and return
    its id once the status tracker knows it. Job ids rise in submission
    order and listener events arrive in order, so every job submitted
    before the marker is in the tracker by then."""
    group = f"marker-{uuid.uuid4().hex[:12]}"

    def run() -> None:
        sc.setJobGroup(group, "marker")
        sc.parallelize([0], 1).count()

    t = threading.Thread(target=run)
    t.start()
    t.join()
    _poll(lambda: sc.statusTracker().getJobIdsForGroup(group), f"job group {group}")
    return sc.statusTracker().getJobIdsForGroup(group)[0]


@pytest.mark.parametrize("hint_id", [0, 17, 48])
def test_censored_run_completes_no_job(spark, sf_dir, hint_id):
    """A run censored at 1 ms stops there: no job it created, neither its
    own nor a shuffle map-stage job AQE submitted after the cancel, runs
    to success."""
    hs = H.REGISTRY[hint_id]
    _, planned, _ = hint_plans(spark, steering_workload(spark, sf_dir)["star_5way"], [hs])
    sc = spark.sparkContext
    lo = _marker_job(sc)
    run = run_steered(spark, planned[0], hs, timeout_s=0.001)
    hi = _marker_job(sc)
    assert run.latency is None and run.censor_cutoff == pytest.approx(0.001)

    tracker = sc.statusTracker()

    def statuses() -> dict[int, str]:
        infos = {j: tracker.getJobInfo(j) for j in range(lo + 1, hi)}
        return {j: i.status for j, i in infos.items() if i is not None}

    _poll(lambda: "RUNNING" not in statuses().values(), "the run's jobs ended")
    succeeded = [j for j, st in statuses().items() if st == "SUCCEEDED"]
    assert not succeeded, f"censored hint {hint_id} run completed jobs {succeeded}"


def test_steered_run_does_not_plan_again(spark):
    """A run executes the physical plan the fingerprint pass made: no rule
    of the main optimizer runs inside it (AQE's own rules may)."""
    hs = H.REGISTRY[0]
    _, planned, _ = hint_plans(spark, steering_workload(spark, SF)["star_5way"], [hs])
    rules = getattr(spark._jvm, "org.apache.spark.sql.catalyst.rules.RuleExecutor")
    rules.resetMetrics()
    run = run_steered(spark, planned[0], hs)
    assert run.latency is not None
    ran = rules.dumpTimeSpent()
    for rule in ("ColumnPruning", "PushDownPredicates", "ReorderJoin"):
        assert rule not in ran, f"the run ran optimizer rule {rule}"


def _stages_run(sc, lo: int, hi: int) -> int:
    """Stages that completed a task, over the jobs between two marker
    jobs (a stage shared by several jobs counts once)."""
    tracker = sc.statusTracker()
    infos = [tracker.getJobInfo(j) for j in range(lo + 1, hi)]
    stages = {sid for info in infos if info is not None for sid in info.stageIds}
    completed = [tracker.getStageInfo(sid) for sid in stages]
    return sum(si is not None and si.numCompletedTasks > 0 for si in completed)


def test_a_cell_run_again_executes_a_fresh_plan(spark, monkeypatch):
    """A QueryExecution runs at most once: AQE would skip the map stages of
    a plan it has run, and keeps a cancelled stage's failure. So a cell's
    second run (repeats=2) completes as many stages as its first, and a
    censored cell's frame still collects the query's rows."""
    import limeqo_spark.live as live_mod

    sc = spark.sparkContext
    bounds = []

    def bracketed(*args, **kwargs):
        lo = _marker_job(sc)
        run = run_steered(*args, **kwargs)
        bounds.append((lo, _marker_job(sc)))
        return run

    monkeypatch.setattr(live_mod, "run_steered", bracketed)
    build = join_query(spark)
    merge = H.REGISTRY[17]  # a sort-merge join: both sides are shuffled
    assert merge.join_hint == "MERGE"
    s = LiveSteeringSession(spark, {"q": build}, hint_sets=[merge], warmup=False, repeats=2)
    s.execute_cell(0, 0, None)
    assert len(bounds) == 2 and s.matrix[0, 0] > 0
    first, second = (_stages_run(sc, lo, hi) for lo, hi in bounds)
    assert first >= 3, f"expected a shuffle join, ran {first} stages"
    assert second == first, f"the second run ran {second} stages, the first {first}"

    baseline = {tuple(r) for r in build().collect()}
    censored = LiveSteeringSession(spark, {"q": build}, hint_sets=[merge], warmup=False)
    censored.execute_cell(0, 0, 0.001)
    assert np.isnan(censored.matrix[0, 0]) and censored.cutoffs[0, 0] == pytest.approx(0.001)
    with H.applied(spark, merge):
        got = {tuple(r) for r in censored.frame(0, 0).collect()}
    assert got == baseline


def test_run_steered_raises_when_the_run_outlives_its_cancel(spark, monkeypatch):
    release = threading.Event()

    class Blocking:
        """Stands in for a frame whose plan's execution ignores the cancel."""

        _jdf = property(lambda self: self)

        def queryExecution(self):
            return self

        def executedPlan(self):
            return self

        def toRdd(self):
            return self

        def count(self):
            release.wait()

    monkeypatch.setattr(steer, "_CANCEL_WAIT_S", 0.2)
    try:
        with pytest.raises(RuntimeError, match=r"hint=17 \(job group limeqo-steer-\w+\)"):
            run_steered(spark, Blocking(), H.REGISTRY[17], timeout_s=0.01)
    finally:
        release.set()


def test_plan_tree_parse_and_featurize(spark):
    df = join_query(spark)()
    text = P.explain_formatted(df)
    tree = P.parse_formatted_tree(text)
    assert tree is not None
    feats = P.featurize(tree)
    assert feats[-2] >= 3  # at least scan+join+agg nodes
    btree = P.binarize(tree)

    def max_fanout(n):
        return max([len(n.children)] + [max_fanout(c) for c in n.children] or [0])

    assert max_fanout(btree) <= 2


def test_hint_invariance_all_49(spark):
    """The fundamental steering safety property across the FULL registry:
    every one of the 49 HintSets returns identical results. Executed once
    per distinct physical plan (plan-hash dedup) to stay fast."""
    build = join_query(spark)
    baseline = {tuple(r) for r in build().collect()}
    seen: set[str] = set()
    distinct = 0
    for hs in H.REGISTRY:
        with H.applied(spark, hs):
            df = build()
            fp = P.plan_hash(df)
            if fp in seen:
                continue
            seen.add(fp)
            distinct += 1
            got = {tuple(r) for r in df.collect()}
        assert got == baseline, f"HintSet {hs.hint_id} ({hs.name}) changed results"
    # the 49 knob combos must map to a rich plan space, not 2-3 plans
    assert distinct >= 8, f"only {distinct} distinct plans across 49 HintSets"
