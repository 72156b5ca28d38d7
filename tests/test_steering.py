"""t1 hint-steering smoke (SURVEY §5.2.5) on sf0.001: every HintSet yields a
valid run, results are hint-invariant, plan hashes dedup equivalent plans."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from limeqo_spark import hints as H
from limeqo_spark import plans as P
from limeqo_spark.io import table
from limeqo_spark.live import LiveSteeringSession
from limeqo_spark.steer import run_steered

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


def test_canonicalize_strips_session_noise():
    a = "Project [l_orderkey#123L], Statistics(sizeInBytes=1.2 MiB) file:/tmp/x [id=#12]"
    b = "Project [l_orderkey#456L], Statistics(sizeInBytes=9.9 MiB) file:/tmp/y [id=#99]"
    assert P.canonicalize(a) == P.canonicalize(b)
    assert P.plan_hash(a) == P.plan_hash(b)


def test_run_steered_timeout_censors(spark):
    def slow():
        # a deliberately heavy cross join at sf0.001 — big enough to outlive
        # a 0.05 s budget, small enough to finish quickly after cancellation
        li = table(spark, SF, "lineitem").select("l_orderkey")
        return li.crossJoin(li.selectExpr("l_orderkey as r")).selectExpr(
            "count(*) as n"
        )

    run = run_steered(spark, slow(), H.REGISTRY[0], timeout_s=0.05)
    assert run.latency is None
    assert run.censor_cutoff == pytest.approx(0.05)


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
