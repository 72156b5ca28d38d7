"""End-to-end live steering (SURVEY §7 slice demo): steer real queries on
sf0.001 across the HintSet registry with LimeQO completion."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from limeqo_spark.io import table
from limeqo_spark.live import LiveSteeringSession

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def session(spark) -> LiveSteeringSession:
    def star_join():
        li = table(spark, SF, "lineitem")
        o = table(spark, SF, "orders")
        c = table(spark, SF, "customer")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum("l_extendedprice").alias("s"))
        )

    def dim_join():
        li = table(spark, SF, "lineitem")
        p = table(spark, SF, "part")
        return li.join(p, li.l_partkey == p.p_partkey).groupBy("p_brand").count()

    s = LiveSteeringSession(spark, {"star": star_join, "dim": dim_join}, iters=20)
    s.bootstrap(timeout_s=120.0)
    s.explore(rounds=2, k=3)
    return s


def test_bootstrap_observes_default_column(session):
    assert (session.explored[:, 0] == 1).all()
    assert np.isfinite(session.min_observed()).all()


def test_exploration_made_progress(session):
    assert session.explored.sum() > len(session.query_ids)
    measured = [o for o in session.observations if o.measured]
    inherited = [o for o in session.observations if not o.measured]
    assert measured, "no live runs happened"
    # plan-equivalence fan-out should have saved at least one execution
    assert inherited, "expected some hints to inherit latency via plan hash"


def test_best_hints_are_observed(session):
    best = session.best_hints()
    assert set(best) == {"star", "dim"}
    for hj, lat in best.values():
        assert lat > 0
        assert 0 <= hj < len(session.hint_sets)


def test_long_df_roundtrip(session, spark):
    df = session.to_long_df(spark)
    assert df.count() == len(session.observations)
    assert df.filter("measured").count() >= len(session.query_ids)
    # censored rows carry a cutoff and no latency
    bad = df.filter("latency IS NULL AND censor_cutoff IS NULL").count()
    assert bad == 0


def test_plan_model_exploration(spark):
    """LimeQO+ live: exploration driven by the plan-feature cost model over
    real EXPLAIN trees makes progress and keeps state invariants."""
    def dim_join():
        li = table(spark, SF, "lineitem")
        p = table(spark, SF, "part")
        return li.join(p, li.l_partkey == p.p_partkey).groupBy("p_brand").count()

    s = LiveSteeringSession(spark, {"dim": dim_join}, iters=20)
    s.bootstrap(timeout_s=120.0)
    before = int(s.explored.sum())
    s.explore(rounds=2, k=3, model="plan")
    assert int(s.explored.sum()) > before
    # features exist for explored cells and have plan + hint parts
    qi, hj = map(int, np.argwhere(s.explored > 0)[-1])
    f = s._features(qi, hj)
    assert f.shape[0] > len(s.hint_sets) and np.isfinite(f).all()
    best = s.best_hints()
    assert "dim" in best and best["dim"][1] > 0


def test_steering_workload_shapes(spark):
    """Every registry workload builds, runs, and yields distinct plan
    hashes across at least two HintSets for the join-shape-sensitive
    queries (the plan space is non-degenerate)."""
    from limeqo_spark import hints as H
    from limeqo_spark.plans import plan_hash
    from limeqo_spark.workloads import steering_workload

    wl = steering_workload(spark, SF)
    assert len(wl) == 12
    separating = 0
    probe_sets = [H.REGISTRY[0], H.REGISTRY[17], H.REGISTRY[48]]  # default / merge / assists-off
    for name, build in wl.items():
        assert build().limit(1).count() >= 0  # runs
        fps = set()
        for hs in probe_sets:
            with H.applied(spark, hs):
                fps.add(plan_hash(build()))
        if len(fps) > 1:
            separating += 1
    assert separating >= 10, f"only {separating}/12 workloads separate hint sets"


def test_live_session_on_workload_registry(spark):
    """End-to-end: steer a 3-query slice of the workload registry; the
    session must surface a best hint per query with real latencies."""
    from limeqo_spark.workloads import steering_workload

    wl = steering_workload(spark, SF)
    sub = {k: wl[k] for k in ("star_5way", "selective_filter_join", "fact_fact")}
    s = LiveSteeringSession(spark, sub, iters=20)
    s.bootstrap(timeout_s=120.0)
    s.explore(rounds=1, k=3)
    best = s.best_hints()
    assert set(best) == set(sub)
    assert all(lat > 0 for _, lat in best.values())


def test_manifest_queries_steerable(spark):
    """Any manifest query adapts into a live steering target."""
    from limeqo_spark.workloads import manifest_workload

    wl = manifest_workload(spark, SF, ["q47_tpch_q3_shipping", "q16_tpch_q1_agg"])
    assert set(wl) == {"q47_tpch_q3_shipping", "q16_tpch_q1_agg"}
    for build in wl.values():
        assert build().limit(1).count() >= 0


def test_tcnn_model_exploration_on_real_plans(spark):
    """LimeQO+ live with the executable numpy tree-CNN: exploration over
    REAL EXPLAIN trees makes progress; the fitted model's training loss
    converged and predictions are positive finite."""
    def dim_join():
        n = table(spark, SF, "nation")
        r = table(spark, SF, "region")
        return n.join(r, n.n_regionkey == r.r_regionkey).groupBy("r_name").count()

    s = LiveSteeringSession(spark, {"dim": dim_join}, iters=10, warmup=False)
    s.bootstrap(timeout_s=120.0)
    before = int(s.explored.sum())
    s.explore(rounds=2, k=3, model="tcnn")
    assert int(s.explored.sum()) > before
    assert s._tcnn is not None and len(s._tcnn.loss_curve) > 0
    assert np.isfinite(s._tcnn.loss_curve[-1])
    best = s.best_hints()
    assert "dim" in best and best["dim"][1] > 0


def test_repeats_median_inherited_consistently(spark, monkeypatch):
    """A10 median-of-N semantics: with repeats=2 the measured cell records
    the median latency, and plan-equivalent hints must inherit that SAME
    median — not the last run's raw latency (regression for the fan-out
    passing run.latency instead of the computed median)."""
    import limeqo_spark.live as live_mod
    from limeqo_spark.steer import SteeredRun

    seq = iter([1.0, 3.0])  # two runs of the measured cell: median 2.0

    def fake_run(spark_, df, hint_set, timeout_s=None):
        return SteeredRun(hint_set.hint_id, next(seq), None)

    monkeypatch.setattr(live_mod, "run_steered", fake_run)

    def q():
        return spark.range(1)

    s = LiveSteeringSession(spark, {"q": q}, warmup=False, repeats=2)
    # pin every hint's fingerprint to one plan, so the fan-out covers the
    # whole row
    monkeypatch.setattr(live_mod, "plan_hash", lambda text: "FAKEPLAN")
    s.execute_cell(0, 0, None)

    assert s.matrix[0, 0] == 2.0  # median of [1.0, 3.0], not 3.0
    lats = {o.latency for o in s.observations}
    assert lats == {2.0}, f"equivalence class carries mixed values: {lats}"
    assert sum(o.measured for o in s.observations) == 1
    assert len(s.observations) == len(s.hint_sets)


def test_add_queries_mid_session(spark):
    """Live datashift: a query arriving after exploration started gets
    bootstrapped and explored without disturbing prior observations."""
    def dim_join():
        n = table(spark, SF, "nation")
        r = table(spark, SF, "region")
        return n.join(r, n.n_regionkey == r.r_regionkey).groupBy("r_name").count()

    def other():
        return table(spark, SF, "region").groupBy("r_name").count()

    s = LiveSteeringSession(spark, {"dim": dim_join}, iters=5, warmup=False)
    s.bootstrap(timeout_s=None)
    obs_before = list(s.observations)
    matrix_row0 = s.matrix[0].copy()

    s.add_queries({"other": other, "dim": dim_join})  # dup ignored
    assert s.query_ids == ["dim", "other"]
    assert s.matrix.shape[0] == 2 and np.isnan(s.matrix[1]).all()
    assert s.observations == obs_before  # nothing disturbed
    np.testing.assert_array_equal(np.nan_to_num(s.matrix[0]), np.nan_to_num(matrix_row0))

    s.bootstrap(timeout_s=None)  # measures only the new row's default
    assert s.explored[1, 0] == 1 and np.isfinite(s.min_observed()).all()
    s.explore(rounds=1, k=2)
    best = s.best_hints()
    assert set(best) == {"dim", "other"}
    assert all(lat > 0 for _, lat in best.values())


def test_save_restore_roundtrip(spark, tmp_path):
    """Exploration state round-trips through the Parquet observations table:
    a fresh session restored from a saved log reproduces the matrix,
    cutoffs, and explored flags (SURVEY §3.3 persistable state)."""
    import numpy as np

    from limeqo_spark.io import table

    def dim_join():
        n = table(spark, SF, "nation")
        r = table(spark, SF, "region")
        return n.join(r, n.n_regionkey == r.r_regionkey).groupBy("r_name").count()

    s = LiveSteeringSession(spark, {"dim": dim_join}, iters=5, warmup=False)
    s.bootstrap(timeout_s=None)
    s.save(str(tmp_path / "obs"))

    s2 = LiveSteeringSession(spark, {"dim": dim_join}, iters=5, warmup=False)
    applied = s2.restore(str(tmp_path / "obs"))
    assert applied == len(s.observations)
    assert np.array_equal(np.isnan(s.matrix), np.isnan(s2.matrix))
    assert np.allclose(np.nan_to_num(s.matrix), np.nan_to_num(s2.matrix))
    assert np.array_equal(s.explored, s2.explored)
    assert np.allclose(s.cutoffs, s2.cutoffs)


def test_mixed_timeout_repeats_keep_the_completed_observation(spark, monkeypatch):
    """Regression (r8 review): with repeats=3, a completed 9s run followed
    by a timed-out repeat must record an OBSERVED 9s latency — not discard
    the paid measurement and assert the provably false censor bound
    'latency >= cutoff' that the censored-ALS repair pass would then
    propagate."""
    import limeqo_spark.live as live_mod
    from limeqo_spark.steer import SteeredRun

    results = iter(
        [
            SteeredRun(0, 9.0, None),
            SteeredRun(0, None, 10.0),
        ]
    )
    monkeypatch.setattr(
        live_mod, "run_steered", lambda *a, **k: next(results)
    )
    s = live_mod.LiveSteeringSession(
        spark, {"q": lambda: spark.range(3).toDF("x")}, iters=1, repeats=3
    )
    s.execute_cell(0, 0, timeout_s=10.0)
    assert s.matrix[0, 0] == 9.0, "the completed run must be the observation"
    assert s.cutoffs[0, 0] == 0.0, "no censor bound when a run completed"
    obs = s.observations[-1]
    assert obs.latency == 9.0 and obs.censor_cutoff is None


def test_fingerprint_replan_matches_rebuild(spark):
    """The fingerprint pass builds each query once per join hint and
    re-plans it under every hint set's confs. Each cell's hash must equal
    the hash of the query rebuilt under that hint set, on every steering
    shape and two manifest queries, and the pass must leave every conf the
    registry sets as it found it."""
    from limeqo_spark import hints as H
    from limeqo_spark.plans import plan_hash
    from limeqo_spark.workloads import manifest_workload, steering_workload

    queries = steering_workload(spark, SF)
    queries.update(manifest_workload(spark, SF, ["q16_tpch_q1_agg", "q47_tpch_q3_shipping"]))
    assert len(queries) == 14
    conf_keys = sorted({k for hs in H.REGISTRY for k in hs.confs})
    s = LiveSteeringSession(spark, queries)
    before = {k: spark.conf.get(k, None) for k in conf_keys}
    fingerprints = [s._fingerprints(qi) for qi in range(len(s.query_ids))]
    assert {k: spark.conf.get(k, None) for k in conf_keys} == before
    for qi, qid in enumerate(s.query_ids):
        for hj, hs in enumerate(s.hint_sets):
            with H.applied(spark, hs):
                rebuilt = plan_hash(queries[qid]())
            assert fingerprints[qi][hj] == rebuilt, f"{qid} hint {hj}"


def test_fingerprint_pass_builds_once_per_join_hint(spark, monkeypatch):
    """One build per (query, distinct join hint) and one EXPLAIN per cell,
    all in the fingerprint pass: bootstrap and an explore round execute
    the frames it built, and the plan featurizers read the cached EXPLAIN
    text, so none of them builds or EXPLAINs again."""
    import limeqo_spark.live as live_mod
    from limeqo_spark import plans, steer
    from limeqo_spark.workloads import steering_workload

    wl = steering_workload(spark, SF)
    builds = {qid: 0 for qid in ("star_5way", "semi_anti_mix")}

    def counted(qid):
        def build():
            builds[qid] += 1
            return wl[qid]()

        return build

    s = LiveSteeringSession(spark, {qid: counted(qid) for qid in builds}, iters=5)
    join_hints = {hs.join_hint for hs in s.hint_sets}
    assert len(join_hints) == 5

    explains = [0]
    orig = plans.explain_formatted

    def counted_explain(df):
        explains[0] += 1
        return orig(df)

    for mod in (plans, steer, live_mod):
        if hasattr(mod, "explain_formatted"):
            monkeypatch.setattr(mod, "explain_formatted", counted_explain)
    s.bootstrap(timeout_s=120.0)
    s.explore(rounds=1, k=2)
    assert sum(o.measured for o in s.observations) > len(builds)  # explore ran cells
    assert builds == {qid: len(join_hints) for qid in builds}
    assert explains[0] == len(s.hint_sets) * len(builds)
    for qi in range(len(s.query_ids)):
        for hj in range(len(s.hint_sets)):
            assert np.isfinite(s._features(qi, hj)).all()
            feats, children = s._flat_tree(qi, hj)
            assert len(feats) == len(children)
    assert builds == {qid: len(join_hints) for qid in builds}
    assert explains[0] == len(s.hint_sets) * len(builds)
