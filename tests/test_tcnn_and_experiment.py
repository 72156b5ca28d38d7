"""Cost-model fallback, tree flattening, experiment driver, and the
BASELINE.md simulation-parity checkpoints (BENCH track 1)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from limeqo_spark.plans import NODE_VOCABULARY, PlanNode
from limeqo_spark.run_experiment import load_dataset, run_suite
from limeqo_spark.strategies import LimeQOStrategy
from limeqo_spark.tcnn import RidgeCostModel, flatten_tree, hint_onehot


def _toy_tree() -> PlanNode:
    return PlanNode(
        "HashAggregate",
        [
            PlanNode(
                "SortMergeJoin",
                [PlanNode("Scan", []), PlanNode("Scan", []), PlanNode("Scan", [])],
            )
        ],
    )


def test_flatten_tree_shapes():
    feats, children = flatten_tree(_toy_tree())
    assert feats.shape[1] == len(NODE_VOCABULARY)
    assert children.shape == (feats.shape[0], 2)
    assert (children < len(feats)).all()
    assert feats[0].sum() == 0  # pad slot
    # n-ary join was binarized: no node keeps 3 children
    assert children.max() > 0


def test_ridge_cost_model_learns_and_respects_censoring():
    rng = np.random.default_rng(0)
    n, f = 400, 12
    x = rng.random((n, f))
    w_true = rng.random(f) * 3
    y = np.expm1(x @ w_true * 0.5)
    cut = np.zeros(n)
    cens = rng.random(n) < 0.2
    cut[cens] = y[cens] * 1.5  # censored: only know latency > 1.5x value
    model = RidgeCostModel(lam=0.1).fit(x, np.where(cens, 0.0, y), cut)
    pred = model.predict(x)
    rel = np.abs(pred[~cens] - y[~cens]) / np.maximum(y[~cens], 1e-6)
    assert np.median(rel) < 0.5
    # censored rows: predictions should mostly clear the cutoff's vicinity
    frac_below = (np.log1p(pred[cens]) < np.log1p(cut[cens]) * 0.5).mean()
    assert frac_below < 0.5


def test_hint_onehot():
    v = hint_onehot(3, 16)
    assert v[3] == 1.0 and v.sum() == 1.0


def test_numpy_tcnn_gradients_match_finite_differences():
    """The hand-derived backward pass is exact: every parameter gradient
    matches central finite differences to <1e-6 relative error (params
    perturbed off the ReLU kinks first — zero-init biases put the pad rows
    exactly on the kink where subgradients differ legitimately)."""
    from limeqo_spark.tcnn import NumpyTCNN

    rng = np.random.default_rng(0)
    m = NumpyTCNN(4, 3, 5, rank=2, conv1=6, conv2=4, hidden=(5, 3), seed=1)
    for k in m.p:
        m.p[k] = m.p[k] + 0.05 * rng.standard_normal(m.p[k].shape)
    t, n = 2, 4
    feats = rng.standard_normal((t, n, 4))
    feats[:, 0, :] = 0
    child = rng.integers(0, n, (t, n, 2))
    child[:, 0, :] = 0
    b = 7
    tree_id = rng.integers(0, t, b)
    q_idx, h_idx = rng.integers(0, 3, b), rng.integers(0, 5, b)
    y = rng.uniform(0.5, 5.0, b)
    cuts = np.zeros(b)
    cuts[0], cuts[3] = 2.0, 1.0
    m._scale_fit(y, cuts)
    ys = m._scale(np.where(cuts > 0, 0.0, y))
    cut_s = np.where(cuts > 0, m._scale(cuts), 0.0)
    cens = cuts > 0

    def loss_fn():
        conv = m._conv_forward(feats, child)
        f = m._forward(conv, tree_id, q_idx, h_idx)
        err = np.where(cens, np.minimum(f["out"] - cut_s, 0.0), f["out"] - ys)
        return float((err**2).mean()), conv, f, err

    loss, conv, f, err = loss_fn()
    grads = m._backward(conv, f, tree_id, q_idx, h_idx, 2.0 * err / b)
    eps = 1e-6
    for k in m.p:
        it = np.nditer(m.p[k], flags=["multi_index"])
        num = np.zeros_like(m.p[k])
        for _ in it:
            idx = it.multi_index
            orig = m.p[k][idx]
            m.p[k][idx] = orig + eps
            lp, *_ = loss_fn()
            m.p[k][idx] = orig - eps
            lm, *_ = loss_fn()
            m.p[k][idx] = orig
            num[idx] = (lp - lm) / (2 * eps)
        denom = max(np.abs(grads[k]).max(), np.abs(num).max(), 1e-8)
        assert np.abs(grads[k] - num).max() / denom < 1e-6, f"grad mismatch: {k}"


def test_numpy_tcnn_learns_synthetic_tree_cost():
    """Training on synthetic trees whose latency is a function of node-type
    counts converges below the loss threshold and correlates >0.99 with
    the ground truth — the A21/A25/A26 chain executes for real."""
    from limeqo_spark.tcnn import NumpyTCNN, collate_trees

    rng = np.random.default_rng(7)
    d = 6

    def rand_tree():
        n = int(rng.integers(2, 9))
        feats = np.zeros((n + 1, d))
        child = np.zeros((n + 1, 2), dtype=np.int64)
        types = rng.integers(0, d, n)
        for i, t in enumerate(types):
            feats[i + 1, t] = 1.0
        for i in range(2, n + 1):  # heap-shaped binary tree
            child[1 + (i - 2) // 2, (i - 2) % 2] = i
        lat = 2.0 * (types == 0).sum() + 0.5 * (types == 1).sum() + 0.3
        return (feats, child), lat

    pairs = [rand_tree() for _ in range(200)]
    trees = collate_trees([p[0] for p in pairs])
    y = np.array([p[1] for p in pairs])
    tid = np.arange(200)
    q = rng.integers(0, 10, 200)
    h = rng.integers(0, 4, 200)
    m = NumpyTCNN(d, 10, 4, rank=2, conv1=32, conv2=16, seed=0)
    m.fit(trees, tid, q, h, y, epochs=400, lr=5e-3)
    assert m.loss_curve[-1] < 1e-2
    pred = m.predict(trees, tid, q, h)
    assert np.corrcoef(pred, y)[0, 1] > 0.99


def test_numpy_tcnn_censored_hinge_respects_cutoffs():
    """Censored samples only constrain from below: after training, the
    model predicts at-or-above the cutoff for censored cells (within 20%
    in log space) without needing their true values."""
    from limeqo_spark.tcnn import NumpyTCNN, dummy_tree

    rng = np.random.default_rng(3)
    b = 400
    q = rng.integers(0, 20, b)
    h = rng.integers(0, 8, b)
    true = np.exp(0.2 * q + 0.1 * h + 0.1 * rng.standard_normal(b))
    cens = rng.random(b) < 0.3
    cuts = np.where(cens, true * 1.2, 0.0)
    m = NumpyTCNN(4, 20, 8, rank=4, conv1=8, conv2=8, seed=0)
    m.fit(
        dummy_tree(4), np.zeros(b, dtype=np.int64), q, h,
        np.where(cens, 0.0, true), cuts, epochs=600, lr=1e-2, stop_loss=1e-3,
    )
    pred = m.predict(dummy_tree(4), np.zeros(b, dtype=np.int64), q, h)
    ok = np.log1p(pred[cens]) >= 0.8 * np.log1p(cuts[cens])
    assert ok.mean() > 0.9, f"only {ok.mean():.2f} of censored cells clear cutoff"


def test_censoring_sensitivity_invariants(reference_dataset):
    """Censoring-sensitivity sweep (reference draw/draw_censor.ipynb): for
    every (alpha, beta) tolerance setting and for the wocensored ablation,
    curves stay monotone non-increasing and inside [opt, default]; the
    censored-aware completer must not lose to the ablation by more than
    noise (full grid artifact: docs/censor_sweep_r3.json)."""
    wl = load_dataset("job")
    finals = {}
    for label, kw in {
        "a0.5_b3": {"alpha": 0.5, "beta": 3.0},
        "a2_b50": {"alpha": 2.0, "beta": 50.0},
        "default": {},
        "wocensored": {"use_censored": False},
    }.items():
        rec = LimeQOStrategy(
            wl, k=8, seed=1, max_rounds=500, time_budget=90.0, **kw
        ).run()
        lat = [r["total_latency"] for r in rec]
        assert all(b <= a + 1e-9 for a, b in zip(lat, lat[1:])), label
        assert wl.opt_time - 1e-6 <= lat[-1] <= wl.default_time + 1e-6, label
        finals[label] = lat[-1]
    assert finals["default"] <= finals["wocensored"] * 1.15


def test_datashift_newquery_reconverges(reference_dataset):
    """Datashift golden (reference experiment/stack-datashift + the
    draw_newquery analysis): explore 80% of JOB, inject the held-out 20%
    with only their defaults observed. The curve must jump UP at injection
    (new defaults join the sum), descend again afterwards (the completer
    extrapolates the new rows from learned hint factors), and stay inside
    [opt, default] of the FULL workload throughout phase 2."""
    from limeqo_spark.datashift import run_datashift

    wl = load_dataset("job")
    res = run_datashift(wl, budget_before=45.0, budget_after=60.0, seed=1)
    lat = [r["total_latency"] for r in res.records]
    ir = res.inject_round
    assert 0 < ir < len(lat)
    assert len(res.holdout_rows) == round(0.2 * wl.matrix.shape[0])
    # phase 1 made progress on the subset
    assert lat[ir - 1] < lat[0]
    # injection raises total latency (the new queries arrive unoptimized)
    assert lat[ir] > lat[ir - 1]
    # and the strategy re-converges on the shifted workload
    assert lat[-1] < lat[ir]
    for v in lat[ir:]:
        assert res.opt_time - 1e-6 <= v <= res.default_time + 1e-6
    # phase-2 curve is monotone non-increasing (observations only improve)
    assert all(b <= a + 1e-9 for a, b in zip(lat[ir:], lat[ir + 1 :]))


def test_limeqo_plus_tcnn_mode_on_job_matrix(reference_dataset):
    """Sim LimeQO+ with model='tcnn' (embeddings-only NumpyTCNN) keeps the
    reference invariants on the JOB matrix: curve bounded by [opt,
    default], monotone non-increasing total latency."""
    from limeqo_spark.strategies import LimeQOPlusStrategy

    wl = load_dataset("job")
    rec = LimeQOPlusStrategy(
        wl, seed=1, max_rounds=30, time_budget=60.0, model="tcnn"
    ).run()
    lat = [r["total_latency"] for r in rec]
    assert all(l2 <= l1 + 1e-9 for l1, l2 in zip(lat, lat[1:]))
    assert wl.opt_time - 1e-6 <= lat[-1] <= wl.default_time + 1e-6
    assert lat[-1] < wl.default_time  # made real progress


def test_limeqo_plus_tcnn_pinned_init_is_deterministic(reference_dataset):
    """With ``net_seed`` pinned, the model='tcnn' run must be bitwise
    deterministic across exploration seeds: the improvement ranking fills
    every batch so the strategy rng never fires (the property the bench's
    CEB LimeQO+ primary config relies on)."""
    from limeqo_spark.strategies import LimeQOPlusStrategy

    wl = load_dataset("job")
    finals = []
    for seed in (1, 2, 3):
        rec = LimeQOPlusStrategy(
            wl, seed=seed, max_rounds=12, time_budget=45.0,
            model="tcnn", net_seed=3,
        ).run()
        finals.append(rec[-1]["total_latency"])
    assert finals[0] == finals[1] == finals[2]


def test_run_experiment_suite(tmp_path, reference_dataset):
    wl = load_dataset("job")
    finals = run_suite(wl, str(tmp_path), ["oracle", "limeqo"], reps=2, budget=90.0)
    assert set(finals) == {"oracle", "limeqo"}
    rec = json.loads((tmp_path / "limeqo_0.json").read_text())
    assert {"training_time", "total_latency", "p99"} <= set(rec[0])
    assert (tmp_path / "summary.csv").exists()
    assert (tmp_path / "result.csv").exists()  # A34 checkpoint table


def test_simulation_parity_vs_baseline_checkpoints(reference_dataset):
    """BENCH track 1 (BASELINE.md): LimeQO on the JOB matrix must land
    within 2x of the published checkpoint curve (reference: 112.4 s total
    workload latency after 90 s exploration; 71.8 s after 720 s)."""
    wl = load_dataset("job")
    checkpoints = {90.0: 112.4, 720.0: 71.8}
    for budget, ref_val in checkpoints.items():
        finals = []
        for seed in (0, 1, 2):
            s = LimeQOStrategy(wl, k=8, seed=seed, time_budget=budget, max_rounds=500)
            finals.append(s.run()[-1]["total_latency"])
        mine = float(np.mean(finals))
        assert mine <= 2 * ref_val, f"budget {budget}: {mine:.1f} vs 2x{ref_val}"
        assert mine < wl.default_time


def test_report_pipeline(tmp_path):
    """A34: checkpoint extraction reproduces the notebooks' interp+mean
    logic on a synthetic two-rep run with a known closed form."""
    from limeqo_spark.report import checkpoint_table, load_runs, write_checkpoint_csv

    for rep, off in enumerate((0.0, 10.0)):
        recs = [
            {"exec_time": t, "total_latency": 100.0 - t + off} for t in (0.0, 20.0, 40.0)
        ]
        (tmp_path / f"demo_{rep}.json").write_text(json.dumps(recs))
    # decoy that the strategy glob must not pick up
    (tmp_path / "demo_plus_0.json").write_text(json.dumps([{"exec_time": 0, "total_latency": 0}]))
    rows = checkpoint_table(str(tmp_path), ["demo", "absent"], [10.0, 30.0, 50.0])
    assert [r["demo"] for r in rows] == [95.0, 75.0, 65.0]  # mean of (100-t, 110-t); clamped at t=40
    assert all(r["absent"] is None for r in rows)
    write_checkpoint_csv(rows, str(tmp_path / "result.csv"))
    assert (tmp_path / "result.csv").read_text().startswith("exploration_time,demo,absent")


def test_run_suite_runs_every_stochastic_strategy_reps_times(tmp_path):
    """Greedy draws hints from its rng, so it runs ``reps`` seeds like
    LimeQO+; the oracle is deterministic and runs once."""
    from limeqo_spark.workload import Workload

    wl = Workload.synthetic_low_rank(n_rows=30, seed=1)
    finals = run_suite(wl, str(tmp_path), ["oracle", "greedy", "limeqo_plus"], reps=3, budget=5.0)
    assert {s: len(v) for s, v in finals.items()} == {"oracle": 1, "greedy": 3, "limeqo_plus": 3}
    for s in ("greedy", "limeqo_plus"):
        files = sorted(p.name for p in tmp_path.glob(f"{s}_[0-9]*.json"))
        assert files == [f"{s}_{rep}.json" for rep in range(3)]


def test_compare_published_closed_form(tmp_path):
    """Two hand-built reps per strategy with linear curves: the comparator
    reports their mean at each published checkpoint within the budget, in
    the published unit, and counts the cells at or better than published
    and within 10% of it."""
    from limeqo_spark.report import compare_published

    def write(name, start, slope, last_t):
        for rep, off in enumerate((0.0, 10.0)):
            recs = [{"exec_time": t, "total_latency": start - slope * t + off}
                    for t in (0.0, last_t)]
            (tmp_path / f"{name}_{rep}.json").write_text(json.dumps(recs))

    write("limeqo", 150.0, 0.5, 200.0)  # mean 155 - t/2
    write("random", 200.0, 0.25, 200.0)  # mean 205 - t/4
    out = compare_published(str(tmp_path), "job", budget=200.0)
    assert [c["exploration"] for c in out["checkpoints"]] == ["45 s", "90 s", "180 s"]
    assert [c["limeqo"] for c in out["checkpoints"]] == [
        {"baseline": 132.1, "ours": 132.5},
        {"baseline": 112.4, "ours": 110.0},
        {"baseline": 99.4, "ours": 65.0},
    ]
    assert [c["random"]["ours"] for c in out["checkpoints"]] == [193.75, 182.5, 160.0]
    assert all(c["greedy"]["ours"] is None for c in out["checkpoints"])
    assert (out["cells"], out["at_or_better_than_baseline"], out["within_10pct"]) == (6, 2, 3)

    # hours: exploration seconds map onto the hour grid, latencies to hours
    write("limeqo", 7200.0, 0.5, 7200.0)  # mean 7205 - t/2 seconds
    out = compare_published(str(tmp_path), "ceb")
    assert [c["limeqo"]["ours"] for c in out["checkpoints"][:2]] == [1.626, 1.251]


def test_report_on_real_experiment(tmp_path, reference_dataset):
    """End-to-end: run_experiment -> report; LimeQO's curve must be
    monotone non-increasing and bounded by [opt, default]."""
    from limeqo_spark.report import checkpoint_table

    wl = load_dataset("job")
    run_suite(wl, str(tmp_path), ["limeqo"], reps=2, budget=180.0)
    rows = checkpoint_table(str(tmp_path), ["limeqo"], [45.0, 90.0, 180.0])
    vals = [r["limeqo"] for r in rows]
    assert all(v is not None for v in vals)
    assert vals == sorted(vals, reverse=True)
    assert wl.opt_time <= vals[-1] <= wl.default_time


def test_live_experiment_cli(tmp_path, spark):
    """A33 live mode: run_live produces the observations Parquet + summary
    with per-query default/best latencies and plan-equivalence savings."""
    from limeqo_spark.run_experiment import run_live

    summary = run_live(
        "/root/testdata/sf0.001",
        str(tmp_path),
        rounds=1,
        k=2,
        timeout_s=120.0,
        queries=["star_5way", "fact_fact"],
    )
    assert set(summary["queries"]) == {"star_5way", "fact_fact"}
    for rec in summary["queries"].values():
        assert rec["default_s"] > 0 and rec["best_s"] <= rec["default_s"]
    assert summary["cells_inherited"] > 0  # plan-hash dedup paid off
    obs = spark.read.parquet(str(tmp_path / "observations"))
    assert obs.count() == summary["cells_measured"] + summary["cells_inherited"]
    assert (tmp_path / "live_summary.json").exists()


def test_stack_dataset_mask_facts_and_missing_matrix(reference_dataset):
    """The reference ships the Stack mask but its matrix CSV is a missing
    large blob: loading must fail with a message that says so, and the
    mask itself must match the published facts (BASELINE.md: 6191x49,
    ~11% density, default column fully observed)."""
    import numpy as np
    import pytest

    from limeqo_spark.run_experiment import load_dataset

    with pytest.raises(FileNotFoundError, match="missing large blob"):
        load_dataset("stack")
    m = np.load(f"{reference_dataset}/init_stack_mask.npy")
    assert m.shape == (6191, 49)
    assert (m[:, 0] == 1).all()
    assert 0.09 < m.mean() < 0.13


def test_load_dataset_names_the_absent_directory(tmp_path, monkeypatch):
    """Without the reference directory every dataset fails with the same
    reason the ``reference_dataset`` fixture skips with; with the directory
    present but a matrix missing, the message names that matrix, and only
    ``stack`` claims the missing-blob reason."""
    from limeqo_spark import run_experiment

    absent = tmp_path / "dataset"
    monkeypatch.setattr(run_experiment, "REFERENCE_DATASET_DIR", str(absent))
    with pytest.raises(FileNotFoundError) as err:
        load_dataset("job")
    assert str(err.value) == f"reference dataset absent: no directory {absent}"

    absent.mkdir()
    with pytest.raises(FileNotFoundError) as err:
        load_dataset("job")
    assert "job-matrix.csv" in str(err.value)
    assert "stack" not in str(err.value)
    with pytest.raises(FileNotFoundError, match="missing large blob"):
        load_dataset("stack")
