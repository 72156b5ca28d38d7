"""Solver property tests (SURVEY §5.2.3)."""

from __future__ import annotations

import numpy as np
import pytest

from limeqo_spark import complete
from limeqo_spark.complete import als_complete, complete_log_space
from limeqo_spark.strategies import LimeQOPlusStrategy, LimeQOStrategy
from limeqo_spark.workload import Workload


def _reference_solve_factor(
    other: np.ndarray, weights: np.ndarray, targets: np.ndarray, lam: float
) -> np.ndarray:
    """Batched per-row ridge with one LAPACK solve per row: for each row i
    solve (sum_j w_ij b_j b_j' + lam I) x_i = sum_j w_ij t_ij b_j.
    other: (m, r); weights, targets: (n, m). Returns (n, r)."""
    rank = other.shape[1]
    outer = (other[:, :, None] * other[:, None, :]).reshape(other.shape[0], rank * rank)
    grams = (weights @ outer).reshape(-1, rank, rank)
    grams += lam * np.eye(rank)[None, :, :]
    rhs = (weights * targets) @ other
    return np.linalg.solve(grams, rhs)


def _reference_als_complete(matrix, mask, rank=5, iters=50, lam=0.2, seed=0, cutoffs=None):
    """The dense censored-ALS loop ``als_complete`` must reproduce: dense
    n x m weights and targets rebuilt before every half-step, full r x r
    Grams and a per-row solve. Same RNG draws, a-then-b order, clamp,
    active-set rule and repair pass."""
    rng = np.random.default_rng(seed)
    n_rows, n_cols = matrix.shape
    scale = float(np.sqrt(max(matrix[mask > 0].mean(), 1e-9) / max(rank, 1)))
    a = scale * (0.5 + rng.random((n_rows, rank)))
    b = scale * (0.5 + rng.random((n_cols, rank)))
    obs = (mask > 0).astype(np.float64)
    base_targets = np.where(mask > 0, matrix, 0.0)
    has_cens = cutoffs is not None and (cutoffs > 0).any()
    cens = (cutoffs > 0) & (mask == 0) if has_cens else None

    def weights_and_targets():
        if not has_cens:
            return obs, base_targets
        active = cens & (a @ b.T < cutoffs)
        return obs + active.astype(np.float64), np.where(active, cutoffs, base_targets)

    for _ in range(iters):
        w, t = weights_and_targets()
        a = np.maximum(_reference_solve_factor(b, w, t, lam), 0.0)
        w, t = weights_and_targets()
        b = np.maximum(_reference_solve_factor(a, w.T, t.T, lam), 0.0)
    done = np.where(mask > 0, matrix, a @ b.T)
    if has_cens:
        done = np.where(cens, np.maximum(done, cutoffs), done)
    return done


def _log_space_inputs(n_rows: int, censored: bool):
    """Log1p latencies, mask and log1p cutoffs as ``complete_log_space``
    hands them to ``als_complete``: a low-rank log-latency matrix plus
    full-rank noise, half its cells observed (hint 0 always), and 20% of
    the others censored at 0.3-2x their true latency."""
    rng = np.random.default_rng([0, n_rows])
    n_cols = 49
    log_lat = (
        rng.normal(0.3, 1.2, n_rows)[:, None]
        + rng.normal(0.0, 0.45, (n_rows, 4)) @ rng.normal(0.0, 1.0, (4, n_cols))
        + rng.normal(0.0, 1.0, (n_rows, n_cols))
    )
    latency = np.exp(log_lat)
    mask = (rng.random((n_rows, n_cols)) < 0.5).astype(np.float64)
    mask[:, 0] = 1.0
    cutoffs = None
    if censored:
        cens = (mask == 0) & (rng.random((n_rows, n_cols)) < 0.2)
        cutoffs = np.log1p(np.where(cens, latency * rng.uniform(0.3, 2.0, latency.shape), 0.0))
    return np.log1p(np.where(mask > 0, latency, 0.0)), mask, cutoffs


@pytest.mark.parametrize("censored", [False, True], ids=["plain", "censored"])
@pytest.mark.parametrize("lam", [0.01, 0.2])
@pytest.mark.parametrize("rank", [1, 3, 5, 8])
@pytest.mark.parametrize("n_rows", [4, 113, 3133])
def test_als_matches_dense_reference(n_rows, rank, lam, censored):
    """The packed-Gram, batched-elimination, sparse-correction solver gives
    the dense per-row-solve loop's completion to 1e-9 in log space.

    The comparison is only meaningful where the fit is well-conditioned:
    at lam 0.01 and rank >= 5 some inputs (4 x 49 at several seeds, 113 x 49
    at 10% density) move the reference itself by 1e-8 to O(1) when they are
    scaled by 1 + 1e-15, so no reordering of its arithmetic can match it
    there. The first assertion checks that the reference reproduces itself
    to the same 1e-9 on these inputs."""
    log_m, mask, log_cut = _log_space_inputs(n_rows, censored)
    want = _reference_als_complete(log_m, mask, rank, 50, lam, 3, log_cut)
    nudged = _reference_als_complete(log_m * (1 + 1e-15), mask, rank, 50, lam, 3, log_cut)
    assert np.abs(nudged - want).max() < 1e-9, "input too ill-conditioned to compare"
    got = als_complete(log_m, mask, rank, 50, lam, 3, log_cut)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)


@pytest.mark.parametrize("lam", [0.0, -0.1])
def test_als_rejects_non_positive_lam(lam):
    log_m, mask, _ = _log_space_inputs(4, False)
    with pytest.raises(ValueError, match=f"lam={lam!r}"):
        als_complete(log_m, mask, lam=lam)


def _strategy_runs() -> list[tuple[np.ndarray, np.ndarray, list[dict]]]:
    """Explored mask, cutoffs and records (timings dropped) of LimeQO (k=8,
    2 rounds) and LimeQO+ (1 round) on the seed-1 synthetic workload."""
    out = []
    for cls, kw in ((LimeQOStrategy, {"k": 8, "max_rounds": 2}), (LimeQOPlusStrategy, {"max_rounds": 1})):
        strat = cls(Workload.synthetic_low_rank(seed=1), seed=0, time_budget=None, **kw)
        records = [
            {k: v for k, v in r.items() if k not in ("training_time", "inference_time")}
            for r in strat.run()
        ]
        out.append((strat.state.mask.copy(), strat.state.cutoffs.copy(), records))
    return out


def test_strategies_explore_the_same_cells_as_with_the_dense_reference(monkeypatch):
    got = _strategy_runs()
    monkeypatch.setattr(complete, "als_complete", _reference_als_complete)
    want = _strategy_runs()
    for (mask, cuts, records), (ref_mask, ref_cuts, ref_records) in zip(got, want):
        np.testing.assert_array_equal(mask, ref_mask)
        # a censored cell's cutoff comes from the model's prediction
        np.testing.assert_allclose(cuts, ref_cuts, rtol=1e-12, atol=0)
        assert records == ref_records


def test_als_recovers_low_rank_matrix():
    """(a) exact low-rank matrix, enough observations to be well-posed
    (density 0.3 => ~2900 obs vs ~750 params at rank 3) -> held-out RMSE
    near zero."""
    wl = Workload.synthetic_low_rank(
        n_rows=200, n_cols=49, rank=3, noise=0.0, seed=7, density=0.3
    )
    done = als_complete(wl.matrix, wl.mask, rank=3, iters=60, lam=0.01, seed=1)
    held_out = wl.mask == 0
    rmse = float(np.sqrt(np.mean((done[held_out] - wl.matrix[held_out]) ** 2)))
    scale = float(np.mean(np.abs(wl.matrix[held_out])))
    assert rmse / scale < 0.05, f"relative RMSE {rmse/scale:.3f}"


def test_censored_als_respects_cutoffs():
    """(b) censored cells: predictions must not sit (far) below active
    cutoffs — the censoring clamp pulls imputations up."""
    wl = Workload.synthetic_low_rank(n_rows=120, n_cols=20, rank=3, noise=0.05, seed=3)
    rng = np.random.default_rng(0)
    cutoffs = np.zeros_like(wl.matrix)
    cens = (rng.random(wl.matrix.shape) < 0.05) & (wl.mask == 0)
    # censor at 2x the true value: the solver only knows "latency > cutoff"
    cutoffs[cens] = wl.matrix[cens] * 2.0
    done = als_complete(wl.matrix, wl.mask, rank=4, iters=60, lam=0.05, seed=2, cutoffs=cutoffs)
    viol = done[cens] < cutoffs[cens] * 0.7  # allow solver slack
    assert viol.mean() < 0.25, f"{viol.mean():.2%} of censored cells far below cutoff"


def test_log_space_pipeline_preserves_observed():
    wl = Workload.synthetic_low_rank(seed=11)
    res = complete_log_space(wl.matrix, wl.mask, rank=4, iters=30)
    obs = wl.mask > 0
    np.testing.assert_allclose(res.completed[obs], wl.matrix[obs])
    assert (res.completed >= 0).all()


@pytest.mark.parametrize("ds", ["job"])
def test_reference_matrix_loads_and_completes(ds, reference_dataset):
    """(c) smoke on the reference's own shipped matrix (smallest: JOB)."""
    wl = Workload.from_reference(
        f"{reference_dataset}/{ds}-matrix.csv",
        f"{reference_dataset}/init_{ds}_mask.npy",
    )
    assert wl.matrix.shape == (113, 49)
    assert wl.mask[:, 0].all(), "default plan column must be fully observed"
    assert wl.opt_time < wl.default_time
    res = complete_log_space(wl.matrix, wl.mask, rank=5, iters=50)
    assert np.isfinite(res.completed).all()
    assert (res.completed >= 0).all()


def test_mllib_als_complete_distributed_path(spark):
    """The 100 TB completion path: MLlib ALS over a long-form observations
    DataFrame. On a synthetic low-rank workload it must predict every
    (query, hint) pair with held-out log-RMSE comparable to the driver
    solver, without any driver-side matrix."""
    from pyspark.sql import functions as F

    from limeqo_spark.complete import mllib_als_complete

    wl = Workload.synthetic_low_rank(n_rows=120, n_cols=20, rank=3, seed=3, density=0.35)
    rows = [
        (int(i), int(j), float(wl.matrix[i, j]), bool(wl.mask[i, j] > 0))
        for i in range(wl.matrix.shape[0])
        for j in range(wl.matrix.shape[1])
    ]
    long_df = spark.createDataFrame(
        rows, "query_idx int, hint_id int, latency double, observed boolean"
    )
    pred = mllib_als_complete(spark, long_df, rank=4, iters=15, seed=7)
    got = {
        (r["query_idx"], r["hint_id"]): r["pred_latency"] for r in pred.collect()
    }
    assert len(got) == wl.matrix.size, "every pair must receive a prediction"
    held = [
        (i, j)
        for i in range(wl.matrix.shape[0])
        for j in range(wl.matrix.shape[1])
        if wl.mask[i, j] == 0
    ]
    import numpy as _np

    errs = [
        _np.log1p(max(got[(i, j)], 0.0)) - _np.log1p(wl.matrix[i, j])
        for (i, j) in held
        if got[(i, j)] == got[(i, j)]  # cold-start NaNs excluded
    ]
    assert len(errs) > 0.9 * len(held), "cold-start strategy dropped too many pairs"
    rmse = float(_np.sqrt(_np.mean(_np.square(errs))))
    assert rmse < 0.5, f"distributed completion log-RMSE {rmse:.3f}"
