"""Solver property tests (SURVEY §5.2.3)."""

from __future__ import annotations

import numpy as np
import pytest

from limeqo_spark.complete import als_complete, complete_log_space
from limeqo_spark.workload import Workload


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
