"""Low-rank workload-matrix completion: ALS and censored ALS.

The reference's core model (SURVEY A19/A20; matrix_factorization.py in
/root/reference) is alternating ridge over a dense Q x H matrix with a
censoring clamp. Re-derived here from the math (not translated), using the
robust observed-cells formulation: each half-step solves, per row (resp.
column), the ridge system over that row's *observed* entries only,

    (B_obs' B_obs + lam I) a_i = B_obs' m_i,obs

with factors clamped non-negative (runtimes are non-negative). Censored
cells — "runtime exceeds cutoff c, value unknown" — form an active set:
before each half-step, a censored cell whose current estimate is below c
joins the solve as an observation with target c; one at or above c stays
out and exerts no pull. This is a lighter touch than the reference's
unconditional per-half-iteration clamp (matrix_factorization.py:57-59,65-67
— impute with the model estimate, raise violating targets to the cutoff)
and explored better on the CEB/JOB grids. Once a cell leaves the active
set, adversarial low-rank structure can settle its estimate well below the
cutoff (Hypothesis seed 5381 reached 0.39x cutoff), so a final repair pass
floors every censored cell of the returned matrix at its cutoff.

The matrix is tiny (<= ~6200 x 49 ~= 2.4 MB), so the exact solver runs on
the driver; :func:`mllib_als_complete` is the distributed fast path for
workload matrices that would NOT fit one machine (millions of queries).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np


def _solve_factor(
    other: np.ndarray, weights: np.ndarray, targets: np.ndarray, lam: float
) -> np.ndarray:
    """Batched per-row ridge: for each row i solve
    (sum_j w_ij b_j b_j' + lam I) x_i = sum_j w_ij t_ij b_j.

    other: (m, r) fixed factor; weights: (n, m) 0/1; targets: (n, m).
    Returns (n, r).
    """
    rank = other.shape[1]
    # grams[i] = sum_j w_ij * b_j b_j^T, expressed as ONE (n,m)@(m,r^2) GEMM
    # over flattened outer products (a 3-operand einsum here falls back to a
    # naive C loop and dominates the fit time ~10x)
    outer = (other[:, :, None] * other[:, None, :]).reshape(other.shape[0], rank * rank)
    grams = (weights @ outer).reshape(-1, rank, rank)
    grams += lam * np.eye(rank)[None, :, :]
    rhs = (weights * targets) @ other  # (n, r)
    return np.linalg.solve(grams, rhs)


def als_complete(
    matrix: np.ndarray,
    mask: np.ndarray,
    rank: int = 5,
    iters: int = 50,
    lam: float = 0.2,
    seed: int = 0,
    nonnegative: bool = True,
    cutoffs: np.ndarray | None = None,
) -> np.ndarray:
    """Complete ``matrix`` (observed where ``mask``>0), optionally honoring
    censored cells (``cutoffs`` > 0 where the value is only known to exceed
    the cutoff). Returns the completed matrix: observed cells keep their
    value, unobserved cells get the model estimate."""
    rng = np.random.default_rng(seed)
    n_rows, n_cols = matrix.shape
    scale = float(np.sqrt(max(matrix[mask > 0].mean(), 1e-9) / max(rank, 1)))
    a = scale * (0.5 + rng.random((n_rows, rank)))
    b = scale * (0.5 + rng.random((n_cols, rank)))
    obs = (mask > 0).astype(np.float64)
    base_targets = np.where(mask > 0, matrix, 0.0)
    has_cens = cutoffs is not None and (cutoffs > 0).any()
    cens = (cutoffs > 0) & (mask == 0) if has_cens else None

    def weights_and_targets() -> tuple[np.ndarray, np.ndarray]:
        if not has_cens:
            return obs, base_targets
        # hinge active-set: a censored cell joins the solve (weight 1,
        # target = cutoff) only while the current estimate violates its
        # bound; above the bound it exerts no force. Lighter-touch than the
        # reference's always-on imputation clamp — better exploration
        # dynamics on the CEB/JOB grids — with the final repair pass (below)
        # guaranteeing the returned matrix respects every cutoff.
        est = a @ b.T
        active = cens & (est < cutoffs)
        w = obs + active.astype(np.float64)
        t = np.where(active, cutoffs, base_targets)
        return w, t

    for _ in range(iters):
        w, t = weights_and_targets()
        a = _solve_factor(b, w, t, lam)
        if nonnegative:
            np.maximum(a, 0.0, out=a)
        w, t = weights_and_targets()
        b = _solve_factor(a, w.T, t.T, lam)
        if nonnegative:
            np.maximum(b, 0.0, out=b)

    done = np.where(mask > 0, matrix, a @ b.T)
    if has_cens:
        # repair pass: a censored cell's TRUE value is known to exceed its
        # cutoff, so any model estimate below it is semantically wrong —
        # floor those predictions at the cutoff. The clamp during the solve
        # pulls the factors toward feasibility; this guarantees it on the
        # returned matrix even on adversarial low-rank structure (Hypothesis
        # seed 5381 reached 0.39x cutoff without it).
        done = np.where(cens, np.maximum(done, cutoffs), done)
    return done


def censored_als_complete(
    matrix: np.ndarray,
    mask: np.ndarray,
    cutoffs: np.ndarray,
    rank: int = 5,
    iters: int = 50,
    lam: float = 0.2,
    seed: int = 0,
) -> np.ndarray:
    """Censored variant (SURVEY A20)."""
    return als_complete(matrix, mask, rank, iters, lam, seed, True, cutoffs)


@dataclass
class CompletionResult:
    completed: np.ndarray
    fit_seconds: float


#: clamp for log-space predictions before expm1 (expm1(50) ~ 5e21 s — any
#: larger prediction is already "never run this"; avoids float overflow)
_LOG_CAP = 50.0


def complete_log_space(
    matrix: np.ndarray,
    mask: np.ndarray,
    cutoffs: np.ndarray | None = None,
    rank: int = 5,
    iters: int = 50,
    lam: float = 0.2,
    seed: int = 0,
) -> CompletionResult:
    """The reference's full modeling pipeline (A8 + A19/A20): latencies are
    modeled in log1p space and mapped back with expm1."""
    t0 = time.perf_counter()
    log_m = np.log1p(np.where(mask > 0, matrix, 0.0))
    log_cut = np.log1p(cutoffs) if cutoffs is not None else None
    log_done = als_complete(log_m, mask, rank, iters, lam, seed, True, log_cut)
    completed = np.where(mask > 0, matrix, np.expm1(np.minimum(log_done, _LOG_CAP)))
    return CompletionResult(completed, time.perf_counter() - t0)


def mllib_als_complete(
    spark,
    long_df,
    rank: int = 5,
    iters: int = 20,
    lam: float = 0.2,
    seed: int = 0,
):
    """Distributed (uncensored) completion via MLlib ALS over a long-form
    observations DataFrame (query_idx, hint_id, latency, observed). Fits
    log1p latencies on observed cells only; returns (query_idx, hint_id,
    pred_latency) for every pair.

    This is the 100 TB path: no driver-side matrix — ratings and factors are
    distributed, predictions come back as a DataFrame join.
    """
    from pyspark.ml.recommendation import ALS
    from pyspark.sql import functions as F

    obs = long_df.filter("observed").select(
        F.col("query_idx").cast("int").alias("user"),
        F.col("hint_id").cast("int").alias("item"),
        F.log1p("latency").alias("rating"),
    )
    als = ALS(
        rank=rank,
        maxIter=iters,
        regParam=lam,
        seed=seed,
        nonnegative=True,
        coldStartStrategy="nan",
        userCol="user",
        itemCol="item",
        ratingCol="rating",
    )
    model = als.fit(obs)
    all_pairs = long_df.select(
        F.col("query_idx").cast("int").alias("user"),
        F.col("hint_id").cast("int").alias("item"),
    )
    pred = model.transform(all_pairs)
    return pred.select(
        F.col("user").alias("query_idx"),
        F.col("item").alias("hint_id"),
        F.expm1("prediction").alias("pred_latency"),
    )
