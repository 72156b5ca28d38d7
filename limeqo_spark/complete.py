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

Each half-step solves all n rows' (resp. columns') systems at once:

- Grams packed as upper triangles: the r(r+1)/2 products b_k b_l (15 at
  rank 5) of each fixed-side vector, in one GEMM against the observed
  0/1 weights, and the right-hand sides in one GEMM against the observed
  targets. Both, and their transposes, are laid out once per fit.
- Censored cells as a sparse correction: the estimate is taken at the
  censored cells only, and each active cell adds its outer product and
  its cutoff target into its row's system.
- One batched LDL' elimination over a (rank, rank + 1, n) array whose
  entries are vectors over the n systems: O(rank^2) NumPy calls per
  half-step and no LAPACK call per system. Every system is SPD because
  lam > 0, so no pivoting is needed.

Measured on a 4-vCPU Xeon with one OpenBLAS thread: a rank-5 fit of the
sim track's 3133 x 49 matrix takes about 0.11 s against 0.21 s for the
dense per-row solve it replaced (traced ``complete.fit_s`` over 5 fits,
0.555 s against 1.055 s). A 4 x 49 fit takes about 7.5 ms against 3.8 ms:
at that size the cost is NumPy call overhead, not arithmetic.

The matrix is tiny (<= ~6200 x 49 ~= 2.4 MB), so the exact solver runs on
the driver; :func:`mllib_als_complete` is the distributed fast path for
workload matrices that would NOT fit one machine (millions of queries).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np


def _layout(rank: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Index tables of the batched solve at ``rank``: the Grams are packed
    as their upper triangles, (up_i[p], up_j[p]) for packed entry p, and
    followed by the right-hand sides; ``lookup`` (rank, rank + 1) is the
    row of that stack holding each entry of the augmented system [G | rhs].
    """
    up_i, up_j = np.triu_indices(rank)
    lookup = np.empty((rank, rank + 1), dtype=np.intp)
    lookup[up_i, up_j] = lookup[up_j, up_i] = np.arange(len(up_i))
    lookup[:, rank] = len(up_i) + np.arange(rank)
    return up_i, up_j, lookup


def _censored_cells(
    sys_idx: np.ndarray, other_idx: np.ndarray, cut: np.ndarray
) -> tuple[np.ndarray, ...]:
    """Censored cells sorted by the system (row or column) they belong to:
    (system, other index, cutoff, first cell of each system's run, that
    system)."""
    order = np.argsort(sys_idx, kind="stable")
    rows, cols, cut = sys_idx[order], other_idx[order], cut[order]
    first = np.flatnonzero(np.diff(rows, prepend=-1))
    return rows, cols, cut, first, rows[first]


def _half_step(
    x: np.ndarray,
    other: np.ndarray,
    weights: np.ndarray,
    weighted: np.ndarray,
    cens: tuple[np.ndarray, ...] | None,
    lam: float,
    layout: tuple[np.ndarray, np.ndarray, np.ndarray],
) -> np.ndarray:
    """One ridge half-step for all n systems at once: system i solves
    (sum_j w_ij o_j o_j' + lam I) x_i = sum_j w_ij t_ij o_j, and the
    solution is clamped at 0.

    ``x`` (r, n) is the side being solved, at its current value (it only
    decides which censored cells are active); ``other`` (r, m) is the fixed
    side. ``weights`` (m, n) holds the observed 0/1 weights and ``weighted``
    (m, n) the observed weights times their targets. ``cens`` is
    :func:`_censored_cells` of the censored cells or None, ``layout`` is
    :func:`_layout` of the rank. Returns the new (r, n) factor.
    """
    rank, n = x.shape
    up_i, up_j, lookup = layout
    packed = len(up_i)
    # per-cell terms: packed outer products o_j o_j', then o_j itself
    terms = np.concatenate([other[up_i] * other[up_j], other])
    q = np.empty((packed + rank, n))
    np.matmul(terms[:packed], weights, out=q[:packed])
    np.matmul(other, weighted, out=q[packed:])
    if cens is not None:
        # hinge active-set: a censored cell joins the solve (weight 1,
        # target = cutoff) only while the current estimate violates its
        # bound; above the bound it exerts no force. Lighter-touch than the
        # reference's always-on imputation clamp — better exploration
        # dynamics on the CEB/JOB grids — with the final repair pass
        # guaranteeing the returned matrix respects every cutoff.
        rows, cols, cut, first, first_rows = cens
        active = np.einsum("kc,kc->c", x[:, rows], other[:, cols]) < cut
        extra = terms[:, cols] * active
        extra[packed:] *= cut
        q[:, first_rows] += np.add.reduceat(extra, first, axis=1)
    # LDL' elimination of all n systems at once, each entry a vector over
    # the systems: row i of U = D L' is a_i minus the multiples of the rows
    # above it, then back substitution. No pivoting is needed because every
    # system is SPD (lam > 0).
    aug = q[lookup]
    # a view of the entries (i, i): every (rank + 2)-th of the flattened rows
    diag = aug.reshape(rank * (rank + 1), n)[:: rank + 2]
    diag += lam
    for i in range(1, rank):
        f = aug[:i, i] / diag[:i]
        aug[i, i:] -= np.einsum("pn,pjn->jn", f, aug[:i, i:])
    out = aug[:, rank].copy()
    for j in range(rank - 1, 0, -1):
        out[j] /= diag[j]
        out[:j] -= aug[:j, j] * out[j]
    out[0] /= diag[0]
    np.maximum(out, 0.0, out=out)
    return out


def als_complete(
    matrix: np.ndarray,
    mask: np.ndarray,
    rank: int = 5,
    iters: int = 50,
    lam: float = 0.2,
    seed: int = 0,
    cutoffs: np.ndarray | None = None,
) -> np.ndarray:
    """Complete ``matrix`` (observed where ``mask``>0), optionally honoring
    censored cells (``cutoffs`` > 0 where the value is only known to exceed
    the cutoff). Returns the completed matrix: observed cells keep their
    value, unobserved cells get the model estimate. ``lam`` must be > 0."""
    if not lam > 0:
        raise ValueError(f"als_complete needs lam > 0 (its systems must be SPD), got lam={lam!r}")
    rng = np.random.default_rng(seed)
    n_rows, n_cols = matrix.shape
    scale = float(np.sqrt(max(matrix[mask > 0].mean(), 1e-9) / max(rank, 1)))
    # factors are kept transposed, (rank, n): each factor entry is a
    # contiguous vector over rows for the batched solve
    a = (scale * (0.5 + rng.random((n_rows, rank)))).T.copy()
    b = (scale * (0.5 + rng.random((n_cols, rank)))).T.copy()
    obs = (mask > 0).astype(np.float64)
    weighted = np.where(mask > 0, matrix, 0.0)
    obs_t, weighted_t = obs.T.copy(), weighted.T.copy()
    cens = (cutoffs > 0) & (mask == 0) if cutoffs is not None else None
    by_row = by_col = None
    if cens is not None and cens.any():
        ci, cj = np.nonzero(cens)
        cut = cutoffs[ci, cj]
        by_row = _censored_cells(ci, cj, cut)
        by_col = _censored_cells(cj, ci, cut)

    layout = _layout(rank)
    for _ in range(iters):
        a = _half_step(a, b, obs_t, weighted_t, by_row, lam, layout)
        b = _half_step(b, a, obs, weighted, by_col, lam, layout)

    done = np.where(mask > 0, matrix, a.T @ b)
    if by_row is not None:
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
    return als_complete(matrix, mask, rank, iters, lam, seed, cutoffs)


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
    log_done = als_complete(log_m, mask, rank, iters, lam, seed, log_cut)
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
