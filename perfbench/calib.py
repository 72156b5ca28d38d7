"""Speed calibration of the sim track: processor seconds at a reference
host's speed.

On a shared virtual machine the processor time of the same single-threaded
NumPy work moved by up to 70% from one minute to the next, and by a third
between calls seconds apart, with what the other tenants of the host ran:
the vCPUs are not taken away (that would be steal), they run slower. The
sim track therefore times a fixed reference kernel just before and just
after each strategy run, in the same thread, and reports the run's
processor time in units of the mean of the two, scaled by ``REF_S``: what
the run would have taken on the reference host.

The kernel is censored-ALS matrix completion in NumPy on a fixed 3133x49
matrix, the same half-step arithmetic the strategies spend their time in.
It lives here, not in the engine, so a faster engine leaves it unchanged.
The Spark workloads are not calibrated: neither this kernel nor a fixed
plain-Spark job, timed between their units, tracked the JVM's processor
time; either calibration spread their runs wider than none.
"""

from __future__ import annotations

import time

import numpy as np

#: alternating half-step pairs per kernel call
ITERS = 25
#: processor seconds of one kernel call on the reference host (4-vCPU
#: Intel Xeon, one OpenBLAS thread); the unit the calibrated times are in
REF_S = 0.25
SHAPE = (3133, 49)
RANK = 5


def kernel_inputs() -> tuple[np.ndarray, ...]:
    """Log-space targets, observed weights, censored cells and their log
    cutoffs of a fixed low-rank matrix: 10% of the cells observed, 5% of
    the others censored at half their value."""
    rng = np.random.default_rng(0)
    latency = np.expm1(rng.random((SHAPE[0], RANK)) @ rng.random((RANK, SHAPE[1])))
    observed = rng.random(SHAPE) < 0.1
    observed[:, 0] = True
    cens = ~observed & (rng.random(SHAPE) < 0.05)
    log_m = np.log1p(np.where(observed, latency, 0.0))
    log_cut = np.where(cens, np.log1p(0.5 * latency), 0.0)
    return log_m, observed.astype(np.float64), cens, log_cut


def _half_step(other: np.ndarray, w: np.ndarray, t: np.ndarray, lam: float = 0.2) -> np.ndarray:
    outer = (other[:, :, None] * other[:, None, :]).reshape(other.shape[0], RANK * RANK)
    grams = (w @ outer).reshape(-1, RANK, RANK) + lam * np.eye(RANK)[None, :, :]
    x = np.linalg.solve(grams, (w * t) @ other)
    np.maximum(x, 0.0, out=x)
    return x


def kernel_cpu_s(inputs: tuple[np.ndarray, ...]) -> float:
    """Run the kernel once; return the processor time it took."""
    log_m, obs, cens, log_cut = inputs
    t0 = time.process_time()
    rng = np.random.default_rng(0)
    a = 0.5 + rng.random((SHAPE[0], RANK))
    b = 0.5 + rng.random((SHAPE[1], RANK))
    for _ in range(ITERS):
        active = cens & (a @ b.T < log_cut)
        a = _half_step(b, obs + active, np.where(active, log_cut, log_m))
        active = cens & (a @ b.T < log_cut)
        b = _half_step(a, (obs + active).T, np.where(active, log_cut, log_m).T)
    done = np.where(obs > 0, log_m, a @ b.T)
    np.expm1(np.where(cens, np.maximum(done, log_cut), done))
    return time.process_time() - t0
