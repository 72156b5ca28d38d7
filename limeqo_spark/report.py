"""Figure/report pipeline (SURVEY A34): turn per-round metric JSONs from
:mod:`limeqo_spark.run_experiment` into the reference's summary artifacts —
runs interpolated onto a common exploration-time grid, mean +/- std bands,
and the checkpoint table shape of ``result/{ds}.csv``.

Re-derivation of the logic in the reference's ``draw/draw_*_fig1.ipynb``
notebooks (cells 2-7: load result JSONs, ``interp1d`` onto a shared grid,
average the 20 runs, extract checkpoints) as a plain library + CLI instead
of notebooks. Curves are (exec_time -> total_latency); total_latency is a
step function that only drops at observation events, so like the reference
we linearly interpolate between recorded rounds.
"""

from __future__ import annotations

import argparse
import csv
import glob
import json
import os
import re
from dataclasses import dataclass

import numpy as np


@dataclass
class Curve:
    """One strategy's averaged exploration curve on a common time grid."""

    strategy: str
    grid: np.ndarray  # exploration seconds
    mean: np.ndarray  # mean total workload latency across reps
    std: np.ndarray
    n_reps: int


def load_runs(exp_dir: str, strategy: str) -> list[list[dict]]:
    """All reps' metric records for one strategy (``{strategy}_{rep}.json``)."""
    runs = []
    for path in sorted(glob.glob(os.path.join(exp_dir, f"{strategy}_*.json"))):
        if not re.fullmatch(rf"{re.escape(strategy)}_\d+\.json", os.path.basename(path)):
            continue  # don't let 'limeqo' glob up 'limeqo_plus' files
        with open(path) as f:
            runs.append(json.load(f))
    return runs


def interp_run(records: list[dict], grid: np.ndarray) -> np.ndarray:
    """One run's total_latency sampled at each grid time. Outside the
    recorded range np.interp clamps to the end values, matching the
    notebooks' treatment of runs that stop early (converged runs hold
    their final latency)."""
    x = np.asarray([r["exec_time"] for r in records], dtype=np.float64)
    y = np.asarray([r["total_latency"] for r in records], dtype=np.float64)
    order = np.argsort(x, kind="stable")
    return np.interp(grid, x[order], y[order])


def curve(exp_dir: str, strategy: str, grid: np.ndarray) -> Curve | None:
    runs = load_runs(exp_dir, strategy)
    if not runs:
        return None
    ys = np.stack([interp_run(r, grid) for r in runs])
    return Curve(strategy, grid, ys.mean(axis=0), ys.std(axis=0), len(runs))


def checkpoint_table(
    exp_dir: str, strategies: list[str], checkpoints: list[float]
) -> list[dict]:
    """The ``result/{ds}.csv`` shape: one row per checkpoint time, one
    column per strategy, cell = mean total workload latency at that much
    exploration (draw_ceb_fig1.ipynb cell 7)."""
    grid = np.asarray(checkpoints, dtype=np.float64)
    curves = {s: curve(exp_dir, s, grid) for s in strategies}
    rows = []
    for idx, t in enumerate(checkpoints):
        row: dict = {"exploration_time": t}
        for s, c in curves.items():
            row[s] = float(c.mean[idx]) if c is not None else None
        rows.append(row)
    return rows


#: the published checkpoint tables (BASELINE.md §curves; the reference's
#: result/{ds}.csv): mean total workload latency, in ``unit``, after
#: ``grid`` exploration
PUBLISHED = {
    "job": {  # seconds
        "unit": "s",
        "grid": [45, 90, 180, 360, 720],
        "random": [151.5, 138.4, 119.2, 89.9, 73.8],
        "greedy": [143.9, 120.4, 96.8, 81.8, 73.2],
        "limeqo": [132.1, 112.4, 99.4, 85.3, 71.8],
        "limeqo_plus": [128.2, 109.3, 92.3, 81.8, 73.6],
    },
    "ceb": {  # hours
        "unit": "h",
        "grid": [0.75, 1.5, 3, 6, 12],
        "random": [2.535, 2.212, 1.783, 1.321, 1.111],
        "greedy": [1.994, 1.589, 1.325, 1.203, 1.123],
        "limeqo": [1.615, 1.431, 1.302, 1.172, 1.081],
        "limeqo_plus": [1.293, 1.193, 1.145, 1.100, 1.060],
    },
    "dsb": {  # hours
        "unit": "h",
        "grid": [1.19, 2.38, 4.75, 7.5, 15],
        "random": [4.356, 4.108, 3.728, 3.427, 3.022],
        "greedy": [4.282, 3.817, 3.419, 3.237, 3.054],
        "limeqo": [3.822, 3.434, 3.230, 3.136, 3.038],
        "limeqo_plus": [3.407, 3.359, 3.273, 3.193, 2.916],
    },
}
#: the strategies each published table has a column for
PUBLISHED_STRATEGIES = ("random", "greedy", "limeqo", "limeqo_plus")
#: seconds per published unit
UNIT_S = {"s": 1.0, "h": 3600.0}


def compare_published(exp_dir: str, dataset: str, budget: float | None = None) -> dict:
    """Our runs in ``exp_dir`` against the published table of ``dataset`` at
    each checkpoint they reached (at most ``budget`` seconds; all when
    None), in the published unit, with the number of cells at or better
    than published and within 10% of it."""
    spec = PUBLISHED[dataset]
    to_s = UNIT_S[spec["unit"]]
    grid_s = [c * to_s for c in spec["grid"] if budget is None or c * to_s <= budget]
    rows = checkpoint_table(exp_dir, list(PUBLISHED_STRATEGIES), grid_s)
    table = []
    for i, row in enumerate(rows):
        cell = {"exploration": f"{spec['grid'][i]} {spec['unit']}"}
        for s in PUBLISHED_STRATEGIES:
            ours = row[s]
            cell[s] = {
                "baseline": spec[s][i],
                "ours": None if ours is None else round(ours / to_s, 3),
            }
        table.append(cell)
    flat = [
        (c[s]["ours"], c[s]["baseline"])
        for c in table
        for s in PUBLISHED_STRATEGIES
        if c[s]["ours"] is not None
    ]
    return {
        "dataset": dataset,
        "unit": spec["unit"],
        "cells": len(flat),
        "at_or_better_than_baseline": sum(1 for o, b in flat if o <= b),
        "within_10pct": sum(1 for o, b in flat if o <= 1.10 * b),
        "checkpoints": table,
    }


def write_checkpoint_csv(rows: list[dict], path: str) -> None:
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--exp-dir", required=True)
    ap.add_argument("--strategies", default="oracle,random,greedy,limeqo")
    ap.add_argument(
        "--checkpoints", default="45,90,180,360,720", help="exploration seconds"
    )
    ap.add_argument("--out", default=None, help="CSV path (default: stdout JSON)")
    args = ap.parse_args()
    rows = checkpoint_table(
        args.exp_dir,
        args.strategies.split(","),
        [float(c) for c in args.checkpoints.split(",")],
    )
    if args.out:
        write_checkpoint_csv(rows, args.out)
    print(json.dumps(rows))


if __name__ == "__main__":
    main()
