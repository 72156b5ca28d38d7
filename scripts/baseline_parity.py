#!/usr/bin/env python
"""Full-curve parity vs BASELINE.md: run the strategy suite on each
reference matrix to its largest published exploration budget, interpolate
the runs onto the published checkpoint grid (report.py = the reference's
draw notebooks), and emit ours-vs-published at every cell.

Usage: python scripts/baseline_parity.py [job ceb dsb] [--reps N]
Reference reps are 20 (random/greedy/limeqo) and 5 (limeqo_plus); pass
--reps to lower the stochastic-strategy rep count for wall-clock (the
published numbers stay 20-run means — std columns quantify the noise).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from limeqo_spark.report import checkpoint_table
from limeqo_spark.run_experiment import load_dataset
from limeqo_spark.strategies import (
    GreedyStrategy,
    LimeQOPlusStrategy,
    LimeQOStrategy,
    RandomStrategy,
)

#: published checkpoint tables (BASELINE.md §curves; result/{ds}.csv)
BASELINE = {
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


def run_dataset(ds: str, out_root: str, reps: int) -> dict:
    spec = BASELINE[ds]
    to_s = 3600.0 if spec["unit"] == "h" else 1.0
    budget = spec["grid"][-1] * to_s
    wl = load_dataset(ds)
    out_dir = os.path.join(out_root, ds)
    os.makedirs(out_dir, exist_ok=True)

    # reference batch sizes: k=8 for random/greedy/limeqo, k=32 for limeqo+.
    # LimeQO+ runs the SHIPPED per-dataset config (bench.py): CEB uses the
    # NumpyTCNN with stall-triggered re-init, init drawn from the rep's
    # exploration rng (round 4: no pinned seed — the mean over 5 free
    # inits is the reference's own 5-run aggregation); JOB/DSB keep the
    # restart-averaged censored ALS (the TCNN regresses there —
    # docs/tcnn_sim_study_r3.json job_dsb_robustness)
    # n_nets=3: restart-averaged TCNN (r11, docs/tcnn_ensemble_lab_r11.json)
    plus_kw = dict(model="tcnn", n_nets=3) if ds == "ceb" else dict()
    plus_reps = 5 if ds == "ceb" else max(1, reps // 4)
    plans = [
        ("random", RandomStrategy, dict(k=8), reps),
        ("greedy", GreedyStrategy, dict(k=8), reps),  # random untried hint per worst query
        ("limeqo", LimeQOStrategy, dict(k=8), reps),
        ("limeqo_plus", LimeQOPlusStrategy, plus_kw, plus_reps),
    ]
    for name, cls, kw, n in plans:
        for rep in range(n):
            records = cls(
                wl, seed=rep, time_budget=budget, max_rounds=1_000_000, slack=None, **kw
            ).run()
            with open(os.path.join(out_dir, f"{name}_{rep}.json"), "w") as f:
                json.dump(records, f)

    grid_s = [c * to_s for c in spec["grid"]]
    rows = checkpoint_table(
        out_dir, ["random", "greedy", "limeqo", "limeqo_plus"], grid_s
    )
    table = []
    for i, c in enumerate(spec["grid"]):
        cell = {"exploration": f"{c} {spec['unit']}"}
        for s in ("random", "greedy", "limeqo", "limeqo_plus"):
            ours = rows[i][s]
            cell[s] = {
                "baseline": spec[s][i],
                "ours": None if ours is None else round(ours / to_s, 3),
            }
        table.append(cell)
    # summary: fraction of cells at-or-better and within 10%
    flat = [
        (c[s]["ours"], c[s]["baseline"])
        for c in table
        for s in ("random", "greedy", "limeqo", "limeqo_plus")
        if c[s]["ours"] is not None
    ]
    better = sum(1 for o, b in flat if o <= b)
    within = sum(1 for o, b in flat if o <= 1.10 * b)
    return {
        "dataset": ds,
        "reps": reps,
        "cells": len(flat),
        "at_or_better_than_baseline": better,
        "within_10pct": within,
        "default": wl.default_time / to_s,
        "optimal": wl.opt_time / to_s,
        "unit": spec["unit"],
        "checkpoints": table,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("datasets", nargs="*", default=["job", "ceb", "dsb"])
    ap.add_argument("--reps", type=int, default=20)
    ap.add_argument("--out", default="/tmp/baseline_parity")
    args = ap.parse_args()
    results = [run_dataset(ds, args.out, args.reps) for ds in args.datasets or ["job", "ceb", "dsb"]]
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
