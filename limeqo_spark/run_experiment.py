"""Experiment driver (SURVEY A33): run the strategy suite over a reference
workload matrix and write per-round metric JSONs + a CSV summary — the same
artifact shapes the reference ships in experiment/ and result/.

Usage:
    python -m limeqo_spark.run_experiment --dataset job --out /tmp/exp \
        [--reps 20] [--budget 720] [--strategies oracle,random,...]

Metrics sinks (A4/A5): one JSON list per (strategy, rep) with the reference
record schema; a final CSV of total_latency checkpoints per strategy. For a
dataset with a published table (:data:`limeqo_spark.report.PUBLISHED`) it
prints ours against published at every checkpoint the runs reached; the
reference's own rep counts are 20 (random/greedy/limeqo) and 5 (limeqo_plus).
"""

from __future__ import annotations

import argparse
import csv
import json
import os

import numpy as np

from limeqo_spark.report import (
    PUBLISHED,
    UNIT_S,
    checkpoint_table,
    compare_published,
    write_checkpoint_csv,
)
from limeqo_spark.strategies import STRATEGIES
from limeqo_spark.workload import Workload

REFERENCE_DATASET_DIR = "/root/reference/dataset"
#: LimeQO+'s model per dataset, censored ALS where none is named: the
#: restart-averaged TCNN on CEB (docs/tcnn_ensemble_lab_r11.json); the
#: TCNN regresses on JOB and DSB (docs/tcnn_sim_study_r3.json)
PLUS_KW = {"ceb": {"model": "tcnn", "n_nets": 3}}


def load_dataset(name: str) -> Workload:
    if not os.path.isdir(REFERENCE_DATASET_DIR):
        raise FileNotFoundError(
            f"reference dataset absent: no directory {REFERENCE_DATASET_DIR}"
        )
    matrix = f"{REFERENCE_DATASET_DIR}/{name}-matrix.csv"
    if name == "stack" and not os.path.exists(matrix):
        # the reference ships init_stack_mask.npy (6191x49) but its matrix
        # CSV is a missing large blob in the snapshot — simulation needs
        # the measured latencies, so say exactly that instead of crashing
        # deep inside pandas
        raise FileNotFoundError(
            f"{matrix} is not in the reference snapshot (the stack matrix "
            "is a missing large blob); simulation mode needs the measured "
            "latency matrix. Available: job, ceb, dsb."
        )
    return Workload.from_reference(
        matrix,
        f"{REFERENCE_DATASET_DIR}/init_{name}_mask.npy",
    )


def run_suite(
    wl: Workload,
    out_dir: str,
    strategies: list[str],
    reps: int = 5,
    budget: float | None = None,
    plus_kw: dict | None = None,
) -> dict[str, list[float]]:
    """Run each strategy over ``wl`` and write its records to
    ``{out_dir}/{strategy}_{rep}.json``, plus ``summary.csv`` and the
    ``result.csv`` checkpoint table. The protocol of the published tables:
    every strategy explores at its class-default batch size with
    ``slack=None``, so a run ends at ``budget`` exploration seconds or when
    every cell is explored; stochastic strategies run ``reps`` seeds
    0..reps-1; oracle, qo_advisor and a pinned-init TCNN LimeQO+
    (``plus_kw`` with ``model="tcnn"`` and a ``net_seed``) are
    deterministic and run once. Returns each strategy's final latencies."""
    os.makedirs(out_dir, exist_ok=True)
    plus_kw = plus_kw or {}
    pinned_tcnn = plus_kw.get("model") == "tcnn" and plus_kw.get("net_seed") is not None
    finals: dict[str, list[float]] = {}
    for name in strategies:
        once = name in ("oracle", "qo_advisor") or (name == "limeqo_plus" and pinned_tcnn)
        kw = plus_kw if name == "limeqo_plus" else {}
        finals[name] = []
        for rep in range(1 if once else reps):
            strat = STRATEGIES[name](
                wl, seed=rep, time_budget=budget, max_rounds=1_000_000, slack=None, **kw
            )
            records = strat.run()
            with open(os.path.join(out_dir, f"{name}_{rep}.json"), "w") as f:
                json.dump(records, f, indent=2)
            finals[name].append(records[-1]["total_latency"])
    with open(os.path.join(out_dir, "summary.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["strategy", "mean_final_latency", "std", "reps"])
        for name, vals in finals.items():
            w.writerow([name, float(np.mean(vals)), float(np.std(vals)), len(vals)])
    # the reference's result/{ds}.csv analog (A34): checkpoint table over a
    # grid spanning the observed exploration times
    if budget:
        grid = [budget * f for f in (0.125, 0.25, 0.5, 1.0)]
    else:
        grid = [wl.default_time * f for f in (0.25, 0.5, 1.0, 2.0)]
    rows = checkpoint_table(out_dir, list(finals), grid)
    write_checkpoint_csv(rows, os.path.join(out_dir, "result.csv"))
    return finals


def run_live(
    sf_dir: str,
    out_dir: str,
    rounds: int = 3,
    k: int = 4,
    timeout_s: float = 300.0,
    model: str = "als",
    queries: list[str] | None = None,
    repeats: int = 1,
) -> dict:
    """Live-mode experiment: steer the workload registry's queries across
    the 49 HintSets with real executions (the boundary the reference only
    simulates). Writes the observations table (Parquet) and a best-hints
    JSON; returns the summary."""
    from limeqo_spark.live import LiveSteeringSession
    from limeqo_spark.session import get_spark
    from limeqo_spark.workloads import manifest_workload, steering_workload

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("limeqo_live_experiment")
    wl = steering_workload(spark, sf_dir)
    if queries:
        # names not in the synthetic registry resolve against the manifest:
        # any oracle-checked query is steerable
        manifest_names = [q for q in queries if q not in wl]
        wl = {q: wl[q] for q in queries if q in wl}
        wl.update(manifest_workload(spark, sf_dir, manifest_names))
    session = LiveSteeringSession(spark, wl, repeats=repeats)
    session.bootstrap(timeout_s=timeout_s)
    # a censored default run leaves matrix[i,0] NaN; record None (valid
    # JSON) rather than letting float('nan') leak into the summary
    default = {}
    for i, qid in enumerate(session.query_ids):
        v = float(session.matrix[i, 0])
        default[qid] = v if v == v else None
    session.explore(rounds=rounds, k=k, model=model)
    best = session.best_hints()
    session.to_long_df().write.mode("overwrite").parquet(os.path.join(out_dir, "observations"))
    summary = {
        "sf_dir": sf_dir,
        "model": model,
        "queries": {
            qid: {
                "default_s": default[qid],
                "best_hint": hj,
                "best_s": lat,
                "speedup": (
                    default[qid] / lat if lat > 0 and default[qid] is not None else None
                ),
            }
            for qid, (hj, lat) in best.items()
        },
        # queries whose every run was censored have no best hint yet
        "censored_only": [q for q in wl if q not in best],
        "cells_measured": sum(1 for o in session.observations if o.measured),
        "cells_inherited": sum(1 for o in session.observations if not o.measured),
    }
    with open(os.path.join(out_dir, "live_summary.json"), "w") as f:
        json.dump(summary, f, indent=2)
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dataset", default="job", choices=["job", "ceb", "dsb", "stack"])
    ap.add_argument("--out", default="/tmp/limeqo_experiment")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--k", type=int, default=8,
                    help="live and datashift modes: cells per round")
    ap.add_argument("--budget", type=float, default=None,
                    help="sim mode: exploration seconds (default: the dataset's "
                    "last published checkpoint, else until every cell is explored)")
    ap.add_argument(
        "--strategies",
        default="oracle,random,greedy,qo_advisor,limeqo,limeqo_plus",
    )
    ap.add_argument("--live", action="store_true", help="steer real Spark executions")
    ap.add_argument(
        "--datashift", action="store_true",
        help="sim mode: hold out 20%% of rows, inject them mid-exploration "
        "(reference experiment/stack-datashift analog)",
    )
    ap.add_argument("--holdout-frac", type=float, default=0.2)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--model", default="als", choices=["als", "plan", "tcnn"])
    ap.add_argument("--plus-model", default=None, choices=["als", "tcnn"],
                    help="sim mode: LimeQO+ cost model (default: PLUS_KW's)")
    ap.add_argument("--net-seed", type=int, default=None,
                    help="sim mode: pin the TCNN weight init (deterministic run)")
    ap.add_argument("--repeats", type=int, default=1,
                    help="live mode: median-of-N measurements per cell")
    ap.add_argument("--queries", default=None,
                    help="live mode: comma-separated workload/manifest query names")
    args = ap.parse_args()
    if args.live:
        summary = run_live(
            args.sf_dir, args.out, rounds=args.rounds, k=args.k, model=args.model,
            repeats=args.repeats, queries=args.queries.split(",") if args.queries else None,
        )
        print(json.dumps(summary, indent=2))
        return
    wl = load_dataset(args.dataset)
    if args.datashift:
        from limeqo_spark.datashift import run_datashift

        os.makedirs(args.out, exist_ok=True)
        budget = args.budget or wl.default_time * 0.5
        out = {}
        for rep in range(args.reps):
            res = run_datashift(
                wl, strategy="limeqo", holdout_frac=args.holdout_frac,
                budget_before=budget / 2, budget_after=budget / 2,
                seed=rep, k=args.k,
            )
            path = os.path.join(args.out, f"datashift_{rep}.json")
            with open(path, "w") as f:
                json.dump(
                    {"records": res.records, "inject_round": res.inject_round,
                     "holdout_rows": res.holdout_rows}, f, indent=2,
                )
            lat = [r["total_latency"] for r in res.records]
            out[f"rep{rep}"] = {
                "at_inject": lat[res.inject_round], "final": lat[-1],
                "reconverged": lat[-1] < lat[res.inject_round],
            }
        print(json.dumps(out, indent=2))
        return
    plus_kw = dict(PLUS_KW.get(args.dataset, {}))
    if args.plus_model:
        plus_kw["model"] = args.plus_model
    if args.net_seed is not None:
        plus_kw["net_seed"] = args.net_seed
    budget = args.budget
    if budget is None and args.dataset in PUBLISHED:
        spec = PUBLISHED[args.dataset]
        budget = spec["grid"][-1] * UNIT_S[spec["unit"]]
    finals = run_suite(
        wl, args.out, args.strategies.split(","), args.reps, budget, plus_kw=plus_kw
    )
    if args.dataset in PUBLISHED:
        out = compare_published(args.out, args.dataset, budget)
        out.update(reps=args.reps, default=wl.default_time / UNIT_S[out["unit"]],
                   optimal=wl.opt_time / UNIT_S[out["unit"]])
    else:
        out = {k: float(np.mean(v)) for k, v in finals.items()}
    print(json.dumps(out, indent=2))

if __name__ == "__main__":
    main()
