#!/usr/bin/env python
"""Live steering demo over the r4-verified TPC-H battery (VERDICT r4
next-round #7): q72-q81 explored against the 49-HintSet registry with the
live TCNN (real EXPLAIN trees), plan-hash equivalence dedup, and censoring.
Reports per-query best steered wall vs the optimizer default.

    python scripts/live_demo_tpch.py [out.json]

The report goes to ``out.json`` (default :data:`DEFAULT_OUT`), which must
not exist yet: a run never overwrites an earlier run's report.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: the report's default path; no committed report uses it
DEFAULT_OUT = "docs/live_demo_tpch.json"
QUERIES = [
    # r3-demo continuity (q48/q70 measured steering wins in round 3)
    "q48_tpch_q5_local_volume",
    "q70_tpch_q2_min_cost_supplier",
    "q71_tpch_q6_forecast_revenue",
    "q72_tpch_q8_market_share",
    "q73_tpch_q9_product_profit",
    "q74_tpch_q11_important_stock",
    "q75_tpch_q13_customer_distribution",
    "q76_tpch_q14_promo_revenue",
    "q77_tpch_q15_top_supplier",
    "q78_tpch_q16_supplier_part_counts",
    "q79_tpch_q20_part_promotion",
    "q80_tpch_q21_waiting_suppliers",
    "q81_tpch_q22_global_sales_opportunity",
]


def write_report(report: dict, out_path: str) -> None:
    """Write ``report`` to ``out_path``, which must not exist yet
    (FileExistsError naming it otherwise)."""
    with open(out_path, "x") as f:
        json.dump(report, f, indent=1)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_OUT
    from limeqo_spark.live import LiveSteeringSession
    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.session import get_spark

    load_start = os.getloadavg()
    spark = get_spark("live_demo_tpch")
    queries = {
        name: (lambda n=name: REGISTRY[n].builder(spark, SF_DIR)) for name in QUERIES
    }
    t0 = time.time()
    # median-of-3 measurements per cell (VERDICT r5 next-round #7; was 2):
    # the battery runs 0.2-1.1 s per query at sf0.1, where single-shot
    # walls are noise-dominated
    sess = LiveSteeringSession(spark, queries, seed=1, repeats=3)
    sess.bootstrap(timeout_s=30.0)
    sess.explore(rounds=12, k=8, model="tcnn")
    wall = time.time() - t0

    defaults = {qid: float(sess.matrix[qi, 0]) for qi, qid in enumerate(sess.query_ids)}
    best = sess.best_hints()
    censored = sorted(
        {o.query_id for o in sess.observations if o.latency is None and o.measured}
    )
    # confirmation phase (VERDICT r5 next-round #7): every claimed win
    # (>5% speedup) is re-measured with 5 INTERLEAVED reps per arm
    # (default vs steered alternate, so drift hits both equally); the win
    # is confirmed only when the arms' [min, max] intervals do not overlap
    from limeqo_spark.steer import run_steered

    confirm = {}
    for qi, qid in enumerate(sess.query_ids):
        if qid not in best:
            continue
        hj, steered_s = best[qid]
        if hj == 0 or defaults[qid] / steered_s <= 1.05:
            continue
        d_runs, s_runs = [], []
        for _ in range(5):
            d_runs.append(run_steered(spark, sess.frame(qi, 0), sess.hint_sets[0], None).latency)
            s_runs.append(run_steered(spark, sess.frame(qi, hj), sess.hint_sets[hj], None).latency)
        confirm[qid] = {
            "hint": sess.hint_sets[hj].name,
            "default_runs_s": [round(x, 4) for x in d_runs],
            "steered_runs_s": [round(x, 4) for x in s_runs],
            "default_interval_s": [round(min(d_runs), 4), round(max(d_runs), 4)],
            "steered_interval_s": [round(min(s_runs), 4), round(max(s_runs), 4)],
            "median_speedup": round(
                sorted(d_runs)[len(d_runs) // 2] / sorted(s_runs)[len(s_runs) // 2], 4
            ),
            "confirmed_non_overlapping": max(s_runs) < min(d_runs),
        }

    report = {
        "sf_dir": SF_DIR,
        "model": "tcnn",
        "explore": {"rounds": 12, "k": 8, "repeats": 3, "hint_sets": len(sess.hint_sets)},
        "session_wall_s": round(wall, 1),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "confirmation": confirm,
        "queries": {
            qid: {
                "default_s": round(defaults[qid], 4),
                "best_hint": best[qid][0],
                "best_hint_name": sess.hint_sets[best[qid][0]].name,
                "best_s": round(best[qid][1], 4),
                "speedup": round(defaults[qid] / best[qid][1], 4),
            }
            for qid in QUERIES
            if qid in best
        },
        "censored_measured_queries": censored,
        "cells_measured": int(sum(1 for o in sess.observations if o.measured)),
        "cells_inherited": int(sum(1 for o in sess.observations if not o.measured)),
    }
    # printed first, so a report whose path is taken is not lost
    print(json.dumps(report, indent=1))
    write_report(report, out_path)


if __name__ == "__main__":
    main()
