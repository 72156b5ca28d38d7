#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the simulation-mode
LimeQO run on the reference JOB matrix (BASELINE.md track 1).

Each query runs one cold rep and :data:`WARM_REPS` warm reps, each through
:func:`limeqo_spark.profile.measure`; the headline is the sum over queries
of the median warm wall. Each run appends its full record, with every rep's
profile (counters, executor CPU seconds, task p50/max), to
``docs/bench/<round>-cpus<N>-<sf>.jsonl`` and prints ONE compact JSON line
naming that file and line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

#: round tag, the first part of a run's record key (round, cpus, sf)
ROUND_TAG = os.environ.get("SPARK_GRAFT_ROUND", "r13")
#: reps per query: one cold rep, then the warm reps its median is taken over
WARM_REPS = 3
#: profile fields a neighbour cannot move, compared across a query's warm
#: reps. Shuffle bytes are compressed sizes: rows that reach a shuffle in a
#: different order change them slightly while the records agree
STEADY_COUNTERS = ("rows", "jobs", "shuffle_write_records", "shuffle_read_bytes",
                   "shuffle_write_bytes")
DOCS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "docs")


def record_path(docs_dir: str, round_tag: str, cpus: int, sf_dir: str) -> str:
    """The append-only file of one (round, cpus, sf) key."""
    sf = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(docs_dir, "bench", f"{round_tag}-cpus{cpus}-{sf}.jsonl")


def append_run(docs_dir: str, record: dict) -> tuple[str, int]:
    """Append ``record`` plus ``commit`` and a UTC ``finished_at`` as one JSON
    line to its key's file; return the file and the line's number. The file
    is only ever opened to append, and no earlier record is parsed."""
    path = record_path(docs_dir, record["round"], record["cpus"], record["sf"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                                cwd=os.path.dirname(DOCS_DIR)).stdout.strip() or None
    except OSError:
        commit = None
    finished_at = datetime.now(timezone.utc).isoformat(timespec="seconds")
    with open(path, "a") as f:
        f.write(json.dumps({**record, "commit": commit, "finished_at": finished_at}) + "\n")
    with open(path, "rb") as f:
        return path, sum(block.count(b"\n") for block in iter(lambda: f.read(1 << 16), b""))


def compact_line(record: dict, path: str, line_no: int) -> dict:
    """The printed summary of a run: the headline, the load average around
    it, the counters each query's warm reps disagree on, the per-query
    medians, the sim scalars or the sim error, and the file and line holding
    the full record (stdout readers may keep only a tail)."""
    line = {k: record[k] for k in ("metric", "value", "unit", "loadavg_start", "loadavg_end",
                                   "counters_differ")}
    line.update(
        queries={k: v for k, v in record["queries"].items() if not k.startswith("sim_")},
        sf=record["sf"],
        record=path,
        record_line=line_no,
        sim_error=record["sim_error"],
    )
    line.update({k: v for k, v in record.items() if k.startswith("sim_") and isinstance(v, (int, float))})
    return line


#: headline subset: one per operator family, heaviest variants
HEADLINE = [
    "q01_parquet_scan_checksum",  # scan + agg
    "q05_projection_charge",  # projection (decimal arithmetic)
    "q07_broadcast_join",  # broadcast hash join
    "q08_sortmerge_join",  # fact-fact sort-merge join
    "q11_nonequi_join",  # theta join
    "q14_asof_join",  # as-of via union+window
    "q15_star_join",  # 5-table star
    "q16_tpch_q1_agg",  # TPC-H Q1 aggregate
    "q48_tpch_q5_local_volume",  # 6-table TPC-H Q5 shape
    "q71_tpch_q6_forecast_revenue",  # pure pushdown scan-agg (Q6)
    "q72_tpch_q8_market_share",  # deepest join tree (8 relations, nation x2)
    "q80_tpch_q21_waiting_suppliers",  # double EXISTS -> per-order profile agg
    "q46_partition_pruned_scan",  # partitioned write + pruned read
    "q51_bucketed_colocated_join",  # ingest-time bucketing, shuffle-free join
    "q17_count_distinct",
    "q21_sort_limit",  # top-K
    "q23_ranking_windows",
    "q25_running_sum",
    "q37_dedup_exact",
    "q40_tokenize_counts",
    # pipeline operators (north-star suite)
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",  # df-capped blocking (100 TB path)
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_chunk_reconstruct",  # line-level dedup + doc rebuild, digest-only shuffles
    "dedup_substring_spans",  # suffix-array-method dedup as dataflow
    "dedup_cluster_canonical",  # connected components -> canonical keeper
    "dedup_embedding_cosine",  # SRP-banded near-dup pairs (r4: crossJoin retired)
    "ann_cosine_topk",
    "ann_ivf_topk",  # KMeans coarse quantizer scale path
    "ann_ivf_partitioned",  # cell_id-partitioned layout, static pruning
    "ann_pq_adc",  # product-quantization codes + ADC lookup-table scoring
    "corpus_mix_quota_sample",  # deterministic training-mix curation
    "corpus_shuffle_shards",  # trainer-facing shuffled shard layout
    "skew_salted_join",
    "text_quality_score",
    "text_fingerprint",
    "text_contamination_overlap",  # benchmark decontamination
    "text_tfidf_top_terms",  # tokenize/IDF north star
    "cdc_scd2_history",  # changelog -> validity intervals
    "q83_time_range_window",  # trailing-hour point-in-time features
    "limeqo_wl_topk_improvement",  # the steering select step as one plan
    # streaming
    "q44a_stream_tumbling",
]


def main() -> None:
    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.profile import measure
    from limeqo_spark.session import get_spark

    load_start = os.getloadavg()
    spark = get_spark("limeqo_bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    # warm the JVM/codegen path so per-query times measure the queries
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    raw_reps: dict[str, list[float]] = {}
    profiles: dict[str, list[dict]] = {}
    counters_differ: dict[str, list[str]] = {}
    for name in HEADLINE:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        # rep 0 pays one-time costs (codegen compile, schema reads,
        # ingest-time materialization for the bucketed/partitioned
        # variants) and stays out of the median
        runs = []
        for _ in range(1 + WARM_REPS):
            runs.append(measure(spark, lambda: spec.builder(spark, SF_DIR)))
            # each query is measured standalone: drop caches a query pinned
            # (the dedup suite caches shingle/signature relations) so later
            # queries aren't squeezed by leftover storage memory
            spark.catalog.clearCache()
        profiles[name] = runs
        raw_reps[name] = [round(r["wall_s"], 3) for r in runs]
        timings[name] = round(statistics.median(r["wall_s"] for r in runs[1:]), 3)
        differ = [k for k in STEADY_COUNTERS if len({r[k] for r in runs[1:]}) > 1]
        if differ:
            counters_differ[name] = differ

    # simulation-mode track (BASELINE.md track 1): LimeQO on the reference's
    # own matrices at its published exploration-budget checkpoints.
    # Baselines to beat: JOB@90s -> 112.4 s; CEB@0.75h -> 1.615 h
    # (default 181 s / 2.94 h).
    sim: dict[str, float] = {}
    sim_error: str | None = None
    try:
        if os.environ.get("SPARK_GRAFT_SKIP_SIM"):
            raise RuntimeError("sim track skipped via SPARK_GRAFT_SKIP_SIM")
        from limeqo_spark.run_experiment import load_dataset
        from limeqo_spark.strategies import LimeQOStrategy

        wl = load_dataset("job")
        t0 = time.perf_counter()
        rec = LimeQOStrategy(wl, k=8, seed=1, max_rounds=200, time_budget=90.0).run()
        timings["sim_job_limeqo"] = round(time.perf_counter() - t0, 3)
        sim["sim_job_limeqo_final_latency"] = round(float(rec[-1]["total_latency"]), 2)

        # baseline-table companions at JOB@90s: Random 138.4 s (20-rep
        # mean), Greedy 120.4 s
        from limeqo_spark.strategies import GreedyStrategy, RandomStrategy

        t0 = time.perf_counter()
        rnd = [
            RandomStrategy(wl, k=8, seed=s, max_rounds=200, time_budget=90.0)
            .run()[-1]["total_latency"]
            for s in range(1, 6)
        ]
        sim["sim_job_random_final_latency"] = round(sum(rnd) / len(rnd), 2)
        rec = GreedyStrategy(wl, k=8, seed=1, max_rounds=200, time_budget=90.0).run()
        sim["sim_job_greedy_final_latency"] = round(float(rec[-1]["total_latency"]), 2)
        timings["sim_job_random_greedy"] = round(time.perf_counter() - t0, 3)

        from limeqo_spark.strategies import LimeQOPlusStrategy

        t0 = time.perf_counter()
        # no k override: LimeQO+ uses its default k=16 batches
        rec = LimeQOPlusStrategy(wl, seed=1, max_rounds=500, time_budget=90.0).run()
        timings["sim_job_limeqo_plus"] = round(time.perf_counter() - t0, 3)
        sim["sim_job_limeqo_plus_final_latency"] = round(
            float(rec[-1]["total_latency"]), 2
        )  # baseline LimeQO+@90s: 109.3 s

        wl_ceb = load_dataset("ceb")
        t0 = time.perf_counter()
        rec = LimeQOStrategy(
            wl_ceb, k=8, seed=1, max_rounds=100_000, time_budget=0.75 * 3600
        ).run()
        timings["sim_ceb_limeqo"] = round(time.perf_counter() - t0, 3)
        sim["sim_ceb_limeqo_final_latency_h"] = round(
            float(rec[-1]["total_latency"]) / 3600, 4
        )

        t0 = time.perf_counter()
        # baseline CEB@0.75h: LimeQO 1.615 h, LimeQO+ 1.293 h. Primary
        # config: the executed NumpyTCNN (censored hinge loss) averaging 3
        # restarts (n_nets=3, chosen by the sweep frozen in
        # docs/tcnn_ensemble_lab_r11.json). The headline is the median over
        # five fixed, unselected base inits (net_seed 0..4), all shipped in
        # the record; the init-free ALS row below is the seed-free check.
        tcnn_by_init = {}
        for net_seed in range(5):
            rec = LimeQOPlusStrategy(
                wl_ceb, seed=1, max_rounds=100_000, time_budget=0.75 * 3600,
                model="tcnn", net_seed=net_seed, n_nets=3,
            ).run()
            tcnn_by_init[net_seed] = round(float(rec[-1]["total_latency"]) / 3600, 4)
        timings["sim_ceb_limeqo_plus"] = round(time.perf_counter() - t0, 3)
        vals = sorted(tcnn_by_init.values())
        sim["sim_ceb_limeqo_plus_final_latency_h"] = vals[len(vals) // 2]
        sim["sim_ceb_limeqo_plus_config"] = (
            "tcnn n_nets=3 (restart-averaged, r11): median over five fixed "
            f"unselected base inits (net_seed 0..4); per-init values "
            f"{tcnn_by_init}. Init-free ALS fallback reported as "
            "sim_ceb_limeqo_plus_als_final_latency_h."
        )
        t0 = time.perf_counter()
        # robustness row: the init-free restart-averaged censored-ALS
        # fallback (no pinned seeds anywhere; ~1.44-1.45 h across seeds)
        rec = LimeQOPlusStrategy(
            wl_ceb, seed=1, max_rounds=100_000, time_budget=0.75 * 3600
        ).run()
        timings["sim_ceb_limeqo_plus_als"] = round(time.perf_counter() - t0, 3)
        sim["sim_ceb_limeqo_plus_als_final_latency_h"] = round(
            float(rec[-1]["total_latency"]) / 3600, 4
        )

        wl_dsb = load_dataset("dsb")
        t0 = time.perf_counter()
        rec = LimeQOStrategy(
            wl_dsb, k=8, seed=1, max_rounds=100_000, time_budget=1.19 * 3600
        ).run()  # baseline LimeQO@1.19h: 3.822 h (default 4.75 h)
        timings["sim_dsb_limeqo"] = round(time.perf_counter() - t0, 3)
        sim["sim_dsb_limeqo_final_latency_h"] = round(
            float(rec[-1]["total_latency"]) / 3600, 4
        )

        t0 = time.perf_counter()
        # baseline DSB@1.19h: LimeQO+ 3.407 h
        rec = LimeQOPlusStrategy(
            wl_dsb, seed=1, max_rounds=100_000, time_budget=1.19 * 3600
        ).run()
        timings["sim_dsb_limeqo_plus"] = round(time.perf_counter() - t0, 3)
        sim["sim_dsb_limeqo_plus_final_latency_h"] = round(
            float(rec[-1]["total_latency"]) / 3600, 4
        )

        # distributed-completer drop-in proof on a SECOND reference matrix
        # (VERDICT r5 next-round #8): the MLlib-ALS exploration loop runs
        # the full DSB@1.19h budget end-to-end; its final latency must land
        # within 10% of the numpy loop's, and the one-fit top-k=32
        # selection overlap on the init mask quantifies solver agreement.
        import numpy as np

        from limeqo_spark.complete import complete_log_space
        from limeqo_spark.strategies import (
            MLlibLimeQOStrategy,
            rank_cells_by_improvement,
        )

        t0 = time.perf_counter()
        rec = MLlibLimeQOStrategy(
            wl_dsb, spark=spark, seed=1, max_rounds=100_000,
            time_budget=1.19 * 3600,
        ).run()
        timings["sim_dsb_mllib_limeqo"] = round(time.perf_counter() - t0, 3)
        sim["sim_dsb_mllib_final_latency_h"] = round(
            float(rec[-1]["total_latency"]) / 3600, 4
        )
        mo = np.where(wl_dsb.mask > 0, wl_dsb.matrix, np.inf).min(axis=1)
        npy_pred = complete_log_space(
            wl_dsb.matrix, wl_dsb.mask, None, rank=5, iters=50, lam=0.2, seed=0
        ).completed
        mll = MLlibLimeQOStrategy(
            wl_dsb, spark=spark, seed=0, max_rounds=1, time_budget=None
        )
        mll.fit()  # one fit on the untouched init mask (state = fresh copy)
        k = 32
        a = set(rank_cells_by_improvement(npy_pred, wl_dsb.mask, mo, k))
        b = set(rank_cells_by_improvement(mll.pred, wl_dsb.mask, mo, k))
        sim["sim_dsb_mllib_agreement_k32"] = round(len(a & b) / max(len(a), 1), 4)
    except Exception as e:  # sim track must never sink the bench line
        sim_error = f"{type(e).__name__}: {e}"

    # headline value = query-engine wall only; the sim_* rows are SOLVER
    # overhead (BASELINE.md reports them separately too), summed on their
    # own; legacy_total_wall keeps the older queries + sim sum.
    total = round(sum(v for k, v in timings.items() if not k.startswith("sim_")), 3)
    sim_total = round(sum(v for k, v in timings.items() if k.startswith("sim_")), 3)
    full = {
        "metric": "headline_query_wall",
        "value": total,
        "unit": "sec",
        "sim_overhead_total": sim_total,
        "legacy_total_wall": round(total + sim_total, 3),
        "timing": (
            f"per-query median of {WARM_REPS} warm reps after 1 cold rep, each a "
            "profile.measure run (build + plan + execute, no write); through r12 "
            "a median of calibration-token-clean reps of a noop write"
        ),
        "queries": timings,
        "queries_raw_reps": raw_reps,
        "queries_profile": profiles,
        "counters_differ": counters_differ,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "sf": SF_DIR,
        "cpus": CPUS,
        "round": ROUND_TAG,
    }
    full.update(sim)
    full["sim_error"] = sim_error
    if sim:
        # published reference checkpoints (BASELINE.md) next to our numbers,
        # same keys minus the prefix, so the comparison is self-contained
        full["sim_baselines"] = {
            "job_limeqo_at_90s": 112.4,
            "job_random_at_90s": 138.4,
            "job_greedy_at_90s": 120.4,
            "job_limeqo_plus_at_90s": 109.3,
            "job_default": 181.0,
            "ceb_limeqo_at_0.75h": 1.615,
            "ceb_limeqo_plus_at_0.75h": 1.293,
            "ceb_default_h": 2.94,
            "dsb_limeqo_at_1.19h": 3.822,
            "dsb_limeqo_plus_at_1.19h": 3.407,
            "dsb_default_h": 4.75,
        }
    path, line_no = append_run(DOCS_DIR, full)
    print(json.dumps(compact_line(full, os.path.relpath(path, os.path.dirname(DOCS_DIR)), line_no)))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
