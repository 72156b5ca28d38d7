#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the simulation-mode
strategy suite on the reference JOB, CEB and DSB matrices at their first
published checkpoints (BASELINE.md track 1).

Each query runs one cold rep and :data:`WARM_REPS` warm reps, each through
:func:`limeqo_spark.profile.measure`; the headline is the sum over queries
of the median warm wall. Each run appends its full record, with every rep's
profile (counters, executor CPU seconds, task p50/max, codegen compiles), to
``docs/bench/<round>-cpus<N>-<sf>.jsonl`` and prints ONE compact JSON line
naming that file and line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
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
        queries=record["queries"],
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


#: stochastic reps per strategy in the sim track
SIM_REPS = 5


def sim_track(workloads: dict, out_root: str) -> dict[str, float]:
    """Simulation-mode track (BASELINE.md track 1): the strategy suite on
    each dataset's matrix up to its first published checkpoint.
    ``sim_<ds>_<strategy>`` is the mean total workload latency there, in
    the published unit, next to the published ``sim_<ds>_<strategy>_baseline``."""
    from limeqo_spark.report import PUBLISHED, PUBLISHED_STRATEGIES, UNIT_S, compare_published
    from limeqo_spark.run_experiment import PLUS_KW, run_suite

    sim = {}
    for ds, wl in workloads.items():
        budget = PUBLISHED[ds]["grid"][0] * UNIT_S[PUBLISHED[ds]["unit"]]
        out = os.path.join(out_root, ds)
        run_suite(wl, out, list(PUBLISHED_STRATEGIES), SIM_REPS, budget, PLUS_KW.get(ds))
        first = compare_published(out, ds, budget)["checkpoints"][0]
        for s in PUBLISHED_STRATEGIES:
            sim[f"sim_{ds}_{s}"] = first[s]["ours"]
            sim[f"sim_{ds}_{s}_baseline"] = first[s]["baseline"]
    return sim


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

    sim: dict[str, float] = {}
    sim_error: str | None = None
    t0 = time.perf_counter()
    try:
        if os.environ.get("SPARK_GRAFT_SKIP_SIM"):
            raise RuntimeError("sim track skipped via SPARK_GRAFT_SKIP_SIM")
        from limeqo_spark.report import PUBLISHED
        from limeqo_spark.run_experiment import load_dataset

        with tempfile.TemporaryDirectory() as tmp:
            sim = sim_track({ds: load_dataset(ds) for ds in PUBLISHED}, tmp)
    except Exception as e:  # sim track must never sink the bench line
        sim_error = f"{type(e).__name__}: {e}"

    # headline value = query-engine wall only; the sim track is solver
    # overhead (BASELINE.md reports it separately too)
    full = {
        "metric": "headline_query_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sim_overhead_total": round(time.perf_counter() - t0, 3),
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
    path, line_no = append_run(DOCS_DIR, full)
    print(json.dumps(compact_line(full, os.path.relpath(path, os.path.dirname(DOCS_DIR)), line_no)))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
