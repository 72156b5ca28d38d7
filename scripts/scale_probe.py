#!/usr/bin/env python
"""Scale probe: replicate the sf0.1 fixtures N-fold (key-offset so join
cardinalities scale linearly, not quadratically) into /tmp, then measure a
set of heavy operators at 1x and Nx and report, per query, the wall-time
ratio and the executor-CPU ratio (``cpu_ratio``, executor CPU seconds at Nx
over 1x) with both runs' task counts, next to each run's profile record
(executor CPU seconds, shuffle bytes, task p50/max; see
limeqo_spark/profile.py).

ROADMAP item 7's "x16 probe ratio <= 3" bar reads ``cpu_ratio``. A wall
ratio on a host with idle cores measures unused parallelism, not scaling:
at sf0.1 q16's lineitem is one file read by one task, so x1 runs one task
on 4 cores while x4 runs four side by side, and
``python scripts/scale_probe.py 4 q16_tpch_q1_agg`` (4 vCPUs) read a wall
ratio of 1.06 against a cpu_ratio of 3.28 (0.73 -> 2.39 s; tasks 6 -> 7).

An operator whose plan is scale-sane grows ~linearly (ratio ~= N on a fixed
local core budget); a quadratic candidate-pair blowup or a hot-key stall
shows up immediately as a super-linear ratio. Usage:

    python scripts/scale_probe.py [N] [queries...]

Caveat for the dedup probes: replication plants N exact copies of every
document, so the TRUE near-dup pair count grows ~N^2 per duplicate group —
output growth there is semantic, not a plan defect. Measured at N=4 on
local[32] (2026-08-13): every probed operator except the dedup pair
generators ran at ratio <= 1.1 (fixed-overhead regime); capped Jaccard ran
at 3.1x for 4x data + 16x pair output, i.e. sublinear in input.

Round-2 probe (same box, N=4) over the newer operators: scans/joins/aggs
and signature generators stay in the fixed-overhead regime (ratios
0.73-0.93: q16 0.73, q08 0.93, minhash 0.87, ann_lsh 0.84, cdc 0.84);
ops whose OUTPUT grows with the planted clone groups scale with that
output, not the input — simhash 1.62, repetition 1.63, contamination 3.3x
and cluster 3.5x wall for up-to-16x pair/edge growth.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
#: per-table key columns to offset per replica so keys stay unique and
#: foreign-key joins keep their 1x fan-out (dims stay single-copy)
OFFSETS = {
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 0},
    "lineitem": {"l_orderkey": 10_000_000},
    "events": {"event_id": 10_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
REPLICATED = set(OFFSETS)

DEFAULT_QUERIES = [
    "q16_tpch_q1_agg",
    "q08_sortmerge_join",
    "q23_ranking_windows",
    "q37_dedup_exact",
    "dedup_ngram_jaccard_capped",
    "dedup_simhash",
    "ann_ivf_topk",
    "skew_salted_join",
    "q51_bucketed_colocated_join",
]


#: per-element pseudo-noise amplitude (x vector norm). Noise elements are
#: uniform [-1, 1] (E[u^2] = 1/3), so over 64 dims the noise norm is
#: ~amp*sqrt(64/3) ~ 0.75 x the vector norm, putting original-vs-perturbed
#: cosine near 1/sqrt(1+0.75^2) ~ 0.8 — far under the 0.95 near-dup
#: threshold, and perturbed-vs-perturbed (independent per-replica noise)
#: lower still (~0.64 expected).
PERTURB_AMP = 0.1624


def _perturb_embedding_expr(rep: int):
    """Deterministic per-replica perturbation of the embedding array: each
    replica's copy is pushed BELOW the near-dup cosine threshold, so a
    perturbed replica probe measures candidate-generation/plan scaling
    instead of the clone-group quadratic (exact replication makes every
    row a true near-dup of its n copies — semantic output, not plan).

    Noise elements are md5-derived uniforms over (vec_id, i) — the
    replica-offset vec_id makes them independent across replicas BY
    CONSTRUCTION. The original sin(h * 12.9898) scheme ALIASED: the
    per-rep phase step lands ~-0.41 rad from a multiple of 2*pi every 3
    replicas, so reps {1,4,7,...} carried ~cos(0.41)=0.92-correlated
    noise and x16 replicas contained tens of thousands of SPURIOUS true
    near-dup pairs (measured: 53,582 edges where ~20 were intended) —
    inflating any probe that counts or resolves pairs. (The document
    perturbation below is token-suffix-based and never had this flaw.)"""
    from pyspark.sql import functions as F

    u = (
        "(conv(substr(md5(concat(CAST(vec_id AS STRING), ':', CAST(i AS STRING))),"
        " 1, 8), 16, 10) / 4294967296.0 * 2.0 - 1.0)"
    )
    return F.expr(
        "transform(embedding, (x, i) -> CAST("
        f" CAST(x AS DOUBLE) + {PERTURB_AMP}"
        " * sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
        "        (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        f" * {u}"
        " AS FLOAT))"
    )


def _perturb_document_expr(rep: int):
    """Deterministic per-replica perturbation of document text: every token
    gains a replica-specific suffix, so token md5s (hence SimHash votes)
    are independent ACROSS replicas — no cross-replica near-dups — while
    token equality WITHIN a replica is preserved, so each replica
    reproduces the base corpus's internal near-dup structure. Output then
    grows ~linearly with replication instead of ~N^2 per clone group,
    isolating candidate-generation/plan scaling (same rationale as
    _perturb_embedding_expr)."""
    from pyspark.sql import functions as F

    return F.expr(
        f"array_join(transform(split(text, ' '), t -> concat(t, 'r{rep}')), ' ')"
    )


#: probe-planted near-dup clones (recall evidence, VERDICT r6 next-round
#: #4): per replica, the PLANT_N lowest-id docs get a clone at
#: doc_id + RECALL_OFFSET whose text differs by one appended token — a true
#: within-replica near-dup pair the operator must recall at whatever band
#: width the corpus size dials in. Offset chosen clear of real ids (< 5k at
#: sf0.1), the operator's own plant ids (10k..10k+29), and the replica
#: stride (1M).
RECALL_OFFSET = 500_000
RECALL_SUFFIX = " zzzdupprobe"


#: extra lineitem offsets for the graph-operator probe (q106/q107): with
#: only l_orderkey offset, replication re-adds the SAME distinct
#: (l_partkey, l_suppkey) pairs, so the co-supply graph doesn't grow and
#: the probe measures only the scan. Offsetting part+supplier keys per
#: replica makes the bipartite graph (hence edges/triangles/ranks) N
#: disjoint copies — input AND graph scale linearly. Breaks part/supplier
#: FK fan-out, so it's opt-in for the graph probes only.
GRAPH_OFFSETS = {"l_partkey": 10_000_000, "l_suppkey": 10_000_000}


def build_replica(
    spark,
    out_dir: str,
    n: int,
    perturb_embeddings: bool = False,
    perturb_documents: bool = False,
    graph_offsets: bool = False,
    replicate_part: bool = False,
) -> None:
    from pyspark.sql import functions as F

    from limeqo_spark.io import table
    from limeqo_spark.pipeline.corpus import PLANT_N

    os.makedirs(out_dir, exist_ok=True)
    # --replicate-part: part is a dim (single-copy by default) but the ER
    # operators groupBy its p_name — replicating rows with offset keys and
    # the SAME name vocabulary probes exactly their claim: the match space
    # is vocabulary-sized while the distinct-groupBy input scales Nx.
    # (FK fan-outs from lineitem break for the copies, so only probe
    # part-only queries under this flag.)
    replicated = REPLICATED | ({"part"} if replicate_part else set())
    offsets_by_table = dict(OFFSETS)
    if replicate_part:
        offsets_by_table["part"] = {"p_partkey": 10_000_000}
    for t in TABLES:
        df = table(spark, BASE, t)
        if t in replicated:
            parts = []
            for rep in range(n):
                p = df
                offsets = dict(offsets_by_table[t])
                if graph_offsets and t == "lineitem":
                    offsets.update(GRAPH_OFFSETS)
                for col, step in offsets.items():
                    if step:
                        p = p.withColumn(col, F.col(col) + F.lit(rep * step))
                if t == "embeddings" and perturb_embeddings and rep > 0:
                    p = p.withColumn("embedding", _perturb_embedding_expr(rep))
                if t == "documents" and perturb_documents:
                    if rep > 0:
                        p = p.withColumn("text", _perturb_document_expr(rep))
                    # plant the recall pairs AFTER perturbation so each pair
                    # is internal to its replica (cross-replica md5s differ)
                    clones = p.filter(
                        F.col("doc_id") % 1_000_000 < PLANT_N
                    ).withColumn(
                        "doc_id", F.col("doc_id") + F.lit(RECALL_OFFSET)
                    ).withColumn(
                        "text", F.concat(F.col("text"), F.lit(RECALL_SUFFIX))
                    )
                    p = p.unionByName(clones)
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def simhash_planted_recall(spark, sf_dir: str, n: int) -> dict:
    """Per-replica recall of the probe-planted near-dup pairs in the
    dedup_simhash output at whatever adaptive band width the corpus size
    produced. Only the ~PLANT_N x n probe pairs reach the driver."""
    from pyspark.sql import functions as F

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.pipeline.corpus import PLANT_N
    from limeqo_spark.pipeline.dedup import _sh_band_bits

    out = REGISTRY["dedup_simhash"].builder(spark, sf_dir)
    hits = (
        out.filter(
            (F.col("b") - F.col("a") == RECALL_OFFSET)
            & (F.col("a") % 1_000_000 < PLANT_N)
        )
        .select("a")
        .collect()
    )
    per_rep = {r: 0 for r in range(n)}
    for row in hits:
        per_rep[int(row["a"]) // 1_000_000] += 1
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count() + PLANT_N
    recalls = {str(r): round(c / PLANT_N, 4) for r, c in per_rep.items()}
    total = sum(per_rep.values())
    return {
        "band_bits": _sh_band_bits(n_docs),
        "planted_per_replica": PLANT_N,
        "recall_per_replica": recalls,
        "recall_overall": round(total / (PLANT_N * n), 4),
        "recall_min_replica": round(min(per_rep.values()) / PLANT_N, 4),
    }


def time_queries(spark, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """One :func:`limeqo_spark.profile.measure` record per query, of the
    rep after a cold rep that pays the one-time costs (codegen compile,
    schema reads), as bench.py keeps its cold rep out of its medians."""
    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.profile import measure

    out = {}
    for name in names:
        for _ in range(2):
            out[name] = measure(spark, lambda: REGISTRY[name].builder(spark, sf_dir))
            # measurements are standalone: drop relations a query cached so
            # the Nx pass isn't squeezed by 1x leftovers (as bench.py does)
            spark.catalog.clearCache()
    return out


def report_row(base: dict, big: dict, n: int) -> dict:
    """One query's report: the 1x and Nx walls, their ratio, ``cpu_ratio``
    (executor CPU seconds at Nx over 1x; None when 1x read 0) and each
    run's task count, followed by both profile records."""
    cpu_x1 = base["executor_cpu_s"]
    return {
        "x1_s": round(base["wall_s"], 2),
        f"x{n}_s": round(big["wall_s"], 2),
        "ratio": round(big["wall_s"] / base["wall_s"], 2),
        "cpu_ratio": round(big["executor_cpu_s"] / cpu_x1, 2) if cpu_x1 else None,
        "x1_tasks": base["tasks"],
        f"x{n}_tasks": big["tasks"],
        "x1": base,
        f"x{n}": big,
    }


def main() -> None:
    # scale probes intentionally run ABOVE the bitext miner's oracle-pinned
    # nlist floor; opt in to the quantizer refit the builder otherwise
    # refuses (the HASH oracle only holds at the pinned floor)
    os.environ.setdefault("LIMEQO_BITEXT_REFIT", "1")
    flags = {"--perturb-embeddings", "--perturb-documents", "--keep", "--graph-offsets", "--replicate-part"}
    argv = [a for a in sys.argv[1:] if a not in flags]
    keep = "--keep" in sys.argv[1:]
    perturb = "--perturb-embeddings" in sys.argv[1:]
    perturb_docs = "--perturb-documents" in sys.argv[1:]
    graph = "--graph-offsets" in sys.argv[1:]
    replicate_part = "--replicate-part" in sys.argv[1:]
    n = int(argv[0]) if argv else 4
    names = argv[1:] or DEFAULT_QUERIES
    from limeqo_spark.session import get_spark

    spark = get_spark("scale_probe", master=f"local[{os.cpu_count()}]")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm up
    replica = f"/tmp/limeqo_scale/x{n}"
    build_replica(
        spark, replica, n,
        perturb_embeddings=perturb, perturb_documents=perturb_docs,
        graph_offsets=graph, replicate_part=replicate_part,
    )
    base = time_queries(spark, BASE, names)
    big = time_queries(spark, replica, names)
    report = {
        "replication": n,
        "perturb_embeddings": perturb,
        "perturb_documents": perturb_docs,
        "graph_offsets": graph,
        "replicate_part": replicate_part,
        "queries": {q: report_row(base[q], big[q], n) for q in names},
    }
    if perturb_docs and "dedup_simhash" in names:
        report["simhash_planted_recall"] = simhash_planted_recall(spark, replica, n)
    print(json.dumps(report, indent=2))
    if not keep:  # --keep leaves the replica for follow-up parity checks
        shutil.rmtree(replica, ignore_errors=True)


if __name__ == "__main__":
    main()
