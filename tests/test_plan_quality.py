"""Plan-quality gates (the 100 TB discipline): filters reach the parquet
scan, dimension joins broadcast, aggregates are two-phase, hot paths stay in
whole-stage codegen. These are assertions on .explain output — the plans we
*want*, not just plans that pass."""

from __future__ import annotations

import pytest

from limeqo_spark.manifest import REGISTRY
from limeqo_spark.plans import explain_formatted

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return explain_formatted(REGISTRY[name].builder(spark, SF))


def executed_plan_of(spark, name: str) -> str:
    """Final (post-AQE) executed plan — the only place codegen spans and
    runtime-chosen join strategies are visible."""
    df = REGISTRY[name].builder(spark, SF)
    df.collect()  # same QueryExecution: .write would spawn a fresh plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q06_compound_filter")
    assert "PushedFilters:" in plan
    # discount/quantity range predicates are pushdown-eligible
    assert "GreaterThanOrEqual(l_discount" in plan or "LessThan(l_quantity" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "q05_projection_charge")
    scan_section = plan[plan.index("ReadSchema") :].splitlines()[0]
    # only the 5 needed columns are read, not all 11
    assert "l_comment" not in scan_section
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"):
        assert col in scan_section
    assert "l_shipdate" not in scan_section


def test_dim_joins_broadcast(spark):
    for q in ("q07_broadcast_join", "q15_star_join"):
        plan = plan_of(spark, q)
        assert "BroadcastHashJoin" in plan, f"{q} should broadcast its dims"


def test_no_cartesian_in_asof(spark):
    plan = plan_of(spark, "q14_asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_aggregates_two_phase(spark):
    plan = plan_of(spark, "q16_tpch_q1_agg")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "q21_sort_limit")
    assert "TakeOrderedAndProject" in plan, "top-K must not global-sort"


def test_ann_topk_window_rank_limit_pushes_down(spark):
    """The per-probe top-k windows must get Spark's WindowGroupLimit
    (map-side partial rank limit before the exchange) — a window mixing
    row_number with lag blocks the rule and the shuffle carries the whole
    candidate set (caught r8 on ann_ivf_topk; _ann_topk keeps its window
    rank-only)."""
    for name in ("ann_ivf_topk", "ann_cosine_topk", "ann_pq_adc"):
        plan = plan_of(spark, name)
        assert "WindowGroupLimit" in plan, f"{name}: rank limit not pushed"


def test_jaccard_join_is_blocked_not_crossed(spark):
    plan = plan_of(spark, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["q01_parquet_scan_checksum", "q08_sortmerge_join", "q23_ranking_windows"],
)
def test_hot_paths_in_codegen(spark, name):
    plan = executed_plan_of(spark, name)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark WholeStageCodegen spans in simple-mode plans
    assert "*(1)" in plan, f"no codegen span in executed plan of {name}"


def test_salted_join_no_nested_loop(spark):
    """Salting must not degrade the join into a nested-loop/cartesian: the
    (key, salt) condition is still a pure equi-join."""
    from limeqo_spark.manifest import REGISTRY

    from limeqo_spark.plans import explain_formatted

    text = explain_formatted(REGISTRY["skew_salted_join"].builder(spark, SF))
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text


def test_ivf_assignment_shuffle_free(spark):
    """IVF cell assignment is a per-row expression: the plan up to the
    candidate join must not exchange on vec_id (no window/crossJoin for
    assignment), and the probe-cells side is broadcast."""
    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.plans import explain_formatted

    text = explain_formatted(REGISTRY["ann_ivf_topk"].builder(spark, SF))
    assert "CartesianProduct" not in text
    assert "BroadcastExchange" in text  # probe cells join by broadcast
    # exactly ONE hash-partitioned exchange is allowed: the final top-k
    # window over probe_id (candidates -> ranking); assignment adds none
    import re

    hash_exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", text)
    assert all(c.startswith("probe_id") for c in hash_exchanges), hash_exchanges


def test_pq_adc_stays_expression_side(spark):
    """PQ encode + ADC-LUT scoring are per-row JVM expressions: no
    CartesianProduct between relations (the only nested-loop is the
    broadcast of the tiny probe/LUT frame, same as brute force), the
    shortlist and probe-vector joins broadcast, and every hash exchange is
    the probe_id top-k windows — nothing repartitions the corpus."""
    import re

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.plans import explain_formatted

    text = explain_formatted(REGISTRY["ann_pq_adc"].builder(spark, SF))
    assert "CartesianProduct" not in text
    assert "BroadcastExchange" in text
    hash_exchanges = re.findall(r"hashpartitioning\((\w+)", text)
    assert hash_exchanges and all(
        c.startswith("probe_id") for c in hash_exchanges
    ), hash_exchanges


def test_ivfpq_code_scan_prunes_and_stays_narrow(spark):
    """IVFADC's scan discipline: the PQ-code scan carries a static cell_id
    partition filter covering < nlist cells, reads ONLY (vec_id, codes) —
    never raw embeddings — and the corpus is not repartitioned (hash
    exchanges are the probe_id top-k windows only)."""
    import re

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.plans import explain_formatted

    text = explain_formatted(REGISTRY["ann_ivfpq_partitioned"].builder(spark, SF))
    # >10 values renders as INSET (inSetConversionThreshold), <=10 as IN (...)
    m = re.search(
        r"PartitionFilters: \[cell_id#\d+ (?:IN \(([\d,]+)\)|INSET ([\d, ]+?)(?:,\s*isnotnull|\]))",
        text,
    )
    assert m, "code scan carries no static cell_id partition filter"
    assert len((m.group(1) or m.group(2)).split(",")) < 16, "IN-list covers all cells"
    code_scan = next(
        s for s in text.split("ReadSchema: ")[1:] if "codes" in s.splitlines()[0]
    )
    assert "embedding" not in code_scan.splitlines()[0], "code scan reads raw vectors"
    assert "CartesianProduct" not in text
    hash_exchanges = re.findall(r"hashpartitioning\((\w+)", text)
    assert hash_exchanges and all(
        c.startswith("probe_id") for c in hash_exchanges
    ), hash_exchanges


def test_bitext_broadcasts_target_shard(spark):
    """Bitext mining's pair stage must broadcast the target language shard
    (BroadcastNestedLoopJoin — the documented fixture floor; never an
    unbroadcast CartesianProduct), and every shuffle is keyed by the
    sid/tid window/aggregation keys, not raw pair rows."""
    import re

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.plans import explain_formatted

    text = explain_formatted(
        REGISTRY["embed_bitext_margin_mining"].builder(spark, SF)
    )
    assert "BroadcastNestedLoopJoin" in text
    assert "CartesianProduct" not in text
    hash_exchanges = re.findall(r"hashpartitioning\((\w+)", text)
    assert hash_exchanges and all(
        c.startswith(("sid", "tid")) for c in hash_exchanges
    ), hash_exchanges


def test_bitext_ann_has_no_allpairs_stage(spark):
    """The 100 TB bitext miner (VERDICT r9 #2) must have NO all-pairs
    stage at all: no CartesianProduct, no BroadcastNestedLoopJoin — every
    join is an equi-join on cell_id (candidate generation) or sid/tid
    (denominators, mutual-best), so candidate volume is bounded by cell
    size instead of |S| x |T|."""
    import re

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.plans import explain_formatted

    text = explain_formatted(
        REGISTRY["embed_bitext_margin_mining_ann"].builder(spark, SF)
    )
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    hash_exchanges = re.findall(r"hashpartitioning\((\w+)", text)
    assert hash_exchanges and all(
        c.startswith(("sid", "tid", "cell_id")) for c in hash_exchanges
    ), hash_exchanges


def test_partition_pruning_reaches_directories(spark):
    """q46: the event_date equality filter must prune at the directory
    level (PartitionFilters in the scan), not post-filter all partitions."""
    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.plans import explain_formatted

    text = explain_formatted(REGISTRY["q46_partition_pruned_scan"].builder(spark, SF))
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "event_date" in m.group(1), f"no partition filter: {m}"


def test_pivot_is_single_pass(spark):
    """q56 pins its pivot values, so the plan is one scan of orders feeding
    partial+final aggregation — no distinct-values pre-pass (which would
    show as a second scan)."""
    plan = plan_of(spark, "q56_pivot")
    assert plan.count("Scan parquet") == 2  # one node: tree + details section
    assert plan.count("HashAggregate") >= 2


def test_cube_expands_once(spark):
    """q57's CUBE runs all four grouping sets via a single Expand over one
    pass of the data — not a union of four aggregations."""
    plan = plan_of(spark, "q57_cube_grouping")
    assert plan.count("Expand") == 2  # exactly one Expand node
    assert plan.count("Scan parquet") == 6  # customer+nation+region, once each


def test_variant_filter_pushdown(spark):
    """q53's props IS NOT NULL must reach the parquet scan even though the
    column is consumed as VARIANT downstream."""
    plan = plan_of(spark, "q53_variant_json")
    assert "IsNotNull(props)" in plan


def test_subqueries_decorrelate_to_joins(spark):
    """q59's EXISTS must become a left-semi join and q61's correlated scalar
    subquery an aggregate joined back — zero Subquery nodes survive (a
    per-row subquery re-execution would be catastrophic at scale)."""
    p59 = plan_of(spark, "q59_tpch_q4_exists")
    assert "LeftSemi" in p59 and "Subquery" not in p59
    p61 = plan_of(spark, "q61_tpch_q17_scalar_subquery")
    assert "Subquery" not in p61 and p61.count("Join") >= 2


def test_range_join_is_binned_not_nested_loop(spark):
    """q62: the pure time-range join must plan as an equi-join on the bin
    number — BroadcastNestedLoopJoin/CartesianProduct would be M x N."""
    plan = plan_of(spark, "q62_binned_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_ie_join_plan_has_no_nested_loop(spark):
    """q65: the general inequality join must run as block-pair cogrouped
    Arrow kernels — never BroadcastNestedLoopJoin / CartesianProduct, and
    no side broadcast whole."""
    plan = plan_of(spark, "q65_iejoin_band")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_minhash_signatures_partial_combine(spark):
    """The 16 MIN signature aggregates must be two-phase (map-side combine
    pre-shuffle) and the band candidate join must stay an equi-join."""
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_votes_partial_combine(spark):
    """The 60 per-bit vote SUMs must partial-combine before the shuffle;
    banding must keep the candidate join equi."""
    plan = plan_of(spark, "dedup_simhash")
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cluster_label_step_is_equi_join(spark):
    """One min-label propagation round must plan as an equi-join + partial
    min aggregate — no nested loop, no cartesian."""
    from limeqo_spark.pipeline.cluster import connected_components_min_label
    from limeqo_spark.pipeline.corpus import planted_corpus
    from limeqo_spark.pipeline.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(planted_corpus(spark, SF), n=3, tau=0.6)
    comp = connected_components_min_label(pairs.select("a", "b"), max_iter=1, strict=False)
    plan = explain_formatted(comp)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_bins_window_is_lang_partitioned(spark):
    """corpus_pack_bins' running-sum window must hash-partition by lang —
    a SinglePartition window would serialize the whole corpus through one
    task at scale (the salted-shard variant in the docstring is the next
    step, not a fix for an already-degenerate plan)."""
    from limeqo_spark.manifest import REGISTRY

    plan = explain_formatted(REGISTRY["corpus_pack_bins"].builder(spark, SF))
    assert "Window" in plan
    assert "hashpartitioning(lang" in plan, "window exchange must key on lang"
    # the only SinglePartition allowed is the final presentation ORDER BY
    import re

    win_region = plan.split("Window")[0]
    assert "SinglePartition" not in win_region, "window runs on one partition"


def test_q19_disjunction_pushes_to_both_scans(spark):
    """q69 (TPC-H Q19 shape): Catalyst must factor the OR-of-ANDs into
    per-side residues and push them — the lineitem scan carries the
    quantity envelope, the part scan the brand/size disjunction. An
    unfiltered scan on either side means the classic Q19 optimization
    regressed."""
    plan = plan_of(spark, "q69_tpch_q19_bracketed_disjunction")
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_quantity" in p and "Or(" in p for p in pushed), pushed
    assert any("p_brand" in p and "p_size" in p and "Or(" in p for p in pushed), pushed


def test_q6_all_predicates_push_to_scan(spark):
    """q71 (TPC-H Q6): the pure scan-agg — all three predicates must reach
    the parquet scan as PushedFilters and the ReadSchema must carry only
    the four referenced lineitem columns. This is the canary for pushdown
    health across the whole battery."""
    import re

    plan = plan_of(spark, "q71_tpch_q6_forecast_revenue")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    scan_schema = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_extendedprice" in scan_schema
    for col in ("l_orderkey", "l_partkey", "l_returnflag"):
        assert col not in scan_schema, f"unpruned column {col}"


def test_tpch_battery_dims_broadcast_no_nested_loop(spark):
    """Every deep-join TPC-H shape must broadcast its dimension sides and
    never fall back to a cartesian/BNLJ *between relations* — the only
    BNLJ allowed is joining a 1-row scalar-aggregate threshold (Q11/Q15/
    Q22 decorrelation), which is a broadcast of a single row."""
    for q in (
        "q70_tpch_q2_min_cost_supplier",
        "q72_tpch_q8_market_share",
        "q73_tpch_q9_product_profit",
        "q76_tpch_q14_promo_revenue",
        "q78_tpch_q16_supplier_part_counts",
        "q79_tpch_q20_part_promotion",
    ):
        plan = plan_of(spark, q)
        assert "BroadcastHashJoin" in plan, f"{q}: dims should broadcast"
        assert "CartesianProduct" not in plan, f"{q}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{q}: BNLJ between relations"


def test_q21_decorrelates_to_single_profile_aggregate(spark):
    """q80 (TPC-H Q21): the double EXISTS/NOT-EXISTS must decorrelate into
    the per-order profile aggregate — no nested-loop subplans, no per-row
    subqueries surviving, and the lineitem fact scanned exactly ONCE (the
    semi-join formulation scans and joins it twice with no exchange
    reuse)."""
    plan = plan_of(spark, "q80_tpch_q21_waiting_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Subquery" not in plan
    assert plan.count("lineitem.parquet") == 1, "fact must be scanned once"


def test_tfidf_topk_window_partitions_by_doc(spark):
    """text_tfidf_top_terms' top-k window must hash-partition by the
    high-cardinality doc_id — a SinglePartition window would serialize
    the whole corpus' (doc, term) pairs through one task."""
    plan = explain_formatted(REGISTRY["text_tfidf_top_terms"].builder(spark, SF))
    assert "Window" in plan
    assert "hashpartitioning(doc_id" in plan, "top-k window must key on doc_id"
    win_region = plan.split("Window")[0]
    assert "SinglePartition" not in win_region


def test_chunk_dedup_keeper_is_aggregate_not_window(spark):
    """dedup_chunk_reconstruct's keeper election must be the map-side
    combinable MIN(struct) aggregate on the digest — not a row_number
    window (which would shuffle every chunk row ranked) and never a
    cartesian/BNLJ. Text stays out of every exchange by construction
    (only digests and int pairs are grouped/joined)."""
    plan = explain_formatted(REGISTRY["dedup_chunk_reconstruct"].builder(spark, SF))
    assert "partial_min" in plan or "min(" in plan
    assert "row_number" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_skew_join_fires_on_hot_key(spark):
    """The AQE half of the skew story (manual salting is `skew_salted_join`):
    with a hot key and tuned thresholds, AdaptiveSparkPlan must split the
    skewed partition at runtime — SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead. This documents that the engine leaves AQE on and sized
    so the runtime lever actually fires; at 100 TB this is the first line
    of defense before salting."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(300_000).select(
            F.when(F.col("id") < 200_000, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        df = left.join(right, "k").groupBy().agg(F.sum("v").alias("sv"), F.sum("w").alias("sw"))
        [row] = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not mark the join skewed"
        assert "skewed" in plan, "no skewed AQEShuffleRead in the executed plan"
        # correctness under the split: hot key 0 joins w=0, rest join k*2
        assert row["sw"] == sum(2 * k for k in range(1, 1000) for _ in (0,)) * 100 + 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injects_for_selective_dim(spark):
    """Runtime-filter lever: a selective filter on the creation side of a
    shuffle join must inject a bloom_filter_agg semijoin reduction into the
    fact scan side (Spark's runtime bloom filter). The application-side
    size threshold defaults to 10GB — correct at 100 TB, never met on the
    fixture — so the test pins it to 0 to prove the machinery is live in
    this engine's sessions."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = li.join(o, li.l_orderkey == o.o_orderkey).agg(F.sum("l_quantity"))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_quota_threshold_variant_is_window_free(spark, sf_dir):
    """The 100 TB form of quota sampling must contain NO Window node —
    that is its entire reason to exist (the exact-rank form pays a
    per-language window; the threshold form is one scan + a broadcast
    of 5 thresholds)."""
    from limeqo_spark.plans import explain_formatted
    from limeqo_spark.relational.registry import REGISTRY

    plan = explain_formatted(
        REGISTRY["corpus_mix_quota_threshold"].builder(spark, sf_dir)
    )
    body = plan.split("== Physical Plan ==")[-1]
    assert "Window" not in body, "threshold variant regained a window"
    assert "BroadcastHashJoin" in body or "BroadcastExchange" in body


def test_dedup_embedding_cosine_is_lsh_blocked(spark):
    """Round 4: the embedding near-dup pair generator must be SRP-band
    blocked, never all-pairs — no CartesianProduct / BroadcastNestedLoop
    anywhere in the plan, and the candidate join is an equi-join on
    (band, key). This was the last registered builder with a crossJoin."""
    plan = plan_of(spark, "dedup_embedding_cosine")
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "BroadcastNestedLoopJoin" not in body


def test_q97_bloom_semijoin_injects_runtime_filter(spark):
    """q97's whole point: with broadcast off, the runtime Bloom filter must
    land as a might_contain predicate on the lineitem side of the semi-join
    (built by bloom_filter_agg over the urgent-orders creation side). The
    builder pins its confs on a newSession clone, so this must hold
    regardless of the ambient session's settings."""
    df = REGISTRY["q97_bloom_semijoin"].builder(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan, "runtime bloom filter not injected"
    assert "bloom_filter_agg" in plan
    assert "BroadcastHashJoin" not in plan  # the 100 TB premise: no broadcast


def test_q99_zorder_layout_prunes_box(spark, tmp_path):
    """q99's whole point, measured from the parquet footers: under the
    Z-order layout only a small fraction of row groups can intersect the
    2-D box (custkey 100-400 x year 1997), while the natural layout
    intersects with ~every row group (custkey is independent of insert
    order). 32 row groups at sf0.01: measured 5/32 vs 32/32. Uses the
    same zorder_write_orders / box_intersect_fraction the registered
    q99 + scale_pruning_gate run."""
    from limeqo_spark.relational.queries_scale import (
        box_intersect_fraction,
        zorder_write_orders,
    )

    zdir, ndir = str(tmp_path / "zord"), str(tmp_path / "natural")
    zorder_write_orders(spark, "/root/testdata/sf0.01", zdir)
    spark.read.parquet("/root/testdata/sf0.01/orders.parquet").repartition(
        32
    ).write.parquet(ndir)
    z_hit, z_tot = box_intersect_fraction(zdir)
    n_hit, n_tot = box_intersect_fraction(ndir)
    assert n_hit >= 0.9 * n_tot, f"natural layout unexpectedly selective: {n_hit}/{n_tot}"
    assert z_hit <= 0.4 * z_tot, f"z-order failed to localize the box: {z_hit}/{z_tot}"


def test_sessionize_single_hash_exchange(spark):
    """events_sessionize_gap's claim: the lag window, the cumsum window and
    the (user, session) rollup all reuse ONE user-keyed hash exchange —
    Catalyst must not re-shuffle between them. (The trailing range
    exchange is the final ORDER BY, not a data-sized shuffle.)"""
    import re

    df = REGISTRY["events_sessionize_gap"].builder(spark, SF)
    df.collect()
    # AdaptiveSparkPlan prints Final + Initial sections; count the final only
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_gapfill_no_cartesian_and_user_keyed_window(spark):
    """events_gapfill_locf: the grid build crossJoins ONLY the one-row
    bounds frame (broadcast of two scalars, never a data-sized cartesian),
    and the LOCF fill is a user-partitioned window, not a global sort."""
    plan = plan_of(spark, "events_gapfill_locf")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(user_id" in plan
    # the bounds frame reaches the join as a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin BuildRight" in plan or "BroadcastExchange" in plan


def test_zscore_three_aggs_one_window_pass(spark):
    """events_zscore (flat test-only reference): count/sum/sum-of-squares
    share one Window operator (single pass over the event_type frame), and
    the 3-sigma test stays integer (no float round-off in a filter,
    FIXTURES.md §3)."""
    from limeqo_spark.relational.queries_events import events_zscore

    df = events_zscore(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Window") == 1
    assert "stddev" not in plan.lower()


def test_er_pairing_is_blocked_equi_join(spark):
    """er_fuzzy_match_blocked: candidate pairs come from an equi-join on
    the block key — never a cartesian/nested-loop over names — and the
    levenshtein verifier is a codegen expression, not a Python UDF."""
    plan = plan_of(spark, "er_fuzzy_match_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embed_quantize_is_shuffle_free_expression(spark):
    """embed_quantize_int8: row-parallel codegen expressions end to end —
    the only exchange allowed is the final presentation ORDER BY (a range
    exchange); no hash shuffle, no Python evaluation."""
    plan = plan_of(spark, "embed_quantize_int8")
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "transform(" in plan


def test_boilerplate_topk_is_take_ordered(spark):
    """text_boilerplate_ngrams: the global top-20 must plan as
    TakeOrderedAndProject over the aggregated gram frame (per-partition
    heaps), never a single-partition rank window over the vocabulary."""
    plan = plan_of(spark, "text_boilerplate_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_centroid_aggregation_is_two_phase(spark):
    """embed_centroid_per_label: the (label, dim) aggregate must partial-
    combine map-side so the shuffle carries |labels|x64 cells, not the
    exploded corpus; everything stays JVM-expression-side."""
    plan = plan_of(spark, "embed_centroid_per_label")
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zscore_bucketed_windows_are_partition_bounded(spark):
    """events_zscore_anomaly_bucketed: every window must partition by
    (event_type, bucket) — the whole point of the variant is that no
    partition outgrows one week of one type's traffic."""
    plan = plan_of(spark, "events_zscore_anomaly_bucketed")
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the plan"
    for spec in specs:
        assert "event_type" in spec and ("bucket" in spec or "tb" in spec), spec


def test_inverted_index_sample_path_group_limits(spark):
    """text_inverted_index: the posting-sample path must carry
    WindowGroupLimit (map-side partial top-k per term BEFORE its
    shuffle) and the stats path must partial-aggregate — the raw
    posting set reaches no exchange twice."""
    plan = plan_of(spark, "text_inverted_index")
    assert "WindowGroupLimit" in plan
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan


def test_spread_exchange_is_single_and_reused(spark):
    """Gate for corpus.spread()'s contract (opt r12, VERDICT r11 #5): the
    doc_id-keyed repartition must be the ONLY doc_id hash exchange in a
    consumer's plan — downstream per-document aggregates reuse that
    partitioning instead of shuffling the much larger exploded token
    frame. If a second hashpartitioning(doc_id...) appears, spread() has
    become a pure extra shuffle and the 'what the aggregate would have
    paid anyway' argument no longer holds."""
    import re

    for name in ("text_fingerprint", "text_repetition_ratio"):
        plan = plan_of(spark, name)
        doc_exchanges = [
            m for m in re.findall(r"hashpartitioning\((\w+)[^)]*\)", plan)
            if m.startswith("doc_id")
        ]
        assert len(doc_exchanges) == 1, (name, doc_exchanges)
