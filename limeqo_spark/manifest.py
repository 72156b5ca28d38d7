"""Central query manifest: importing this module registers every queries()
entry — relational surface, pipeline operators, streaming — into
:data:`limeqo_spark.relational.registry.REGISTRY`."""

import limeqo_spark.pipeline  # noqa: F401
import limeqo_spark.relational  # noqa: F401
# streaming gates its own optional dependency (protobuf); a failed import
# must fail loudly instead of unregistering every streaming entry
import limeqo_spark.streaming  # noqa: F401

from limeqo_spark.relational.registry import REGISTRY, QuerySpec  # noqa: F401

#: Rotation aliases (round 12). The driver's CORRECTNESS gate verifies the
#: first 50 manifest entries alphabetically; each name below gets an
#: ``a12_`` alias pointing at the same builder/oracle. Window computed by
#: ``scripts/rotation_plan.py --prefix a12_`` at the END of the r12
#: optimization work (so "changed" reflects the round's commits): global
#: oldest-evidence-first across changed+stale (VERDICT r10 #1 rule). The
#: round's optimization touched dedup.py / similarity.py / streaming /
#: text.py, so every entry those files implement is changed-after-check;
#: the window takes the 50 with the oldest driver evidence — the full
#: dedup/ann family (all r12-optimized), the events battery, embed_*,
#: er_*, cdc (changed subset), the q98-q108 tail, text_boilerplate_ngrams
#: (r12-optimized) and the bpe/inverted-index text rows, prop_gates, and
#: q44a/q01 as the oldest changed bench anchors. Every a11_ alias is
#: RETIRED (CORRECTNESS_r11: 49 hash + 1 documented no-oracle PROP row).
#: Canonical names stay registered; local tests skip the aliases
#: (identical spec) to avoid double-running.
ROTATION_ALIAS_PREFIX = "a12_"
#: every alias prefix in use this round (local tests skip all of them)
ROTATION_ALIAS_PREFIXES = ("a12_",)
_ROTATION_R12 = ['ann_ivf_partitioned', 'ann_ivf_topk', 'ann_ivfpq_partitioned', 'ann_lsh_bucketed', 'ann_pq_adc', 'ann_recall_gate', 'cdc_merge_apply', 'cdc_snapshot_diff', 'customer_rfm_segments', 'dedup_cluster_best_quality', 'dedup_cluster_canonical', 'dedup_exact_keep_first', 'dedup_minhash_lsh', 'dedup_ngram_jaccard', 'dedup_ngram_jaccard_capped', 'dedup_semantic_clusters', 'dedup_simhash', 'dedup_substring_spans', 'embed_bitext_margin_mining', 'embed_centroid_per_label', 'embed_power_iteration_pc1', 'embed_quantize_int8', 'er_canonical_entities', 'er_fuzzy_match_blocked', 'events_attribution_last_touch', 'events_cohort_retention', 'events_funnel_stages', 'events_gapfill_locf', 'events_markov_transitions', 'events_sessionize_gap', 'events_twap_per_user', 'events_zscore_anomaly_bucketed', 'prop_gates', 'q01_parquet_scan_checksum', 'q100_data_quality_checks', 'q101_frequent_pairs_apriori', 'q102_recursive_cte_bom', 'q103_python_datasource', 'q104_table_stats_profile', 'q105_stream_merge_apply', 'q106_triangle_count', 'q107_pagerank_fixed_point', 'q108_stream_zscore_anomaly', 'q44a_stream_tumbling', 'q98_skew_diagnostics', 'supplier_spend_pareto', 'text_boilerplate_ngrams', 'text_bpe_encode', 'text_bpe_vocab_merges', 'text_inverted_index']

for _name in _ROTATION_R12:
    _spec = REGISTRY[_name]
    _alias = ROTATION_ALIAS_PREFIX + _name
    REGISTRY[_alias] = QuerySpec(
        _alias,
        _spec.builder,
        _spec.oracle,
        _spec.check,
        f"driver-window rotation alias of {_name}",
    )
