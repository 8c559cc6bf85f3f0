"""Partitioning/AQE determinism — the SURVEY.md §8.1 claim as a test.

A distributed plan is only correct at scale if its *values* don't
depend on physical execution: shuffle partition count, AQE re-planning,
task scheduling order. Every query here runs twice — once under the
session default (4 shuffle partitions, AQE on) and once under 7
partitions with AQE off — and must return the identical canonicalized
row set. The sample deliberately spans the hazard classes: window
tiebreaks, per-group top-k, hash dedup survivors, LSH bucketing,
deterministic sampling, skew salting, prefix sums, FP aggregation
(rounded columns).
"""

import math

import pytest

SF = "/root/testdata/sf0.001"

SAMPLE = [
    "j1_alias_precedence_lookup",   # window survivor under ties
    "o2_pergroup_topk_orders",      # per-group top-k
    "x1_exact_dedup",               # hash-dedup survivor
    "x2_neardup_minhash_portable",  # banded minhash pairs
    "x3_ann_lsh_topk",              # LSH buckets + cosine re-rank
    "x7_stratified_mix",            # hash-coin sampling
    "x7_token_budget_cap",          # per-source prefix sum
    "w2_ranking_pack",              # rank/dense_rank/ntile
    "a10_quantile_pack",            # exact percentiles
    "j12_salted_skew_join",         # deterministic salt
    "t18_trending_topk",            # rank over windowed agg
    "x9_pack_contexts",             # cross-source prefix-sum packing
    "x4_unigram_logprob",           # FP log-sum mean, decimal-rounded
    "t19_interpolate_gaps",         # IGNORE-NULLS windows + FP interp
    "x3_int8_topk",                 # FP-scored top-k, id tiebreaks
    "x3_int8_ivf_topk",             # headline int8×IVF composition
    "x3_pq_topk",                   # PQ codes + j-ordered LUT folds
    "x4_bpe_train",                 # iterative argmax under shuffling
    "p20_variant_pack",             # variant binary encoding stability
    "x2_neardup_clusters_contracting",  # iterative star contraction
    "a10_approx_quantile_sketch",   # sketch verdicts under merge order
    "x1_bloom_prefilter_dedup",     # map-typed broadcast + gated join
    "x7_weighted_sample_ares",      # class-B-keyed reservoir top-k
    "x2_knn_pagerank",              # iterative FP ranks, ckpt barrier
    "s16_zorder_layout",            # bit-interleave grouping
    "o6_pareto_skyline",            # prefilter + range-window staircase
    "a15_table_profile",            # mode tiebreak under shuffling
    "x2_triangle_count",            # orientation under partitioning
    "x2_incremental_minhash",       # best-match tiebreak
    # r6: the advancing-frontier streaming family — drop sets, pair
    # sets, null-emission and dup/late splits must not depend on the
    # session's partitioning (each stream caps its state store at
    # min(session, STREAM_STATE_PARTITIONS) partitions, so these run
    # at 4 and at 7; staging/admission must not leak)
    "t22_watermark_advance_drops",
    "t23_interval_join_advance",
    "t25_stateful_dedup_advance",
    # the memory-sink streams under the same cap: dedup survivors,
    # per-key pandas state, sealed tumbling windows
    "t8_stateful_dedup_stream",
    "t8_stateful_counters_stream",
    "t7_watermark_tumbling_stream",
    "a16_heavy_hitters",            # MG verdicts under partitioning
    "a17_count_min",                # CMS cells under partial-agg plans
    "x7_temperature_mix",           # data-derived rate, integer coin
    "x3_hamming_topk",              # packed words + popcount ranks
    # r7 second batch: the hash/argmin-heavy newcomers
    "a21_kmv_set_ops",              # K-min sketches under TakeOrdered merges
    "x9_epoch_shuffle",             # seeded shard folds + endpoint argmins
    "x3_mmr_diversify",             # greedy argmax chain over ckpt'd pool
    "w8_streak_islands",            # islands + struct-argmin longest pick
    "f3_attribution",               # struct-argmax picks + none bucket
    "x3_index_compaction",          # rewrite-vs-mask equality per query
    "j16_binned_range_join",        # bin decomposition + residual filter
    # r9: the new staircase consumers — interpolated quantiles, AUC
    # midranks, decile cuts and filtered-ANN ranks must not depend on
    # the physical partitioning the two-level decomposition hides
    "x3_ood_score",                 # double-banded global p95 lookup
    "x6_auc_exact",                 # BIGINT Mann-Whitney midrank sum
    "a52_spend_decile_profile",     # staircase rank + integer decile cut
    "x3_filtered_ann",              # pre-filter + struct-min cells + rank
    "a54_basket_affinity",          # scaled-lift TakeOrdered under shuffle
    "x2_boilerplate_prefix_report", # prefix-digest groups under agg plans
    # r10: the new staircase consumers and tiebreak-heavy additions —
    # grouped quartile lookups, per-replica weighted midranks, dual
    # serving plans and per-half decile cuts must not depend on the
    # session partitioning or AQE re-planning
    "a10_quantile_pack",            # grouped staircase quartiles
    "x6_bootstrap_auc_ci",          # per-replica weighted midrank sums
    "x2_band_index_compaction",     # compacted-vs-fresh dual serving
    "a57_decile_migration",         # per-half rank + integer decile cut
    "x3_pq_distortion_report",      # min-struct encode + double bands
    "w16_revenue_drawdown",         # trough-day (draw DESC, day) tiebreak
    # r11: the online staircase and the policy-driven compaction —
    # per-batch exact quantiles from merged band state and the fired/
    # not-fired decision sequence must not depend on the session's
    # partitioning or AQE re-planning (each runs its own bounded
    # stream; staging/admission must not leak)
    "t40_quantile_monitor_stream",  # state-merged exact p50/p95 per batch
    "x2_triggered_compaction_stream",  # trigger decisions + store sizes
    # r11 batch 2: CDC chunk boundaries + first-occurrence ranking,
    # graded-rank tiebreaks, the grid argmin, and the three new
    # online-maintained states (top-k merge, dyadic decay, k-min
    # sketch) must not depend on partitioning/AQE or admission order
    "x2_cdc_chunk_dedup",           # chunk ids + first-occurrence window
    "x6_ndcg_mrr_report",           # cos-rank + ideal-rank tiebreaks
    "x6_calibration_fit",           # NLL grid argmin struct-min
    "t42_reservoir_sample_stream",  # top-k monoid state across batches
    "t43_decayed_counter_stream",   # exact integer decay recurrence
    "t44_distinct_monitor_stream",  # k-min sketch merge + referee
    "t45_heavy_hitter_stream",      # deterministic MG prune sequence
    "t46_prequential_anomaly_stream",  # prior-state fences + flag counts
    "x3_codebook_split_retrain",    # worst-subspace argmax + split encode
    "x6_multiclass_f1_report",      # label-dim outer joins + averages
    "f5_conversion_lag_quantiles",  # staircase quantiles on lag bands
]


def _canon(df):
    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.12g}"
        if isinstance(v, list):
            return tuple(cell(x) for x in v)
        return v
    cols = sorted(df.columns)
    # key=repr gives a total order even when nullable columns mix None
    # with ints (Python can't compare them directly — hit by
    # x2_band_index_compaction's NULL dup_of cells, r10)
    return sorted((tuple(cell(r[c]) for c in cols)
                   for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", SAMPLE)
def test_values_survive_partitioning_and_aqe(spark, name):
    from stock_data_warehouse_spark.plans.registry import query_fns
    fn = query_fns()[name]
    a = _canon(fn(spark, SF))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        b = _canon(fn(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert a == b
