"""Plan auditor: check the physical plans of the headline queries for the
properties the engine promises at scale (SURVEY.md "optimize for scale"):

- parquet scans carry PushedFilters + a pruned ReadSchema;
- dimension joins are BroadcastHashJoin (no fact-side shuffle);
- rank<=k windows use WindowGroupLimit (per-partition top-k);
- sort+limit plans as TakeOrderedAndProject (no global sort);
- every nested-loop join has a side with a small static row bound
  (``unbounded_nodes``), except the keys named in UNBOUNDED_NLJ;
- every window with no PARTITION BY, which runs in one task, reads an
  input with a small static row bound (``unbounded_nodes``), except the
  keys named in UNBOUNDED_WINDOW.
  tests/test_entry.py checks both rules for every registry key, on the
  returned frame and on every frame checkpointed while the key builds.

Usage: python tools/explain_audit.py [key ...]
Prints PASS/WARN per assertion plus the formatted plan on WARN.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

CHECKS: dict[str, list[tuple[str, str]]] = {
    # key -> list of (must_match_regex, label)
    "scan_parquet": [
        (r"PushedFilters: \[.*GreaterThanOrEqual", "filter pushed to parquet"),
        (r"ReadSchema: [^\n]*l_orderkey[^\n]*l_linenumber[^\n]*l_quantity", "column pruning"),
    ],
    "filter_conj": [
        (r"PushedFilters: \[.*In\(l_returnflag", "IN-list pushdown"),
    ],
    "join_broadcast": [(r"BroadcastHashJoin", "broadcast join")],
    "join_star": [
        (r"BroadcastHashJoin", "dimension joins broadcast"),
    ],
    "win_topk": [(r"WindowGroupLimit", "per-partition top-k rewrite")],
    "topk": [(r"TakeOrderedAndProject", "partial top-k, no global sort")],
    "agg_basic": [
        (r"HashAggregate", "hash aggregate"),
        (r"partial_sum", "map-side partial aggregation"),
    ],
    "join_merge": [
        (r"PushedFilters: \[.*EqualTo\(o_orderstatus,F\)", "status filter below join"),
    ],
    "sim_topk": [(r"Broadcast", "query side broadcast")],
    "text_winnow": [
        (r"Window", "min-in-window keyed select per doc"),
        (r"HashAggregate", "distinct-fingerprint digest aggregates"),
    ],
    "ts_acf": [
        (r"Window", "lag chain over one keyed window"),
        (r"partial_sum|HashAggregate", "map-side partial num/den sums"),
    ],
    "ts_paa_sax": [
        (r"Window", "rank window for the series prefix"),
        (r"HashAggregate", "two-level (user, seg) aggregation"),
    ],
    "emb_truncate_quality": [
        (r"Broadcast", "20-row query side broadcast (brute-force baseline shape)"),
    ],
    "dedup_bloom_membership": [
        (r"BroadcastHashJoin", "kilobyte bloom-position set broadcast to the probe"),
    ],
    # ---- round-7 window gates (every window key gets >=1 positive row)
    "feat_hashing_trick": [
        (r"Generate", "token explode (no driver-side vectorization)"),
        (r"HashAggregate", "bucketed counts via two-level hash agg"),
    ],
    "aqp_bootstrap_ci": [
        (r"Window", "replica ranking window"),
        (r"HashAggregate", "per-replica partial means"),
    ],
    "text_lm_bigram_backoff": [
        (r"BroadcastHashJoin", "bigram/unigram count tables broadcast"),
        (r"Window", "adjacent-token bigram window"),
    ],
    "graph_clustering_coeff": [
        (r"SortMergeJoin", "edge-keyed triangle enumeration joins"),
        (r"HashAggregate", "degree + triangle-count aggregation"),
    ],
    "graph_link_predict": [
        (r"SortMergeJoin", "common-neighbor equi-join"),
        (r"BroadcastHashJoin", "small degree table broadcast"),
    ],
    # graph_wcc's iterative star/propagation rounds run BEFORE the final
    # checkpoint, so the returned plan is just the component rollup; the
    # per-round plans are covered by the dedup_clusters/star gates.
    "graph_wcc": [
        (r"HashAggregate", "component rollup over checkpointed labels"),
    ],
    # stream_topk_merge / stream_watermark return post-streaming results
    # (the checkpointed fold state / the memory sink) — the streaming plan
    # itself is not visible in the returned DataFrame; assert the visible
    # merge shape.
    "stream_topk_merge": [
        (r"Window", "cross-batch per-key rank merge"),
    ],
    "stream_watermark": [
        (r"LocalTableScan|Scan ExistingRDD", "memory-sink result scan"),
    ],
    # r8: the multi-batch late-drop companion materializes its census
    # eagerly (the in-code drop assertion needs it), so the returned
    # plan is the checkpointed census scan; the streaming + batch-join
    # shape runs at construction time and is proven by the in-code raise.
    "stream_watermark_latedrop": [
        (r"Scan ExistingRDD", "checkpointed late-drop census"),
    ],
    # scan_log_parse materializes the text round trip eagerly (the temp
    # dir is deleted in its finally block), so the returned plan is the
    # checkpointed scan; the parse/agg shape is proven by the oracle.
    "scan_log_parse": [
        (r"Scan ExistingRDD", "materialized text-roundtrip parse result"),
    ],
    "pipeline_contrastive_negatives": [
        # round-7: the random-negative pool join graduated from the BNLJ
        # allowlist to a hash-bucketed EQUI-join (bkt = doc_id % B both
        # sides, lang-inequality as residual) — must plan as a hash join.
        (r"BroadcastHashJoin.*\[bkt", "bucketed pool equi-join on bkt"),
        (r"Window", "per-anchor rank windows"),
    ],
    "text_rake_keywords": [
        (r"Window", "stopword gaps-and-islands + per-doc top-k"),
        (r"HashAggregate", "phrase/word-stat aggregations"),
    ],
    "pipeline_span_corrupt": [
        (r"Window", "running sentinel numbering per doc"),
        (r"HashAggregate", "span and example reassembly aggregations"),
    ],
    # round-6 window flagships (VERDICT item 8): most already carried
    # gates further down this dict; only the genuinely ungated are added
    "pipeline_tokenize_pack": [
        (r"Window", "per-shard running-sum packing window"),
    ],
    "graph_degree": [
        (r"BroadcastHashJoin", "node dimension broadcast"),
        (r"HashAggregate", "degree counting as hash aggregation"),
    ],
    "scan_partition_pruned": [
        (r"PartitionFilters: \[[^\]]*o_orderstatus", "partition pruning"),
    ],
    "scan_dpp": [
        (r"dynamicpruning", "runtime partition pruning from the dim side"),
    ],
    "flagship_pipeline": [
        (r"WindowGroupLimit", "partial dedup before shuffle"),
        (r"TakeOrderedAndProject", "offset+limit as partial top-k"),
    ],
    "join_salted": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", "hash equi-join on (key, salt)"),
        (r"explode\(\[0,1,2", "build side exploded once per salt value"),
    ],
    # r11: merge-as-of — tagged union + one keyed shuffle + running
    # last(ignorenulls) window; the old equi-join fan-out is gone.
    "join_asof": [
        (r"Union", "both sides tagged and unioned (merge-as-of)"),
        (r"hashpartitioning\(user_key", "one keyed shuffle of thin union rows"),
        (r"last\(__asof_pay", "payload carried forward via running last over the key window"),
    ],
    "dedup_minhash": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", "candidate pairs via band-bucket equi-join"),
    ],
    "text_decontaminate": [
        (r"BroadcastHashJoin", "benchmark gram set broadcast, corpus never shuffles"),
    ],
    "agg_two_stage": [
        (r"hashpartitioning\(event_type[^\)]*salt", "stage-1 partials spread over (key, salt)"),
    ],
    "ts_ohlc": [
        (r"max_by", "open/close via min_by/max_by, no window"),
    ],
    "sql_tpch_q4": [(r"LeftSemi", "EXISTS as left-semi join")],
    "sql_tpch_q22": [(r"LeftAnti", "NOT EXISTS as left-anti join")],
    "dedup_levenshtein": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", "blocked equi-join, Levenshtein post-filter"),
    ],
    # NOTE: the per-round join+agg shape of graph_pagerank is invisible in
    # the returned plan (localCheckpoint truncates lineage each round); the
    # gate checks the final top-100 is a partial top-k, not a global sort.
    "graph_pagerank": [
        (r"TakeOrderedAndProject", "top-100 as partial top-k, no global sort"),
    ],
    "dedup_best_of": [
        (r"max_by", "survivor via max_by, no window/second shuffle"),
    ],
    "snapshot_diff": [
        (r"SortMergeJoin FullOuter|ShuffledHashJoin FullOuter", "key-partitioned full-outer join"),
    ],
    "agg_partial_merge": [
        (r"HashAggregate", "two-level hash aggregation"),
    ],
    "global_row_number": [
        (r"BroadcastHashJoin", "bucket offsets broadcast back (no data-scale sort)"),
        (r"hashpartitioning\(bucket", "full-data window partitioned by bucket"),
    ],
    # r11: df derives from the ONE collected set — a single
    # partial+final object-hash aggregate, no separate distinct-count
    # dedup exchange.
    "inverted_index": [
        (r"partial_collect_set", "posting sets partially aggregated (deduped) map-side"),
    ],
    "table_checksum": [
        (r"partial_sum|partial_count", "checksum partially aggregated map-side"),
    ],
    "emb_mean_pool": [
        (r"HashAggregate", "grouped (label, pos) hash aggregation"),
    ],
    "win_pattern_match": [
        (r"hashpartitioning\(user_id", "pattern window partitioned by user (no global sort)"),
    ],
    "join_interval_bin": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", "bin-bucket equi-join, range as post-filter"),
    ],
    "agg_share_of_total": [
        (r"partial_sum", "per-nation revenue partially aggregated map-side"),
        (r"BroadcastHashJoin", "supplier/nation dims broadcast"),
    ],
    "dedup_url": [
        (r"HashAggregate", "canonical-url hash aggregation"),
    ],
    "cache_reuse": [
        (r"InMemoryTableScan", "second branch reads the cached intermediate"),
    ],
    "hint_rebalance": [
        (r"REBALANCE_PARTITION", "AQE output rebalance requested"),
    ],
    "join_bloom_pruned": [
        (r"bloom_filter_agg", "runtime bloom built from the selective side"),
        (r"BloomFilterMightContain|might_contain", "probe-side scan filtered by the bloom"),
    ],
    "pipeline_rlhf_pairs": [
        (r"max_by", "chosen/rejected via arg-extrema, no self-join"),
    ],
    "sql_lateral_topk": [
        (r"Window", "LATERAL decorrelated to a keyed window top-k"),
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "correlation as an equi-join, no per-row re-execution"),
    ],
    "sample_weighted": [
        (r"TakeOrderedAndProject", "k smallest ES keys as partial top-k, no global sort"),
    ],
    "layout_range_cluster": [
        (r"HashAggregate", "per-range stats hash-aggregated"),
        (r"partial_min", "range min/max partially aggregated map-side"),
    ],
    "pipeline_sft_format": [
        (r"codegen id", "template assembly stays in whole-stage codegen (no UDF)"),
    ],
    "win_ntile": [
        (r"hashpartitioning\(o_orderpriority", "ntile window partitioned by key (no global sort)"),
        (r"partial_min|partial_count", "bucket stats partially aggregated map-side"),
    ],
    "sketch_countmin": [
        (r"partial_count", "partial sketches merged map-side"),
    ],
    "win_running_distinct": [
        (r"hashpartitioning\(user_id", "both windows keyed by user (no single-partition window)"),
    ],
    "win_rolling_median": [
        (r"hashpartitioning\(user_id", "rolling median keyed by user (no single-partition window)"),
    ],
    "json_variant": [
        (r"codegen id", "variant parse+access stays in codegen (no UDF)"),
    ],
    "try_fns": [
        (r"codegen id", "try_* scalars stay in codegen"),
    ],
    "dq_drift_psi": [
        (r"partial_count", "per-bin period counts partially aggregated map-side"),
    ],
    "dq_impute": [
        (r"HashAggregate", "user means via hash aggregate (no window over the fact table)"),
        (r"BroadcastNestedLoopJoin|BroadcastHashJoin", "one-row global mean broadcast"),
    ],
    "layout_zorder": [
        (r"partial_min|partial_count", "per-cell stats partially aggregated map-side"),
    ],
    "layout_hilbert": [
        (r"partial_min|partial_count", "per-cell stats partially aggregated map-side"),
        (r"element_at\(", "constant curve table applied as a narrow map (no UDF, no join)"),
    ],
    "join_skew_hybrid": [
        (r"BroadcastHashJoin", "hot keys take the map-side broadcast branch"),
        (r"SortMergeJoin|ShuffledHashJoin", "cold keys take the ordinary shuffle join"),
    ],
    # r12: the prefix machinery moved inside the blocked pair workers —
    # intersection counts are per-(block-pair) GEMMs; the one exchange
    # carries thin (id, vid-array) rows, never the pair mass.
    "dedup_ppjoin": [
        (r"FlatMapGroupsInPandas",
         "exact intersection counts confined to the block-pair worker"),
        (r"hashpartitioning\(__bp_i",
         "single thin shuffle keyed by block-pair, no pair-sized exchange"),
    ],
    # the exact key's pair stream lives inside a per-label block worker
    # (operators/cosblocks.py block_topk_fn) — one thin label-keyed
    # shuffle, no pair-sized exchange, no window.
    "emb_knn_graph": [
        (r"FlatMapGroupsInPandas", "all-pairs cosine confined to the label-block worker"),
        (r"hashpartitioning\(label", "single thin shuffle keyed by label"),
    ],
    # r11: the bucketed scale path — assignment is a vectorized Arrow
    # UDF (never row-at-a-time), the per-(label,cell) cap gets a
    # partial+final WindowGroupLimit around a keyed exchange of THIN
    # id rows, pairs are born inside the FlatMapGroupsInPandas block
    # worker, and the final per-node top-k is keyed by vec_a.
    "emb_knn_graph_ann": [
        (r"ArrowEvalPython", "top-cells assignment is a vectorized Arrow UDF"),
        (r"hashpartitioning\(label#\d+, cell", "block shuffle keyed (label, cell)"),
        (r"WindowGroupLimit.*512, Partial", "per-block cap partially applied map-side"),
        (r"FlatMapGroupsInPandas", "all-pairs cosine confined to the block worker"),
        (r"hashpartitioning\(vec_a", "final top-k window keyed by vec_a"),
    ],
    "win_anomaly_zscore": [
        (r"hashpartitioning\(user_id", "rolling stats keyed by user (no single-partition window)"),
    ],
    "agg_regression": [
        (r"partial_sum", "five OLS sums partially aggregated map-side"),
    ],
    "text_entropy": [
        (r"partial_count", "token counts partially aggregated map-side"),
        (r"hashpartitioning\(doc_id", "entropy fold keyed by doc"),
    ],
    "text_lm_score": [
        (r"BroadcastHashJoin", "vocab probabilities broadcast onto the token stream"),
        (r"partial_count", "vocab counts partially aggregated map-side"),
    ],
    "agg_weighted_median": [
        (r"hashpartitioning\(event_type", "cumulative-weight windows keyed by group"),
    ],
    "dedup_substring": [
        (r"hashpartitioning\(h", "first-wins ranking shuffles on the window hash"),
        (r"hashpartitioning\(doc_id", "per-doc re-agg keyed by doc"),
    ],
    "corpus_token_budget": [
        (r"hashpartitioning\(bucket", "running sum keyed by quality bucket (no global-order window)"),
        (r"BroadcastHashJoin", "bucket offsets broadcast back"),
    ],
    "join_nearest": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "bin-bucket equi-join, band as post-filter (no theta nested loop)"),
    ],
    "text_bpe_merges": [
        (r"partial_count", "pair counts partially aggregated map-side"),
        (r"TakeOrderedAndProject", "top-10 merges as partial top-k"),
    ],
    "ts_cusum": [
        (r"BroadcastNestedLoopJoin|BroadcastHashJoin",
         "one-row global mean carried in-plan (no driver collect)"),
        (r"hashpartitioning\(user_id", "cusum window keyed by user"),
    ],
    "text_tfidf": [
        (r"BroadcastNestedLoopJoin|BroadcastHashJoin",
         "one-row corpus count carried in-plan (no driver count)"),
        (r"partial_count", "tf/df counts partially aggregated map-side"),
    ],
    "graph_triangles": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "wedge closure via equi-joins (degree-bounded, no all-pairs)"),
        (r"partial_count", "per-node triangle counts partially aggregated"),
    ],
    "extract_page_items": [
        (r"ArrowEvalPython|EvalPython", "page parse is Arrow-batched (one UDF pass over pages)"),
        (r"HashAggregate", "page assembly is a keyed hash aggregate"),
    ],
    "sim_ann_multitable": [
        (r"BroadcastHashJoin", "bucket probe against broadcast query side"),
        (r"hashpartitioning\(query_id", "cross-table dedup + top-k keyed by query"),
        (r"WindowGroupLimit", "rank<=k rewritten to per-partition group limit"),
    ],
    "sim_ann_recall": [
        (r"BroadcastHashJoin", "per-method candidate sets broadcast-joined"),
        (r"partial_count", "recall counts partially aggregated map-side"),
    ],
    "ts_ewma": [
        (r"hashpartitioning\(user_id", "one keyed shuffle for the lag window"),
        (r"lag\(value", "EWMA unrolled to constant-state lags (no unbounded frame)"),
    ],
    "join_spatial_grid": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "3x3 neighborhood as a cell equi-join (no distance cross product)"),
    ],
    "mm_phash_dedup": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "candidates only via band-bucket equi-join"),
    ],
    "sim_ivfpq_search": [
        (r"BroadcastHashJoin", "tiny query side broadcast, corpus never shuffles for candidates"),
        (r"WindowGroupLimit", "ADC shortlist + exact re-rank as partial top-k"),
    ],
    "sim_ivfpq_recall": [
        (r"WindowGroupLimit", "exact-truth top-k is a partial group limit"),
    ],
    "sim_ivfpq_probe3": [
        (r"BroadcastHashJoin", "3 probe cells still only grow the broadcast query side"),
        (r"WindowGroupLimit", "scaled shortlist + re-rank as partial top-k"),
    ],
    "curation_skyline": [
        (r"hashpartitioning\(lang", "dominance scan keyed by lang over distinct metric levels"),
        (r"BroadcastHashJoin", "frontier levels broadcast back over the corpus"),
    ],
    "sample_bottomk_merge": [
        (r"WindowGroupLimit", "per-shard bottom-k keeps k rows per shard"),
        (r"TakeOrderedAndProject", "merge stage is a partial top-k, no global sort"),
    ],
    "ts_multires_rollup": [
        (r"partial_sum\(cast\(value", "raw aggregated once at the fine (hourly) key"),
        (r"partial_sum\(tot", "daily level merges hourly partial states, not raw rows"),
    ],
    # r11: the assignment subtree (k-row centroid broadcast + per-vector
    # window) is materialized ONCE behind a lazy localCheckpoint (it used
    # to re-run per plan leg), so the final plan shows the checkpointed
    # scan; the gates pin the explicit centroid fan-out partitioning and
    # that the pair stream stays cluster-blocked.
    "dedup_semantic": [
        (r"Scan ExistingRDD", "assignment materialized once, not per leg"),
        (r"hashpartitioning\(centroid_id", "pair candidates blocked by cluster equi-join"),
    ],
    "curation_pipeline_e2e": [
        (r"WindowGroupLimit", "dedup/cap windows as per-partition group limits"),
        (r"Filter \(", "quality filter runs below the first shuffle"),
    ],
    "text_containment": [
        (r"BroadcastHashJoin", "benchmark gram set broadcast, corpus never shuffles for candidates"),
    ],
    "ts_seasonal_decompose": [
        (r"BroadcastHashJoin", "seasonal (|keys| x 24) profile broadcast back"),
        (r"hashpartitioning\(event_type", "moving average is a keyed window"),
    ],
    "feat_target_encode": [
        (r"BroadcastHashJoin", "per-category sums broadcast over one fact scan"),
    ],
    # r11: merge-as-of per feature table (operators/asof.py).
    "join_pit_multi": [
        (r"Union", "spine and feature sides tagged and unioned (merge-as-of)"),
        (r"hashpartitioning\(user_id", "keyed shuffles of thin union rows"),
        (r"last\(__asof_pay", "payloads carried forward via running last windows"),
    ],
    "ts_holt_winters": [
        (r"FlatMapGroupsInPandas", "Arrow-grouped stateful pass"),
        (r"hashpartitioning\(user_id", "series key partitioning, state stays per-executor"),
    ],
    "sketch_hll_det": [
        (r"partial_max", "map-side register merge == per-partition sketch build"),
    ],
    "corpus_ccnet_buckets": [
        (r"BroadcastHashJoin", "vocab broadcast over the token stream"),
    ],
    "aqp_sample_mean": [
        (r"Filter", "sample predicate drops rows before any shuffle"),
        (r"partial_sum", "both sides are map-side-combined keyed aggregates"),
    ],
    "ml_logreg_gd": [
        (r"partial_avg|partial_sum", "gradient components map-side combined"),
        (r"BroadcastNestedLoopJoin|BroadcastExchange",
         "weights flow as one-row broadcasts, never collected"),
    ],
    "emb_pca_power": [
        (r"InMemoryTableScan", "centered matrix cached, not re-exploded per iteration"),
        (r"partial_sum", "matrix products are map-side-combined integer sums"),
    ],
    "join_hinted": [
        (r"ShuffledHashJoin", "SHUFFLE_HASH hint honored over the broadcast default"),
    ],
    "text_collocations_pmi": [
        (r"TakeOrderedAndProject", "top-k collocations as partial top-k, no global sort"),
        (r"BroadcastHashJoin", "unigram table broadcast back over bigram counts"),
    ],
    "corpus_build_e2e": [
        (r"WindowGroupLimit", "both dedup stages as per-partition group limits"),
        (r"partial_sum", "shard manifest rollup map-side combined"),
    ],
    "merge_upsert": [
        (r"SortMergeJoin.*FullOuter|ShuffledHashJoin.*FullOuter",
         "three-clause merge as ONE keyed full outer join"),
        (r"partial_count", "source rollup map-side combined"),
    ],
    # round-4 sketch graduations: the error-bound contract must be computed
    # in-plan (partial sketch agg + the exact side), never driver-side
    "agg_approx_distinct": [
        (r"partial_approx_count_distinct|approx_count_distinct",
         "HLL++ partial aggregation"),
        (r"partial_count|count\(", "exact side in the same plan"),
    ],
    "agg_approx_quantile": [
        (r"percentile_approx", "KLL sketch aggregation"),
        (r"BroadcastHashJoin",
         "rank-verification join broadcasts the 12-row quantile table"),
    ],
    "sketch_hll_merge": [
        (r"hll_union_agg", "sketch MERGE path (not a direct re-sketch)"),
        (r"partial_hll_sketch_agg|hll_sketch_agg",
         "per-shard sketches built map-side"),
    ],
    "dedup_simhash_recall": [
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "banded candidates via equi-join, never all-pairs"),
        (r"bit_count", "exact popcount hamming filter in-plan"),
    ],
    # round-13/14 batches
    "recs_item_cf": [
        (r"WindowGroupLimit", "top-3 per item as a partial group limit"),
        (r"BroadcastHashJoin", "item-count sides broadcast onto the pairs"),
    ],
    "agg_pushdown_join": [
        (r"partial_sum", "fact pre-aggregated map-side before any join"),
        (r"BroadcastHashJoin", "dimension chain broadcast onto the partials"),
    ],
    "corpus_anneal_mix": [
        (r"partial_sum", "per-source token totals map-side combined"),
    ],
    "ml_naive_bayes": [
        (r"WindowGroupLimit", "argmax class as a partial group limit"),
        (r"BroadcastHashJoin", "(class, token) count model broadcast"),
    ],
    "agg_mutual_info": [
        (r"partial_count", "contingency cells map-side combined"),
        (r"BroadcastHashJoin", "margins broadcast onto the cell table"),
    ],
    "ts_theil_sen": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "pair join blocked per event_type, never all-pairs"),
        (r"partial_sum", "daily cents partials map-side combined"),
    ],
    # graph_label_prop's per-round join+argmax plans are truncated by the
    # per-round localCheckpoint (as in graph_pagerank); the returned plan
    # shows only the final community-size window, which must be keyed.
    "graph_label_prop": [
        (r"hashpartitioning\(lbl",
         "community-size window keyed by label (no single-partition window)"),
    ],
    "recs_covisit_next": [
        (r"hashpartitioning\(user_id",
         "lead window keyed by user (no single-partition window)"),
        (r"partial_count", "transition counts map-side combined"),
    ],
    "ts_mann_kendall": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "pair join blocked per event_type, never all-pairs"),
        (r"partial_sum", "daily cents partials map-side combined"),
    ],
    "agg_decay_sum": [
        (r"partial_sum", "decayed integer partials map-side combined"),
    ],
    "feat_standardize": [
        (r"BroadcastHashJoin", "group stats broadcast back onto the fact"),
        (r"partial_sum", "moment sums map-side combined"),
    ],
    "ivm_topk_delta": [
        (r"WindowGroupLimit", "both rank windows group-limited"),
    ],
    # round-17 batch (graph_ppr_seeded's per-round plans are truncated by
    # localCheckpoint as in graph_pagerank; the final sort must be a
    # TakeOrderedAndProject, not a global sort)
    "graph_ppr_seeded": [
        (r"TakeOrderedAndProject", "top-100 as partial take-ordered"),
    ],
    # ts_esd_outliers' per-round plans are truncated by localCheckpoint;
    # the final plan is the 3-round union of checkpointed picks — assert
    # the union shape
    "ts_esd_outliers": [
        (r"Union", "3 peel rounds unioned from checkpointed picks"),
    ],
    # experimentation family: per-user metrics are map-side-combined
    # keyed aggregates; everything after is 1-2 row folds
    "ab_welch_ttest": [
        (r"partial_sum", "per-user metric partials map-side combined"),
    ],
    "ab_srm_check": [
        (r"partial_count|HashAggregate",
         "distinct users via hash aggregate, one-row fold"),
    ],
    "ab_cuped_adjust": [
        (r"partial_sum", "moment sums map-side combined"),
    ],
    # round-18 batch: KM / attribution windows run on calendar- or
    # segment-sized tables (documented), fact aggregates are partial
    "ts_kaplan_meier": [
        (r"partial_min|partial_max", "per-user span partials map-side"),
    ],
    "ab_power_mde": [
        (r"partial_sum", "per-user metric partials map-side combined"),
    ],
    "dq_change_attribution": [
        (r"partial_sum", "period sums map-side combined"),
    ],
    "recs_session_paths": [
        (r"hashpartitioning\(user_id",
         "session windows keyed by user (no single-partition window)"),
    ],
    "agg_geo_harmonic_mean": [
        (r"partial_sum", "micro-nat / reciprocal partials map-side combined"),
    ],
    # round-20 batch (graph_hits' per-half-round plans are truncated by
    # localCheckpoint, like pagerank; the final top-100 must be a
    # TakeOrderedAndProject)
    "ab_ratio_delta_method": [
        (r"partial_sum", "per-user metric partials map-side combined"),
    ],
    "graph_hits": [
        (r"TakeOrderedAndProject", "top-100 as partial take-ordered"),
    ],
    # text_zipf_fit's global rank window runs on the vocab table (not the
    # fact); Spark doesn't emit WindowGroupLimit for unpartitioned
    # windows, so the gate pins the map-side vocab partials instead
    "text_zipf_fit": [
        (r"partial_count", "vocab counts map-side combined"),
    ],
    "ts_alert_debounce": [
        (r"hashpartitioning\(event_type",
         "lag/rank windows keyed by event_type (crossings pre-pruned)"),
        (r"PushedFilters", "threshold filter reaches the scan"),
    ],
    "pipeline_length_buckets": [
        (r"partial_sum|partial_count", "bucket stats map-side combined"),
    ],
    "text_hapax_ratio": [
        (r"partial_count", "(source, token) counts map-side combined"),
    ],
    # round-22 batch (emb_kcenter_init's per-round plans are truncated by
    # localCheckpoint; the final plan is the 4-pick union)
    "ts_sli_burn_rate": [
        (r"partial_sum|partial_count", "hourly partials map-side combined"),
    ],
    "emb_kcenter_init": [
        (r"Union", "4 farthest-point picks unioned from checkpoints"),
    ],
    "emb_dim_variance": [
        (r"partial_sum", "per-dim moment partials map-side combined"),
        (r"Generate.*posexplode", "narrow dim fan-out, no UDF"),
    ],
    "ts_iqr_fence": [
        (r"BroadcastHashJoin", "fence table broadcast onto the daily series"),
    ],
    "join_sample_consistent": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "sampled tables equi-join on the shared key"),
    ],
    "agg_growth_accounting": [
        (r"hashpartitioning\(user_id",
         "state windows keyed by user (no single-partition window)"),
    ],
    # round-24 batch (experimentation/statistics closers)
    "dq_chi2_goodness": [
        (r"partial_count", "category counts map-side combined"),
    ],
    "ab_metric_decompose": [
        (r"partial_sum", "per-user partials map-side combined"),
    ],
    "ab_poisson_rate": [
        (r"partial_count|HashAggregate", "grouped counts, 2-row fold"),
    ],
    # round-25 batch (graph_random_walk's per-step plans truncated by
    # localCheckpoint; final plan is the step union)
    "graph_random_walk": [
        (r"Union", "walk steps unioned from checkpointed frontiers"),
    ],
    "ml_decision_stump": [
        (r"partial_count|partial_sum",
         "per-value (count, positives) partials map-side combined"),
    ],
    "text_ngram_novelty": [
        (r"hashpartitioning\(doc_id",
         "trigram window keyed by doc (no single-partition window)"),
    ],
    "corpus_source_overlap": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "source pairs meet through the token equi-join, never all-pairs"),
    ],
    "dq_heavy_changers": [
        (r"partial_sum", "per-user period sums map-side combined"),
    ],
    "ts_time_to_convert": [
        (r"partial_min", "first-view/first-buy partials map-side combined"),
    ],
    # r12: the supplier-keyed pair self-join + 83M-group aggregate moved
    # inside the blocked pair workers (stacked GEMM per block-pair);
    # only per-worker top-k survivors reach the final rank.
    "graph_adamic_adar": [
        (r"FlatMapGroupsInPandas",
         "pair AA sums confined to the block-pair GEMM worker"),
        (r"hashpartitioning\(__bp_i",
         "single thin shuffle keyed by block-pair, no pair-sized exchange"),
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "top-20 as a partial rank"),
    ],
    "pipeline_global_shuffle": [
        (r"hashpartitioning",
         "rank window keyed by shard (no global sort)"),
    ],
    "win_rolling_corr": [
        (r"partial_sum", "daily (x, y) partials map-side combined"),
    ],
    "feat_woe_iv": [
        (r"BroadcastHashJoin", "customer dim broadcast to the fact"),
        (r"partial_sum", "per-segment label counts map-side combined"),
    ],
    "ts_dft_power": [
        (r"partial_count|partial_sum",
         "daily counts map-side combined before the harmonic fan-out"),
    ],
    "corpus_dsir_select": [
        (r"BroadcastHashJoin",
         "|V|-sized importance-weight table broadcast to the token stream"),
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "top-k admission as a partial rank"),
    ],
    "funnel_window": [
        (r"hashpartitioning\(user_id",
         "chain windows keyed by user, never global"),
    ],
    "eval_pass_at_k": [
        (r"partial_sum|partial_count",
         "per-problem sample counts map-side combined"),
    ],
    "agg_winsorized_mean": [
        (r"BroadcastHashJoin",
         "group-sized cut table broadcast back to the fact"),
        (r"hashpartitioning\(event_type",
         "rank window keyed by group"),
    ],
    # eval_bradley_terry's match-construction lag window is keyed by
    # user but sits behind the localCheckpoint that truncates the MM
    # lineage, so the final plan only shows the item-sized iteration
    "eval_bradley_terry": [
        (r"BroadcastHashJoin",
         "item-vocabulary-sized theta tables broadcast through the MM rounds"),
    ],
    "join_asof_tolerance": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "per-key equi-join, tolerance filter bounds the fan-in"),
        (r"partial_min", "earliest-in-window pick map-side combined"),
    ],
    "win_rsi": [
        (r"partial_sum", "daily cents partials map-side combined"),
    ],
    "eval_auc_roc": [
        (r"partial_sum|partial_count",
         "per-distinct-score counts map-side combined"),
    ],
    "eval_ndcg": [
        (r"WindowGroupLimit|hashpartitioning\(user_id",
         "per-user top-10 as a keyed group-limited window"),
        (r"BroadcastHashJoin",
         "10-row discount table broadcast"),
    ],
    "eval_mrr": [
        (r"WindowGroupLimit|hashpartitioning\(user_id",
         "per-user top-10 as a keyed group-limited window"),
    ],
    "eval_calibration_ece": [
        (r"partial_sum|partial_count",
         "per-bin counts map-side combined"),
    ],
    "eval_f1_threshold": [
        (r"BroadcastHashJoin|BroadcastNestedLoopJoin",
         "3-row threshold table broadcast over one fact pass"),
    ],
    "eval_cohens_kappa": [
        (r"partial_sum|partial_count",
         "contingency counts map-side combined"),
    ],
    # graph_coreness's per-node h-index windows sit behind the
    # per-round localCheckpoints that truncate the iterative lineage,
    # so the final plan only shows the census fold
    "graph_coreness": [
        (r"partial_count|HashAggregate",
         "coreness census as a plain aggregate over the fixpoint table"),
    ],
    "agg_abc_analysis": [
        (r"windowspecdefinition\(__bucket#\d+L?, neg#",
         "ABC running share from the bucket-partitioned two-pass"),
        (r"partial_sum", "per-part revenue partials map-side combined"),
    ],
    "recs_coverage_diversity": [
        (r"BroadcastHashJoin", "brand dim broadcast to the rec lists"),
        (r"WindowGroupLimit|hashpartitioning\(cust",
         "per-customer top-10 as a keyed group-limited window"),
    ],
    "olap_market_basket": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "pairs form inside order baskets via the equi-join"),
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "top-20 rules as a partial rank"),
    ],
    "feat_rfm_segmentation": [
        (r"windowspecdefinition\(__bucket#\d+L?, __k#",
         "quintile ranks from bucket-partitioned two-pass windows"),
        (r"partial_sum|partial_count",
         "per-customer RFM partials map-side combined"),
    ],
    "dq_fd_violations": [
        (r"partial_count|partial_sum",
         "(lhs, rhs) counts map-side combined per declared FD"),
    ],
    "agg_bitmap_segments": [
        (r"partial_bit_or|bit_or",
         "per-word segment bitmaps built by bit_or aggregation"),
    ],
    "agg_cohort_ltv": [
        (r"hashpartitioning\(cohort_m",
         "cumulative window keyed by cohort, never global"),
        (r"BroadcastHashJoin", "cohort-size table broadcast back"),
    ],
    "corpus_temperature_mix": [
        (r"partial_sum", "per-language token masses map-side combined"),
    ],
    "ml_knn_classifier": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "pairs form inside hash blocks via the equi-join"),
        (r"WindowGroupLimit|hashpartitioning\(vec_id",
         "per-node top-k as a keyed group-limited window"),
    ],
    "agg_vwap_twap": [
        (r"partial_sum", "daily price/volume partials map-side combined"),
    ],
    "win_streak_days": [
        (r"hashpartitioning\(user_id",
         "island window keyed by user, never global"),
    ],
    "eval_brier_score": [
        (r"partial_sum", "squared-error moments map-side combined"),
    ],
    "eval_lm_heldout_ppl": [
        (r"BroadcastHashJoin",
         "train-vocab table broadcast to the held-out token stream"),
    ],
    "scan_nested_prune": [
        (r"ReadSchema: struct<who:struct<user_id:bigint>>",
         "nested projection pruned to the single who.user_id leaf"),
    ],
    "win_hampel": [
        (r"hashpartitioning\(day",
         "median/MAD selections keyed per center day"),
    ],
    "sink_dynamic_overwrite": [
        (r"partial_sum|partial_count",
         "re-read census map-side combined"),
    ],
    "agg_tail_index_hill": [
        (r"partial_sum|HashAggregate",
         "k-row estimator fold after the partial rank"),
    ],
    "eval_confusion_multiclass": [
        (r"partial_count|partial_sum",
         "(actual, pred) counts map-side combined"),
    ],
    "sink_file_sizing": [
        (r"partial_count|partial_sum",
         "per-file row census map-side combined"),
    ],
    "agg_runs_test": [
        (r"partial_sum", "daily totals map-side combined"),
    ],
    "feat_lag_matrix": [
        (r"hashpartitioning\(user_id",
         "feature/label windows keyed by user, never global"),
    ],
    "emb_centroid_classifier": [
        (r"BroadcastHashJoin",
         "labels x dims centroid model broadcast to the test half"),
    ],
    "corpus_filter_ablation": [
        (r"partial_sum|partial_count",
         "per-doc token stats map-side combined"),
    ],
    "graph_assortativity": [
        (r"BroadcastHashJoin",
         "node-sized degree table broadcast to the edge list"),
        (r"partial_sum", "edge moments map-side combined"),
    ],
    "text_char_coverage": [
        (r"partial_count|partial_sum",
         "character frequencies map-side combined"),
    ],
    "ts_granger_lite": [
        (r"partial_sum", "daily (y, v) partials map-side combined"),
    ],
    "text_burstiness": [
        (r"partial_count|partial_sum",
         "(token, doc) counts map-side combined"),
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "top-50 vocabulary cut as a partial rank"),
    ],
    "ts_autoperiod": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "ACF lag joins are per-candidate equi-joins on shifted dates"),
    ],
    "eval_spearman_rho": [
        (r"BroadcastHashJoin",
         "distinct-value midrank tables broadcast back"),
    ],
    "agg_session_depth": [
        (r"hashpartitioning\(user_id",
         "sessionizing windows keyed by user, never global"),
    ],
    "scan_pushdown_in": [
        (r"PushedFilters: \[.*In\(event_type",
         "IN-list pushed into the parquet scan"),
    ],
    "eval_mcnemar": [
        (r"partial_sum", "2x2 discordance cells map-side combined"),
    ],
    "ts_changepoint_binseg": [
        (r"partial_sum", "daily totals map-side combined"),
    ],
    "pipeline_chat_multiturn": [
        (r"hashpartitioning\(user_id",
         "session/turn windows keyed by user, never global"),
    ],
    "dq_double_charge": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "pairs form inside (user, dollar) blocks via the equi-join"),
    ],
    "graph_truss_support": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "triangles via canonical forward-edge equi-joins"),
    ],
    "dq_id_continuity": [
        (r"partial_min|partial_max|partial_count",
         "span/count partials map-side combined"),
    ],
    "text_lm_kneser_ney": [
        (r"BroadcastHashJoin",
         "vocab-sized context/continuation tables broadcast"),
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "top-20 head as a partial rank"),
    ],
    "agg_cvar_es": [
        (r"partial_sum", "tail moments map-side combined"),
        (r"windowspecdefinition\(__bucket#\d+L?, cents#",
         "VaR rank from the bucket-partitioned two-pass window"),
    ],
    "ts_xcorr_lead_scan": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "per-lag equi-joins on shifted dates, never quadratic"),
    ],
    "scan_csv_multichar_delim": [
        (r"partial_sum|partial_count",
         "re-read census map-side combined"),
    ],
    "agg_lorenz_deciles": [
        (r"partial_sum", "per-customer revenue map-side combined"),
    ],
    "ts_dow_profile": [
        (r"partial_count|partial_sum",
         "weekday counts map-side combined"),
    ],
    "text_prf_expansion": [
        (r"BroadcastHashJoin",
         "query-term and df tables broadcast to the postings"),
        (r"WindowGroupLimit|hashpartitioning\(q",
         "doc/term cuts as keyed group-limited ranks"),
    ],
    "ab_did_estimator": [
        (r"partial_sum|partial_count",
         "2x2 cell counts map-side combined"),
    ],
    "ab_propensity_strata": [
        (r"partial_sum|partial_count",
         "user-grain folds map-side combined"),
    ],
    "ab_eb_shrinkage": [
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "shrunk leaderboard as a partial rank"),
    ],
    "graph_transitivity": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "triangles via canonical forward-edge equi-joins"),
    ],
    "sink_zstd_codec": [
        (r"partial_sum|partial_count",
         "re-read census map-side combined"),
    ],
    "ab_tost_equivalence": [
        (r"partial_sum", "per-arm moments map-side combined"),
    ],
    "win_underwater_spell": [
        (r"partial_sum", "daily totals map-side combined"),
    ],
    "eval_roc_points": [
        (r"BroadcastHashJoin|BroadcastNestedLoopJoin",
         "9-row threshold table broadcast over one fact pass"),
    ],
    "dq_mahalanobis_outliers": [
        (r"partial_sum", "covariance moments map-side combined"),
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "top-10 distances as a partial rank"),
    ],
    "sim_hamming_topk": [
        (r"WindowGroupLimit|hashpartitioning\(qid",
         "per-query top-k as a keyed group-limited window"),
    ],
    "curation_quality_residual": [
        (r"partial_sum", "OLS moments map-side combined"),
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "review queue as a partial rank"),
    ],
    "dq_tz_shift": [
        (r"partial_count|partial_sum",
         "24x2 hour histogram map-side combined"),
    ],
    "text_script_mix": [
        (r"partial_sum|partial_count",
         "per-language script counts map-side combined"),
    ],
    "sink_decimal_contract": [
        (r"partial_sum|partial_count",
         "re-read decimal census map-side combined"),
    ],
    "agg_hhi": [
        (r"partial_sum", "supplier revenue partials map-side combined"),
    ],
    "pipeline_split_leakage": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "gram fingerprints via keyed adjacent-position equi-joins"),
    ],
    "eval_gains_chart": [
        (r"BroadcastHashJoin|BroadcastNestedLoopJoin",
         "10-row decile table broadcast over the ranked fact"),
    ],
    "ts_dispersion_test": [
        (r"partial_count|partial_sum",
         "hourly counts map-side combined"),
    ],
    "ts_markov_entropy_rate": [
        (r"hashpartitioning\(user_id",
         "transition window keyed by user, never global"),
    ],
    "ts_median_polish": [
        (r"hashpartitioning\(dow|hashpartitioning\(wk",
         "median selections keyed by grid row/column"),
    ],
    "hint_no_broadcast": [
        (r"SortMergeJoin", "merge hint shuffles the customer-dim join"),
    ],
    # round-55 batch — the daily partial-sum stages sit behind the
    # localCheckpoints that truncate the path lineage, so the final
    # plans show only the summary folds
    "ab_sprt_boundary": [
        (r"TakeOrderedAndProject|BroadcastExchange",
         "final-day partial top-1 + one-row crossing broadcast"),
    ],
    "ts_page_hinkley": [
        (r"HashAggregate|BroadcastHashJoin",
         "summary fold + one-row alarm join after the checkpoint"),
    ],
    "ab_bayes_posterior": [
        (r"partial_sum|partial_count",
         "per-arm counts map-side combined"),
    ],
    "text_template_mining": [
        (r"partial_count",
         "template counts map-side combined"),
        (r"WindowGroupLimit|TakeOrderedAndProject|rnk",
         "head cut as a rank over the template vocabulary"),
    ],
    "emb_anisotropy": [
        (r"partial_sum",
         "per-dimension unit-component sums map-side combined"),
    ],
    "agg_hazard_curve": [
        (r"partial_count|partial_max",
         "user lifetimes map-side combined"),
    ],
    "eval_cost_curve": [
        (r"BroadcastHashJoin|BroadcastNestedLoopJoin",
         "3-row threshold table broadcast over one fact pass"),
    ],
    "scan_recursive_lookup": [
        (r"partial_count|partial_sum",
         "recursive-lookup census map-side combined"),
    ],
    "agg_nps": [
        (r"partial_count", "segment counts map-side combined"),
    ],
    "agg_dau_mau": [
        (r"partial_count|HashAggregate",
         "distinct (user, day) collapse map-side combined"),
    ],
    "text_casing_profile": [
        (r"partial_sum|partial_count",
         "per-source casing counts map-side combined"),
    ],
    "dq_rank_stability": [
        (r"hashpartitioning\(half",
         "rank windows keyed by half over supplier rows"),
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "half-to-half pairing as a supplier equi-join"),
    ],
    "scan_csv_null_contract": [
        (r"partial_sum|partial_count",
         "null/cents census map-side combined"),
    ],
    "win_atr": [
        (r"partial_min|partial_max|max_by",
         "daily OHLC partials map-side combined"),
    ],
    "corpus_source_entropy": [
        (r"partial_count", "source counts map-side combined"),
    ],
    "text_burrows_delta": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "source pairs blocked by word over the profile table"),
    ],
    "eval_selective_risk": [
        (r"BroadcastHashJoin|BroadcastNestedLoopJoin",
         "10-row coverage deciles broadcast over the ranked fact"),
    ],
    "dq_feed_gaps": [
        (r"hashpartitioning\(event_type",
         "gap lag and rank windows keyed per feed"),
    ],
    "ts_records_test": [
        (r"partial_sum", "daily totals map-side combined"),
    ],
    "join_role_playing": [
        (r"BroadcastHashJoin",
         "the one calendar dim broadcast for both roles"),
    ],
    "agg_abc_xyz": [
        (r"partial_sum", "part-grain revenue/demand partials map-side"),
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "ABC and XYZ labels joined at part grain"),
    ],
    # round-62 batch — early stopping's daily fold sits behind a
    # localCheckpoint; the final plan shows the selection joins
    "pipeline_early_stopping": [
        (r"BroadcastExchange|BroadcastHashJoin",
         "one-row stop/horizon rows broadcast into the selection"),
    ],
    "sim_rank_fusion": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "the two rank lists joined at doc grain"),
        (r"WindowGroupLimit|TakeOrderedAndProject",
         "fused top-10 as a partial rank"),
    ],
    "agg_backlog_curve": [
        (r"partial_count", "daily in/out counts map-side combined"),
    ],
    "ts_seasonal_strength": [
        (r"partial_sum", "daily totals map-side combined"),
        (r"BroadcastHashJoin", "7-row weekday means broadcast back"),
    ],
    "eval_win_matrix": [
        (r"hashpartitioning\(user_id",
         "match-construction lag window keyed by user"),
    ],
    "agg_price_endings": [
        (r"partial_count", "ending histogram map-side combined"),
    ],
    "eval_average_precision": [
        (r"windowspecdefinition\(__bucket#\d+L?, neg_s#",
         "rank+positives cumsum from the bucket-partitioned two-pass"),
        (r"partial_sum|HashAggregate",
         "positives-only AP fold after the rank window"),
    ],
    "agg_newsvendor_level": [
        (r"hashpartitioning\(part",
         "demand quantile windows keyed per part"),
        (r"BroadcastHashJoin",
         "top-revenue part list broadcast to the fact"),
    ],
    "sql_group_by_all": [
        (r"partial_sum|partial_count",
         "GROUP BY ALL resolves to a plain hash aggregate"),
    ],
    "eval_distinct_n": [
        (r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "n-grams via keyed adjacent-position equi-joins"),
    ],
    "eval_self_bleu_lite": [
        (r"BroadcastHashJoin",
         "document-frequency table joined back, never a doc-pair join"),
    ],
    "corpus_dedup_rate_dashboard": [
        (r"partial_count|HashAggregate",
         "three fingerprint folds map-side combined"),
    ],
    "agg_engagement_gini": [
        (r"HashAggregate",
         "Gini/top-share folds over the checkpointed rank table"),
    ],
    "dq_null_rate_trend": [
        (r"HashAggregate|BroadcastNestedLoopJoin",
         "day-grain null census + one-row half-delta broadcast"),
    ],
    "corpus_dup_inflation": [
        (r"partial_count|HashAggregate",
         "per-source and overall distinct-gram folds"),
    ],
}

# keys whose plan must contain NO shuffle at all
NO_EXCHANGE_KEYS = (
    "join_bucketed", "pipeline_sft_format", "json_variant", "try_fns",
    # PQ-encode is a pure narrow map: quantize + higher-order-function
    # distances + packed argmin, all inside codegen
    "sim_pq_assign",
    # JL sign projection: 16 signed aggregate() sums + posexplode, narrow
    "emb_random_projection",
    # BPE application is a pure narrow map: HOF merge chain in codegen
    "text_bpe_encode",
    # FIM reformat is a pure narrow map: substring splits + concat projection
    "pipeline_fim_format",
)

# A BroadcastNestedLoopJoin replays its build side for every streamed
# row, a CartesianProduct pairs every row of one side with every row of
# the other, and a Window with no PARTITION BY sends its whole input to
# one task. Each stays safe at any data size only when Catalyst proves a
# small static row bound (LogicalPlan.maxRows): on the build side, on at
# least one side of a CartesianProduct, on the input of a Window.
MAX_STATIC_ROWS = 1024

# Keys whose plans, or the frames they checkpoint while they build, hold a
# nested loop with no such bound; one-line reason each. A key leaves only
# through a rewrite that gives the side a static bound, adds no Exchange
# and keeps its result hashes.
UNBOUNDED_NLJ: dict[str, str] = {
    "ab_metric_decompose": "one-arm moment row from a per-variant grouped aggregate",
    "ab_poisson_rate": "one-arm count row from a per-variant grouped aggregate",
    "ab_power_mde": "one-arm moment row from a per-variant grouped aggregate",
    "ab_ratio_delta_method": "one-arm moment row from a per-variant grouped aggregate",
    "ab_welch_ttest": "one-arm moment row from a per-variant grouped aggregate",
    "agg_cvar_es": "one-row VaR cut picked by a rank equi-join",
    "dedup_semantic": "k-row centroid set is a vec_id filter, in a checkpoint",
    "emb_kcenter_init": "each round's one-row center is read back from a checkpoint",
    "emb_kmeans_assign": "8-row centroid set is a vec_id filter",
    "emb_truncate_quality": "20-row query set is a vec_id filter",
    "eval_cost_curve": "3-row threshold table joined out of range(3) by rank",
    "eval_f1_threshold": "3-row threshold table joined out of range(3) by rank",
    "eval_roc_points": "9-row threshold table joined out of range(9) by rank",
    "join_cross": "the region x region cross-join demo",
    "ml_naive_bayes": "class prior table: one row per language, grouped",
    "sim_ann_recall": "2-row method list from a local RDD; sim_topk's query set",
    "sim_hamming_topk": "5-row query signature set is a vec_id filter",
    "sim_ivf": "16-row centroid set is a vec_id filter",
    "sim_ivfpq_recall": "5-row exact-truth query set is a vec_id filter",
    "sim_topk": "10-row query set is a vec_id filter",
    "sketch_hist_quantile": "histogram bucket cumsum: one row per price bucket",
    "sketch_hll_setops": "one-row-per-set HLL estimates from grouped aggregates",
    "ts_forecast_backtest": "hour grid exploded from the events' min/max span",
    "ts_seasonal_decompose": "hour grid exploded from the events' min/max span",
}


# Keys whose plans, or the frames they checkpoint while they build, hold
# an unpartitioned window over an input with no such bound; one-line
# reason each. A key leaves only through a rewrite that bounds the input
# or partitions the window and keeps its result hashes.
UNBOUNDED_WINDOW: dict[str, str] = {
    "ab_bayes_posterior": "windows over the two per-arm rows of a grouped aggregate",
    "ab_did_estimator": "windows over the 2x2 cell rows of a grouped aggregate",
    "ab_propensity_strata": "totals over the 5 strata rows of a grouped aggregate",
    "ab_sprt_boundary": "running log-likelihood over one row per day, in a checkpoint",
    "agg_backlog_curve": "cumulative backlog and peak rank over one row per day",
    "agg_hazard_curve": "reverse cumulative sum over one row per tenure week",
    "agg_mutual_info": "totals over the |X| x |Y| cell table of a grouped aggregate",
    "agg_nps": "shares over the 3 segment rows of a grouped aggregate",
    "agg_price_endings": "share over the <=100 price-ending rows, grouped",
    "agg_repeat_purchase_curve": "lag and max over the <=10 repeat-count rows, grouped",
    "agg_runs_test": "lag over one row per day",
    "agg_session_depth": "share over one row per session depth",
    "aqp_bootstrap_ci": "rank over the 32 bootstrap replica rows, grouped",
    "corpus_token_budget": "prefix sums over one row per quality bucket",
    "dq_change_attribution": "share and rank over one row per event type",
    "dq_ks_test": "running sums over one row per distinct cent value",
    "dq_tz_shift": "argmax over the 24 hour-shift rows of a grouped aggregate",
    "emb_dim_variance": "rank over one row per embedding dimension",
    "eval_auc_roc": "cumulative counts over one row per distinct score",
    "eval_bradley_terry": "rank over the item vocabulary, read back from a checkpoint",
    "eval_calibration_ece": "totals over the 10 bin rows of a grouped aggregate",
    "eval_confusion_multiclass": "macro fold over one row per class",
    "eval_cost_curve": "argmin over the 3 quartile-threshold rows, grouped",
    "eval_spearman_rho": "midranks over one row per distinct signal value",
    "global_row_number": "prefix sums over one row per range bucket",
    "ml_decision_stump": "running counts over one row per distinct feature value",
    "pipeline_early_stopping": "running minima over one row per day, in a checkpoint",
    "recs_session_paths": "rank over one row per distinct session path",
    "sim_rank_fusion": "ranks every document on two orderings: document grain",
    "sketch_hist_quantile": "cumulative counts over one row per price bucket",
    "text_char_coverage": "total and rank over one row per character",
    "text_ngram_novelty": "cumulative counts over one row per period",
    "text_template_mining": "total and rank over one row per template",
    "ts_autoperiod": "argmax over one row per candidate period",
    "ts_changepoint_binseg": "prefix sums over one row per day",
    "ts_dft_power": "total power over one row per frequency",
    "ts_dow_profile": "totals over the 7 weekday rows of a grouped aggregate",
    "ts_granger_lite": "lags over one row per day",
    "ts_kaplan_meier": "cumulative survival over one row per distinct lifetime",
    "ts_page_hinkley": "running sums and minima over one row per day, in a checkpoint",
    "ts_records_test": "running maximum over one row per day",
    "ts_sli_burn_rate": "6-hour range window over one row per hour",
    "ts_xcorr_lead_scan": "argmax over one row per candidate lag",
    "win_atr": "lag and rolling sums over one row per day",
    "win_hampel": "day numbering over one row per day, in a checkpoint",
    "win_rolling_corr": "rolling moments over one row per day",
    "win_rsi": "lag and rolling sums over one row per day",
    "win_underwater_spell": "running maximum and islands over one row per day",
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _max_rows(node) -> int | None:
    """Static row bound of a physical node's logical link; None when the
    node has no link or Catalyst derives no bound."""
    link = node.logicalLink()
    if link.isEmpty():
        return None
    rows = link.get().maxRows()
    return None if rows.isEmpty() else int(rows.get())


def _bounded(rows: int | None) -> bool:
    return rows is not None and rows <= MAX_STATIC_ROWS


def unbounded_nodes(df) -> list[str]:
    """One line per nested-loop join or unpartitioned window in ``df``'s
    physical plan, subquery plans included, that breaks the
    MAX_STATIC_ROWS rule; empty when none does. Each line starts with the
    operator's node name. Plans without executing anything."""
    jvm = df.sparkSession._jvm
    logical = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.LogicalPlan"
    )
    planner = df.sparkSession._jsparkSession.sessionState().planner()
    found = []
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "BroadcastNestedLoopJoin":
            side = node.buildSide().toString()
            rows = _max_rows(node.right() if side == "BuildRight" else node.left())
            if not _bounded(rows):
                found.append(f"{name} {side} maxRows={rows}")
        elif name == "CartesianProduct":
            rows = (_max_rows(node.left()), _max_rows(node.right()))
            if not any(map(_bounded, rows)):
                found.append(f"{name} maxRows={rows}")
        elif name == "Window" and node.partitionSpec().isEmpty():
            rows = _max_rows(node.child())
            if not _bounded(rows):
                found.append(f"{name} maxRows={rows}")
        stack.extend(_seq(node.children()))
        # a physical plan carries its subqueries as logical plans until
        # execution prepares it, so plan them the way execution will
        for sub in _seq(node.subqueries()):
            if logical.isInstance(sub):
                sub = planner.plan(
                    jvm.org.apache.spark.sql.catalyst.plans.logical.ReturnAnswer(sub)
                ).next()
            stack.append(sub)
    return found


def main() -> int:
    import __spark_entry__ as ent
    from hh_rumors_presto_spark.session import get_spark

    spark = get_spark("explain_audit")
    qs = ent.queries()
    # default audit covers CHECKS plus the zero-shuffle keys (which have
    # no CHECKS row of their own) so a bare CLI run misses nothing
    keys = sys.argv[1:] or list(
        dict.fromkeys([*CHECKS, *NO_EXCHANGE_KEYS])
    )
    n_warn = 0
    for key in keys:
        df = qs[key](spark, SF)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        for pattern, label in CHECKS.get(key, []):
            if re.search(pattern, plan, re.DOTALL):
                print(f"PASS  {key}: {label}")
            else:
                n_warn += 1
                print(f"WARN  {key}: MISSING {label}")
                print(plan[:4000])
        for line in unbounded_nodes(df):
            allowed = UNBOUNDED_WINDOW if line.startswith("Window") else UNBOUNDED_NLJ
            if key not in allowed:
                n_warn += 1
                print(f"WARN  {key}: {line}")
        if key in NO_EXCHANGE_KEYS:
            if "Exchange" in plan:
                n_warn += 1
                print(f"WARN  {key}: contains Exchange (bucketing not co-locating)")
                print(plan[:3000])
            else:
                print(f"PASS  {key}: zero-shuffle (bucket co-located)")
    print(f"\n{n_warn} warnings")
    return 1 if n_warn else 0


if __name__ == "__main__":
    sys.exit(main())
