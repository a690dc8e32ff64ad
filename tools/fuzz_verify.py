"""Differential fixture fuzzer: regenerate the documents / events /
embeddings fixtures with ADVERSARIAL-but-in-contract content and re-run
the Spark-vs-DuckDB differ over the keys that consume them.

Why: the driver regenerates fixtures between rounds, and the latent
divergences that have bitten before (ADVICE.md r2: median-boundary
microseconds, Benford's cast rounding, NULL weighted-sample keys; this
round: the BPE 'ther' merge) were all *fixture-shaped* — invisible at
one fixture, fatal at another. This harness samples that space on
purpose: duplicate texts, shared n-gram spans, single-token and
unicode/punctuation/long-word tokens, multi-space runs, duplicate
timestamps (tiebreak stress), exact rounding-boundary money values,
duplicate and ZERO embedding vectors (cosine-NULL paths).

Usage:
    python tools/fuzz_verify.py [--seeds 2] [key ...]

Exit code 0 iff every (seed, key) passes its oracle.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.001"
COPY_TABLES = "region nation customer supplier part".split()

DOC_KEYS = """
dedup_exact dedup_prefix text_tokens text_quality text_entropy
text_fingerprint text_chunk text_ngram_freq agg_heavy_hitters
inverted_index text_langid text_lm_score text_readability
text_code_detect text_pii_mask text_repetition text_gopher_rules
corpus_length_histogram text_bpe_encode text_bpe_fertility
text_collocations_pmi curation_pipeline_e2e text_containment
text_decontaminate corpus_ccnet_buckets text_segment_dedup
corpus_domain_cap text_blocklist sample_stratified
dedup_minhash_recall dedup_simhash_recall dedup_levenshtein
text_winnow dedup_bloom_membership graph_clustering_coeff
text_rake_keywords pipeline_span_corrupt pipeline_fim_format
graph_modularity corpus_epoch_expand dedup_ppjoin
pipeline_contrastive_negatives text_unigram_viterbi
feat_hashing_trick text_lm_bigram_backoff corpus_anneal_mix
ml_naive_bayes text_zipf_fit pipeline_length_buckets text_hapax_ratio
text_ngram_novelty corpus_source_overlap pipeline_global_shuffle
corpus_dsir_select eval_cohens_kappa corpus_temperature_mix
eval_lm_heldout_ppl corpus_filter_ablation text_char_coverage
graph_truss_support text_lm_kneser_ney text_prf_expansion
curation_quality_residual text_script_mix pipeline_split_leakage
text_template_mining text_casing_profile corpus_source_entropy
text_burrows_delta sim_rank_fusion eval_distinct_n
eval_self_bleu_lite corpus_dedup_rate_dashboard corpus_dup_inflation
""".split()

EVENT_KEYS = """
ts_sessionize ts_ohlc ts_ewma agg_session_window ts_peak_concurrency
ts_interval_coverage win_rank win_laglead win_ffill agg_weighted_median
dq_freshness ts_seasonal_decompose ts_forecast_backtest join_pit_multi
ts_holt_winters stream_merge_upsert stream_session_state
ts_downsample_ltob ts_acf ts_paa_sax stream_typed_state
dq_ks_test ts_dtw_paa join_skew_hybrid layout_hilbert
sketch_hll_window aqp_bootstrap_ci ts_theil_sen recs_covisit_next
ts_mann_kendall agg_decay_sum feat_standardize stream_topk_merge
ts_esd_outliers ab_welch_ttest ab_srm_check ab_cuped_adjust
ts_kaplan_meier ab_power_mde dq_change_attribution
recs_session_paths agg_geo_harmonic_mean ab_ratio_delta_method
ts_alert_debounce ts_sli_burn_rate ts_iqr_fence agg_growth_accounting
dq_chi2_goodness ab_metric_decompose ab_poisson_rate ml_decision_stump
dq_heavy_changers ts_time_to_convert win_rolling_corr ts_dft_power
funnel_window eval_pass_at_k agg_winsorized_mean eval_bradley_terry
join_asof_tolerance win_rsi eval_auc_roc eval_ndcg eval_mrr
eval_calibration_ece eval_f1_threshold dq_fd_violations
agg_bitmap_segments agg_cohort_ltv win_streak_days
eval_brier_score scan_nested_prune win_hampel sink_dynamic_overwrite
eval_confusion_multiclass sink_file_sizing agg_runs_test
feat_lag_matrix ts_granger_lite agg_session_depth scan_pushdown_in
eval_mcnemar ts_changepoint_binseg pipeline_chat_multiturn
dq_double_charge dq_id_continuity ts_xcorr_lead_scan
scan_csv_multichar_delim ts_dow_profile ab_did_estimator
ab_propensity_strata ab_eb_shrinkage ab_tost_equivalence
win_underwater_spell eval_roc_points dq_mahalanobis_outliers
dq_tz_shift eval_gains_chart ts_dispersion_test
ts_markov_entropy_rate ts_median_polish ab_sprt_boundary
ts_page_hinkley ab_bayes_posterior agg_hazard_curve
eval_cost_curve scan_recursive_lookup agg_nps agg_dau_mau
scan_csv_null_contract win_atr eval_selective_risk dq_feed_gaps
pipeline_early_stopping ts_seasonal_strength eval_win_matrix
eval_average_precision agg_engagement_gini dq_null_rate_trend
""".split()

# orders/lineitem consumers: keys are PRESERVED from the base fixture
# (referential integrity), value columns are re-rolled with boundary
# content (x.005 / x.125 prices, duplicate dates, re-mixed flags)
TPCH_KEYS = """
agg_basic agg_filtered_q6 agg_conditional agg_argmax agg_stats agg_corr
agg_mad agg_moments agg_mode agg_histogram agg_percentile_exact
dq_benford dq_reconciliation feat_target_encode scd2_merge
scd2_asof_lookup aqp_sample_mean sketch_hll_det sketch_hll_setops
layout_range_cluster layout_zorder win_ntile dq_join_skew
agg_share_of_total global_row_number join_star sql_tpch_q3 sql_tpch_q4
sql_tpch_q12 sql_tpch_q19 dim_calendar_join ml_logreg_gd table_checksum
agg_pivot agg_rollup merge_upsert graph_wcc
agg_approx_distinct agg_approx_quantile sketch_hll_merge
sink_schema_evolution scan_txn_log
ivm_retract_delta recs_item_cf agg_pushdown_join agg_mutual_info
graph_label_prop ivm_topk_delta graph_ppr_seeded scan_log_parse
graph_hits join_sample_consistent graph_random_walk graph_adamic_adar
feat_woe_iv graph_coreness agg_abc_analysis recs_coverage_diversity
olap_market_basket feat_rfm_segmentation agg_vwap_twap
agg_tail_index_hill graph_assortativity agg_cvar_es
agg_lorenz_deciles graph_transitivity sink_zstd_codec
sink_decimal_contract agg_hhi hint_no_broadcast
dq_rank_stability ts_records_test join_role_playing agg_abc_xyz
agg_backlog_curve agg_price_endings agg_newsvendor_level
sql_group_by_all
""".split()

EMB_KEYS = """
emb_normalize sim_topk emb_kmeans_assign dedup_semantic dedup_embedding
emb_cosine_histogram emb_pca_power emb_quantize_error dq_embedding_drift
emb_random_projection emb_mean_pool emb_outlier emb_truncate_quality
sim_ivfpq_search sim_ivfpq_probe3 sim_ivfpq_stages sim_pq_assign
emb_kcenter_init emb_dim_variance ml_knn_classifier
emb_centroid_classifier sim_hamming_topk emb_anisotropy
""".split()

DEFAULT_KEYS = DOC_KEYS + EVENT_KEYS + EMB_KEYS + TPCH_KEYS

_VOCAB = (
    "the fast key order sort table scan merge part window small hash "
    "join batch stream spark dup filter agg limit café naïve 42 a.b,c x1 "
    "zz"
).split()
_EDGE_TOKENS = [
    "x" * 50,  # very long word
    "a",  # single char
    "Ω",  # non-latin
    "e@mail.com",  # PII-shaped
    "555-0100",  # phone-shaped
    "{code}",  # punctuation-dense
]


def gen_documents(rng: random.Random) -> pa.Table:
    rows = []
    shared_span = "alpha beta gamma delta epsilon zeta"  # cross-doc 5-gram
    for doc_id in range(500):
        kind = rng.random()
        if kind < 0.05:
            text = rng.choice(_VOCAB)  # single-token doc
        elif kind < 0.10:
            # duplicate family: exact dup of a low doc_id text (filled later)
            text = None
        else:
            n = rng.randint(5, 60)
            toks = [
                rng.choice(_VOCAB + _EDGE_TOKENS)
                if rng.random() < 0.15
                else rng.choice(_VOCAB)
                for _ in range(n)
            ]
            if rng.random() < 0.2:
                # splice the shared span in (containment/decontaminate)
                pos = rng.randint(0, len(toks))
                toks[pos:pos] = shared_span.split()
            text = " ".join(toks)
            if rng.random() < 0.1:
                text = text.replace(" ", "  ", 1)  # double-space run
        rows.append(text)
    # resolve duplicate family AFTER generation so targets exist
    for doc_id in range(500):
        if rows[doc_id] is None:
            rows[doc_id] = rows[rng.randint(0, max(1, doc_id - 1))] or "dup"
    langs = ["en", "es", "de", "fr"]
    return pa.table(
        {
            "doc_id": pa.array(range(500), pa.int64()),
            "text": pa.array(rows, pa.string()),
            "lang": pa.array(
                [langs[rng.randint(0, 3)] for _ in range(500)], pa.string()
            ),
            "source": pa.array(
                [f"src{rng.randint(0, 19)}" for _ in range(500)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in rows], pa.int64()),
        }
    )


def gen_events(rng: random.Random) -> pa.Table:
    import datetime

    base = datetime.datetime(2024, 1, 1)
    n = 2000
    ts = []
    for _ in range(n):
        t = base + datetime.timedelta(
            seconds=rng.randint(0, 29 * 24 * 3600),
            microseconds=rng.randint(0, 999_999),
        )
        ts.append(t)
    # inject duplicate timestamps across DIFFERENT event_ids (tiebreaks)
    for _ in range(50):
        i, j = rng.randrange(n), rng.randrange(n)
        ts[j] = ts[i]
    vals = []
    for _ in range(n):
        r = rng.random()
        if r < 0.05:
            vals.append(0.0)
        elif r < 0.10:
            vals.append(round(rng.randint(0, 999) + 0.005, 3))  # boundary
        elif r < 0.15:
            vals.append(rng.randint(0, 999) + 0.125)  # exact dyadic
        else:
            vals.append(round(rng.uniform(0, 1000), 2))
    types = ["click", "view", "purchase", "signup", "error"]
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                [rng.randint(0, 30) for _ in range(n)], pa.int64()
            ),
            "event_type": pa.array(
                [types[rng.randint(0, 4)] for _ in range(n)], pa.string()
            ),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % rng.randint(0, 99) for _ in range(n)],
                pa.string(),
            ),
        }
    )


def gen_embeddings(rng: random.Random) -> pa.Table:
    vecs = []
    for vec_id in range(500):
        v = [rng.uniform(-0.6, 0.6) for _ in range(64)]
        vecs.append(v)
    # a duplicated pair (near-dup paths) and one ZERO vector (cosine NULL)
    vecs[123] = list(vecs[45])
    vecs[321] = [0.0] * 64
    return pa.table(
        {
            "vec_id": pa.array(range(500), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(
                [rng.randint(0, 9) for _ in range(500)], pa.int32()
            ),
        }
    )


def _boundary_price(rng: random.Random) -> float:
    """Money stays IN-CONTRACT: exactly-2-decimal doubles (the fixture
    generator's own shape), plus whole amounts. Probing with 3-decimal
    x.005 values found a REAL engine edge — Spark's double->DECIMAL cast
    is string-mediated (shortest repr "x.005" HALF_UPs to .01) while
    DuckDB's is value-mediated (the double sits below .005 and rounds to
    .00) — pinned in tests/test_properties_round5.py. Round 8: even
    IN-CONTRACT values reach the same cast edge through PRODUCTS —
    2-dec price x (1 - 2-dec discount) is a two-op double ~1.5 ulp off
    its true 4-decimal grid, wider than the DECIMAL(28,10) half-grid, so
    the engines' casts disagreed per-row and seed 7's sql_tpch_q10 hit a
    round(...,2) half-boundary one cent apart. Product casts now
    quantize at their true grid (functions.exact), where both
    conversion styles provably agree."""
    r = rng.random()
    if r < 0.10:
        return float(rng.randint(1, 500000))  # whole
    if r < 0.20:
        return rng.randint(1, 500000) + 0.25  # exact dyadic 2-decimal
    return round(rng.uniform(1.0, 500000.0), 2)


def fuzz_orders(rng: random.Random, out_dir: str) -> None:
    import datetime

    base = pq.read_table(os.path.join(BASE_SF, "orders.parquet"))
    n = base.num_rows
    statuses = ["O", "F", "P"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    d0 = datetime.datetime(1995, 1, 1)
    dates = [
        d0 + datetime.timedelta(days=rng.randint(0, 2400)) for _ in range(n)
    ]
    t = base.set_column(
        base.schema.get_field_index("o_orderstatus"),
        "o_orderstatus",
        pa.array([statuses[rng.randint(0, 2)] for _ in range(n)], pa.string()),
    )
    t = t.set_column(
        t.schema.get_field_index("o_totalprice"),
        "o_totalprice",
        pa.array([_boundary_price(rng) for _ in range(n)], pa.float64()),
    )
    t = t.set_column(
        t.schema.get_field_index("o_orderdate"),
        "o_orderdate",
        pa.array(dates, base.schema.field("o_orderdate").type),
    )
    t = t.set_column(
        t.schema.get_field_index("o_orderpriority"),
        "o_orderpriority",
        pa.array([prios[rng.randint(0, 4)] for _ in range(n)], pa.string()),
    )
    pq.write_table(t, os.path.join(out_dir, "orders.parquet"))


def fuzz_lineitem(rng: random.Random, out_dir: str) -> None:
    import datetime

    base = pq.read_table(os.path.join(BASE_SF, "lineitem.parquet"))
    n = base.num_rows
    d0 = datetime.datetime(1995, 1, 1)

    def setcol(t, name, values, typ):
        return t.set_column(
            t.schema.get_field_index(name), name, pa.array(values, typ)
        )

    t = base
    t = setcol(
        t, "l_quantity",
        [float(rng.randint(1, 50)) for _ in range(n)], pa.float64(),
    )
    t = setcol(
        t, "l_extendedprice",
        [_boundary_price(rng) for _ in range(n)], pa.float64(),
    )
    t = setcol(
        t, "l_discount",
        [rng.randint(0, 10) / 100.0 for _ in range(n)], pa.float64(),
    )
    t = setcol(
        t, "l_tax", [rng.randint(0, 8) / 100.0 for _ in range(n)],
        pa.float64(),
    )
    t = setcol(
        t, "l_returnflag",
        [rng.choice("ANR") for _ in range(n)], pa.string(),
    )
    t = setcol(
        t, "l_linestatus",
        [rng.choice("OF") for _ in range(n)], pa.string(),
    )
    t = setcol(
        t, "l_shipdate",
        [
            d0 + datetime.timedelta(days=rng.randint(0, 2400))
            for _ in range(n)
        ],
        base.schema.field("l_shipdate").type,
    )
    pq.write_table(t, os.path.join(out_dir, "lineitem.parquet"))


def build_fixture(seed: int, out_dir: str) -> None:
    rng = random.Random(seed)
    for t in COPY_TABLES:
        shutil.copy(
            os.path.join(BASE_SF, f"{t}.parquet"),
            os.path.join(out_dir, f"{t}.parquet"),
        )
    pq.write_table(
        gen_documents(rng), os.path.join(out_dir, "documents.parquet")
    )
    pq.write_table(gen_events(rng), os.path.join(out_dir, "events.parquet"))
    pq.write_table(
        gen_embeddings(rng), os.path.join(out_dir, "embeddings.parquet")
    )
    fuzz_orders(rng, out_dir)
    fuzz_lineitem(rng, out_dir)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=2)
    ap.add_argument("keys", nargs="*", default=None)
    args = ap.parse_args()
    keys = args.keys or DEFAULT_KEYS

    any_fail = False
    for seed in range(args.seeds):
        out_dir = tempfile.mkdtemp(prefix=f"hh_fuzz_s{seed}_")
        build_fixture(seed, out_dir)
        print(f"=== seed {seed}: fixture at {out_dir}", flush=True)
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(os.path.dirname(__file__), "verify_local.py"),
                "--sf",
                out_dir,
                *keys,
            ],
            capture_output=True,
            text=True,
        )
        tail = [
            line
            for line in proc.stdout.splitlines()
            if line.startswith(("PASS", "FAIL", "ONLY"))
            or " fail" in line
        ]
        fails = [l for l in tail if l.startswith("FAIL")]
        print("\n".join(fails or tail[-1:]), flush=True)
        if fails or proc.returncode != 0:
            any_fail = True
        else:
            shutil.rmtree(out_dir, ignore_errors=True)
    return 1 if any_fail else 0


if __name__ == "__main__":
    sys.exit(main())
