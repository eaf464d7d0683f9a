"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop write (full plan executes,
nothing collected to the driver; `_time_slot`). A warmup (`_warm_up`)
amortizes JVM/codegen startup so the numbers reflect steady-state
throughput. bench_stream.py and tools/ time slots through the same two
functions.

`_ledger` is the one place the ratio and verdict maths live: deltas,
raw and calibration-adjusted ratios, the regression lists and the
normalized verdict. The FULL record and the min-merged EXCL record
(`_min_merge`) each get every ledger field from one call to it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spec_search_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q7_nation_volume",
    "q10_returned_items",
    "join_broadcast_agg",
    "salted_join_revenue",
    "agg_cube",
    # windows / events
    "window_topk_per_customer",
    "window_range_10min",
    "sessionize",
    "hourly_event_rollup",
    "asof_join_purchase",
    # reference pipeline + text/dedup/vector
    "cell_grid_unpivot",
    "chunk_fixed",
    "token_stats",
    "doc_fingerprints",
    "ngram_jaccard_pairs",
    "jaccard_strict_pairs",
    "minhash_lsh_candidates",
    "simhash_near_pairs",
    "knn_multi_probe",
    "ann_lsh_bucketed",
    "ivf_ann_search",
    "multimodal_decode",
    "vector_index_build",
    "semantic_search",
    # training-pipeline pack (round 3)
    "decontaminate",
    "repetition_filters",
    "tfidf_top_terms",
    "token_pack_blocks",
    "ann_int8_rerank",
    # round-3 additions: co-located join, graph, fuzzy, resample,
    # sharding, triplet mining
    "bucketed_join_revenue",
    "graph_triangles",
    "fuzzy_name_pairs",
    "gap_fill_hourly",
    "balanced_shards",
    "triplet_mining",
    "stats_moments",
    "recursive_reachability",
    "hybrid_search_rrf",
    "filtered_ann_search",
    "semantic_search_reranked",
    "corpus_diff",
    "stratified_quality_sample",
    "equi_depth_histogram",
    # round-4 additions: approx quantile twins + the exact distributed
    # rank walk (the scale paths for the exact-percentile statistics),
    # interval/layout/maintenance ops, the real-codec round trip
    "percentiles_approx",
    "equi_depth_histogram_approx",
    "percentiles_distributed",
    "interval_overlap_join",
    "zorder_layout",
    "incremental_agg_merge",
    "multimodal_real_codec",
    "session_window_native",
    "winsorized_stats",
    "constraint_check_report",
    # round-4 continuation: span dedup, distributed k-means + SemDeDup,
    # bloom semi-join reduction, PQ ANN
    "dup_spans_merged",
    "span_dup_ratio",
    "kmeans_assign",
    "semantic_dedup",
    "bloom_pruned_join",
    "pq_ann_search",
    "bm25_search",
    "feature_store_pit",
    "copurchase_pairs",
    # round-4 corpus-statistics quality pack
    "lm_perplexity_scores",
    "boilerplate_ngram_report",
    "heavy_hitters_cms",
    "embedding_outlier_report",
    "time_weighted_avg",
    # round-4 behavioral-analytics + collocation + codec-content pack
    "activity_streaks",
    "attribution_last_touch",
    "cumulative_distinct_parts",
    "ewma_user_value",
    "collocation_pmi",
    "multimodal_audio_energy",
    "dsir_importance_report",
    "minhash_eval_report",
    "bpe_apply_first_merge",
    # round-4 continuation: containment decontamination, cluster-aware
    # split, weighted reservoir sampling
    "contamination_containment",
    "leakage_safe_split",
    "weighted_reservoir_sample",
    # round-4 in-plan ML pack + incremental dedup + CBO/bootstrap stats
    "pca_power_iteration",
    "nb_lang_classifier",
    "ols_price_model",
    "logreg_irls_doc_model",
    "incremental_minhash_delta",
    "ivf_delta_upsert",
    "join_cardinality_cms",
    "bootstrap_ci_revenue",
    "label_propagation_communities",
    "multimodal_image_stats",
    "quality_auc_by_lang",
    "bucketed_agg_revenue",
    "km_survival_curve",
    "ks_test_priority_revenue",
    "psi_value_drift",
    # round-4 continuation: feature-engineering + Spark-4 VARIANT
    "target_encoding_oof",
    "chi2_token_selection",
    "logreg_calibration_report",
    "variant_typed_extract",
    "image_phash_pairs",
    "seasonal_anomaly_report",
    "sql_udf_revenue",
    # round-5: rank statistics (distributed tie-aware rank walks) +
    # corpus information diagnostics
    "mannwhitney_priority_revenue",
    "spearman_qty_price",
    "mad_outlier_orders",
    "token_entropy_by_lang",
    "js_divergence_en_de",
    "vocab_growth_by_source",
    "source_shingle_containment",
    "token_gini_by_source",
    "zipf_slope_by_source",
    "decision_stump_lang",
    "partitioned_scan_prune",
    "benford_first_digit",
    "hourly_autocorrelation",
    "ols_cv_rmse",
    "token_lang_mi",
    "label_centroid_similarity",
    "multimodal_image_resize",
    "kmeans_silhouette",
    "cramers_v_priority_status",
    "mann_kendall_hourly",
    "theil_sen_hourly",
    # round-5 continuation: k-group/ordered-category tests, changepoint,
    # sequence mining, RFM segmentation, dynamic partition pruning
    "kruskal_wallis_priority",
    "cochran_armitage_trend",
    "cusum_changepoint_hourly",
    "event_seq3_support",
    "rfm_quintile_segments",
    "dpp_join_prune",
    "grouped_mad_doclen",
    "wilcoxon_ampm_hourly",
    "burstiness_by_type",
    "median_ci_orders",
    "bitext_mining_pairs",
    "matryoshka_recall_report",
    "mann_kendall_daily_by_priority",
    # round-5 third batch: gate funnel + MERGE apply + one-pass corr
    # matrix + held-out trigram backoff LM
    "quality_funnel_report",
    "merge_upsert_cdc",
    "feature_corr_matrix",
    "trigram_backoff_scores",
    "rolling_active_users",
    "holt_forecast_hourly",
    "quantile_normalize_scores",
    "association_rules",
    "mahalanobis_outlier_report",
    "cdc_chunk_dedup",
    "hourly_value_percentiles",
    "holt_backtest_mase",
    "rules_hitrate_eval",
    "setop_intersect_all",
    "join_null_safe",
    "ivf_nprobe_sweep",
    "percolate_alerts",
    "l_diversity_report",
    "weighted_shortest_paths",
    # round-6: distributed-rank-walk consumers already above; new ops —
    # weighted dedup refinement, graph core, conformal/evaluation pack,
    # monitoring (SPRT/seasonal/JSD/embedding), linkage, JL projection,
    # attribution, multimodal silence, semantic decon, CV splits
    "weighted_jaccard_pairs",
    "kcore_decomposition",
    "conformal_interval_orders",
    "rake_keywords",
    "sprt_conversion_hourly",
    "seasonal_decompose_hourly",
    "jsd_lang_drift",
    "mutual_info_tokens",
    "walk_forward_cv_splits",
    "fs_linkage_scores",
    "jl_projection_recall",
    "roc_auc_doc_model",
    "brier_decomposition",
    "isotonic_calibration_pav",
    "semantic_decontamination",
    "attribution_position_based",
    "audio_silence_runs",
    "embedding_drift_monitor",
    # round-7: BPE trained to a real merge table (adaptive driver/
    # distributed vocab loop); rank-sensitive retrieval eval
    "bpe_train_merges",
    "retrieval_eval_report",
    "bpe_segment_stats",
    "t_closeness_report",
    "hits_hubs_authorities",
    "skyline_customers",
    "misra_gries_heavy_hitters",
    "dedup_bcubed_eval",
    "rbo_ann_vs_exact",
    "embedding_anisotropy_report",
    # round-8: IVFADC composition (coarse-assign → residual-PQ → ADC
    # scan of probed clusters → exact re-rank) + its recall curve +
    # frozen-quantizer delta upsert; sparse-vector retrieval baseline
    "ivfpq_search",
    "ivfpq_recall_report",
    "ivfpq_delta_upsert",
    "sparse_retrieval_topk",
    # round-9: the end-to-end corpus-build flagship (quality funnel →
    # span dedup → near-dup survivors → containment decontamination →
    # mixing-weight sampling → balanced shards, one composed lineage)
    "corpus_build_pipeline",
]


def _calib_mean(v):
    """Mean of a calibration record: r9+ records store a [start, end]
    probe pair (machine drift within a run is visible); r8 and earlier
    store a scalar. The regression gate always normalizes by the mean."""
    if isinstance(v, (list, tuple)):
        return sum(v) / len(v)
    return v


def _calib_pair(v):
    """Normalize a calibration record to the [start, end] pair shape on
    WRITE, duplicating a legacy scalar into both slots, so every record
    this script emits has a uniform schema and consumers never need to
    know about the pre-r9 scalar form (ADVICE r9 item 4). _calib_mean
    stays scalar-tolerant only for READING pre-r10 committed ledgers."""
    if isinstance(v, (list, tuple)):
        return list(v)
    return [v, v]

def _norm_verdict(cur: float, prev: float, ratio: float, slots: dict) -> str:
    """One-line machine-independent headline verdict (VERDICT r10
    task 2): totals in calibration-probe units, plus whether any slot
    regressed >15% AFTER normalization (those need a named cause)."""
    head = f"normalized headline {cur} vs {prev} calibration-probe units ({ratio}x): "
    if ratio <= 1.05 and not slots:
        return head + "parity — any raw delta is machine speed"
    if not slots:
        return head + "total drifted but no single slot >1.15x normalized"
    return (
        head + f"{len(slots)} slot(s) >1.15x normalized — each needs a"
        " named cause in notes"
    )


def _ledger(rec: dict, calib: float, prev_name, prev) -> dict:
    """Every ledger field of bench record `rec` (its `queries`, `value`,
    `sf` and optional `sweep_queries`), given the divisor `calib` (the
    run's mean calibration-probe seconds) and the previous round's
    record `prev`, named `prev_name`. Pure: the caller merges the result
    into `rec`. FULL passes its 3-dp calibration mean, the min-merged
    EXCL record the unrounded mean of its merged pair.

    Calibration-NORMALIZED series (VERDICT r10 task 2): per-slot time ÷
    the calibration-probe time is dimensionless across machines, so the
    normalized total is the machine-independent headline, and a slot
    whose normalized ratio vs the previous round exceeds 1.15 must get
    a named cause in the ledger notes."""
    queries = rec["queries"]
    out = {
        "queries_normalized": {n: round(t / calib, 2) for n, t in queries.items()},
        "value_normalized_probes": round(rec["value"] / calib, 1),
    }
    if prev is None or prev.get("sf") != rec["sf"]:
        return out
    prev_q = prev.get("queries", {})
    out["prev"] = prev_name
    out["prev_value"] = prev.get("value")
    out["deltas"] = {
        n: round(t - prev_q[n], 3) for n, t in queries.items() if n in prev_q
    }
    prev_calib = prev.get("calibration_shuffle_agg_1m_sec")
    if not prev_calib:
        return out
    # Divide the raw cross-round ratio by the machine-speed ratio on the
    # fixed microbench, so host-VM drift cancels (VERDICT r3 #6). The
    # microbench itself jitters across rounds (r3 0.432s vs r4 0.238s on
    # flat raw timings), so a FLAG requires BOTH the raw and the
    # adjusted ratio above threshold — either alone is machine noise in
    # one direction or the other; the record keeps both series.
    machine = calib / _calib_mean(prev_calib)
    out["calibration_prev_sec"] = prev_calib
    out["machine_ratio"] = round(machine, 3)
    raw = {
        n: round(t / prev_q[n], 3)
        for n, t in queries.items()
        if n in prev_q and prev_q[n] > 0
    }
    # the adjusted ratio IS the normalized per-slot ratio:
    # (t/calib) / (t_prev/calib_prev) = raw / machine_ratio
    adj = {n: round(r / machine, 3) for n, r in raw.items()}
    by_adj = sorted(adj.items(), key=lambda kv: -kv[1])
    out["deltas_raw_ratio"] = raw
    out["deltas_adjusted_ratio"] = adj
    out["regressions_raw_and_adjusted_gt_1_3"] = {
        n: max(raw[n], a) for n, a in by_adj if a > 1.3 and raw[n] > 1.3
    }
    out["normalized_regressions_gt_1_15"] = {n: a for n, a in by_adj if a > 1.15}
    prev_norm = round(prev.get("value", 0) / _calib_mean(prev_calib), 1)
    norm = out["value_normalized_probes"]
    norm_ratio = round(norm / prev_norm, 3)
    out["normalized_vs_prev"] = {
        "prev": prev_name,
        "prev_value_normalized_probes": prev_norm,
        "value_normalized_probes": norm,
        "ratio": norm_ratio,
        "verdict": _norm_verdict(
            norm, prev_norm, norm_ratio, out["normalized_regressions_gt_1_15"]
        ),
    }
    # sweep slots diff against the previous sweep record (first round
    # with a sweep has no baseline; min-of-2 noise means the same
    # both-axes gate applies)
    prev_sweep = prev.get("sweep_queries", {})
    if rec.get("sweep_queries") and prev_sweep:
        sraw = {
            n: round(t / prev_sweep[n], 3)
            for n, t in rec["sweep_queries"].items()
            if n in prev_sweep and prev_sweep[n] > 0
        }
        out["sweep_regressions_raw_and_adjusted_gt_1_3"] = {
            n: round(r / machine, 3)
            for n, r in sorted(sraw.items(), key=lambda kv: -kv[1])
            if r > 1.3 and r / machine > 1.3
        }
    return out


def _min_merge(cur_t, cur_s, old_t, old_s):
    """Per-slot minimum of two runs' timings `cur_t` and `old_t`, each
    kept with its own spread. The union of slots carries through (ADVICE
    r7: a slot present only in the old record — e.g. the current run
    skipped it — must not silently drop); a tie keeps the old minimum."""
    merged, mspread = {}, {}
    for n in set(old_t) | set(cur_t):
        if n not in cur_t or (n in old_t and old_t[n] <= cur_t[n]):
            merged[n] = old_t[n]
            mspread[n] = old_s.get(n, cur_s.get(n, 0.0))
        else:
            merged[n] = cur_t[n]
            mspread[n] = cur_s[n]
    return merged, mspread


def _sf_value(sf_dir: str):
    """Scale factor named by a testdata dir (`.../sf0.1` → 0.1)."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        return float(sf)
    except ValueError:
        return sf


def _silence_bounded_window_warnings(spark) -> None:
    """Mute the per-execution `WindowExec: No Partition Defined`
    warning in bench logs (r9 verdict task 4): every such site in the
    registry is a provably bounded table, pinned by
    `plans/audit.BOUNDED_SINGLE_PARTITION_WINDOWS` and enforced by
    tools/plan_report.py each round — a NEW unpartitioned window fails
    the PLANS.md regeneration instead of drowning real warnings in a
    190-slot ledger tail."""
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )


def _noop_write(df) -> None:
    """Force the full plan end to end; nothing is collected."""
    df.write.format("noop").mode("overwrite").save()


def _warm_up(qs, spark, sf_dir) -> None:
    """Exercise each engine path once (parquet scan + shuffle agg;
    python-worker pool + Arrow; vector-distance expression family) so
    timings measure steady-state throughput, not one-time
    JVM/codegen/worker-pool initialization."""
    for name in ("q1_pricing_summary", "knn_exact", "token_stats"):
        _noop_write(qs[name](spark, sf_dir))


def _time_slot(qs, spark, sf_dir, name, force=_noop_write) -> float:
    """Wall seconds to build registry slot `name` and `force` it."""
    t0 = time.time()
    force(qs[name](spark, sf_dir))
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from spec_search_spark.operators import all_queries

    qs, _ = all_queries()
    spark = get_spark("bench")
    _silence_bounded_window_warnings(spark)
    _warm_up(qs, spark, sf_dir)

    # Machine calibration: a fixed shuffle-agg microbench (1M rows,
    # groupBy 1000 keys) so per-round numbers can be normalized across
    # host VMs of different speed. Probed TWICE — at the start and the
    # end of the run (VERDICT r8 item 7) — so machine drift WITHIN a
    # run is visible; the regression gate uses the mean of the pair.
    # Recorded, never added to `value`.
    def _calib() -> float:
        df = spark.range(1_000_000).selectExpr("id % 1000 as k", "id")
        t0 = time.time()
        _noop_write(df.groupBy("k").count())
        return time.time() - t0

    _calib()  # warm
    calib_start = round(min(_calib() for _ in range(3)), 3)

    # min of N runs (VERDICT r4 #7: n >= 5, spread recorded): the VM
    # shows ~3x wall-clock jitter between identical executions; the
    # minimum is the stable throughput signal, and the per-query
    # max-min spread is kept in the ledger so a cross-round swing is
    # attributable to contention vs code. Must run on an otherwise
    # idle machine (BASELINE standing rule).
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    # Cold/warm dual pricing (VERDICT r11 item 6): min-of-N prices
    # memoized slots at their warm steady state (the per-session
    # index/training memos are deliberate deployment pricing), but a
    # ledger row of 0.01 s for a slot whose FIRST run pays seconds of
    # memo build misprices it. Record {cold: first_run, warm: min} for
    # every slot whose first sample is an outlier vs its min, so both
    # regimes stay visible. Additions-only: timed region, query set,
    # min-of-N policy and the one-line JSON are unchanged.
    cold_warm: dict[str, dict] = {}

    def _note_cold(name: str, samples: list) -> None:
        warm = min(samples)
        if samples[0] > 2 * warm and samples[0] - warm > 0.5:
            cold_warm[name] = {
                "cold": round(samples[0], 3),
                "warm": round(warm, 3),
            }

    for name in HEADLINE:
        samples = [_time_slot(qs, spark, sf_dir, name) for _ in range(n_runs)]
        timings[name] = round(min(samples), 3)
        spreads[name] = round(max(samples) - min(samples), 3)
        _note_cold(name, samples)

    # Full-sweep coverage (VERDICT r7 item 1): every registered query
    # gets a tracked wall-clock record. The sweep is registry-driven —
    # whatever queries() registers and HEADLINE doesn't curate runs
    # here at min-of-2 (half the headline budget: the sweep exists to
    # catch plan-SHAPE regressions, which survive run-count noise; the
    # headline keeps min-of-5 for the fine-grained throughput ledger).
    # Documented exclusions: stream_* twins are drain-time benched in
    # BENCH_STREAM_r{N}.json (bench_stream.py) — a batch re-run here
    # would double-count them under a meaningless batch harness.
    sweep_exclusions = {
        "stream_*": "drain-time benched in BENCH_STREAM (bench_stream.py)"
    }
    sweep_runs = int(os.environ.get("SPARK_GRAFT_BENCH_SWEEP_RUNS", "2"))
    sweep_names = sorted(
        n for n in qs
        if n not in timings and not n.startswith("stream_")
    )
    sweep_timings: dict[str, float] = {}
    sweep_spreads: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_SWEEP", "1") != "0":
        for name in sweep_names:
            samples = [_time_slot(qs, spark, sf_dir, name) for _ in range(sweep_runs)]
            sweep_timings[name] = round(min(samples), 3)
            sweep_spreads[name] = round(max(samples) - min(samples), 3)
            _note_cold(name, samples)

    # End-of-run calibration probe (pair with calib_start above).
    calib_end = round(min(_calib() for _ in range(3)), 3)
    calib_pair = [calib_start, calib_end]
    calib = round((calib_start + calib_end) / 2, 3)

    sf_val = _sf_value(sf_dir)
    full = {
        "metric": "headline_suite_total_steady_state",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "calibration_shuffle_agg_1m_sec": calib_pair,
        "calibration_mean_sec": calib,
        "run_policy": f"min_of_{n_runs}_exclusive_machine",
        "spread_max_minus_min": spreads,
        # filled by _ledger below; listed here to keep their place
        "queries_normalized": None,
        "value_normalized_probes": None,
    }
    if sweep_timings:
        full["sweep_queries"] = sweep_timings
        full["sweep_value"] = round(sum(sweep_timings.values()), 3)
        full["sweep_spread_max_minus_min"] = sweep_spreads
        full["sweep_run_policy"] = f"min_of_{sweep_runs}_exclusive_machine"
        full["sweep_exclusions"] = sweep_exclusions
    if cold_warm:
        # slots whose first run is >2x and >0.5s above their min —
        # session-memoized builds (index/training memos) and first-use
        # engine-path initialization, priced in BOTH regimes
        full["cold_vs_warm_outliers"] = cold_warm
    prev_name, prev, this_round = _previous_round()
    full.update(_ledger(full, calib, prev_name, prev))

    # Full record to a file (the driver's stdout capture keeps only the
    # last 2000 chars — r3's line overflowed it); stdout stays compact.
    here = os.path.dirname(os.path.abspath(__file__))
    # only the graded scale claims the round record — a dev run at
    # another sf must not clobber BENCH_FULL_r{N}.json
    if sf_val == 0.1:
        full_name = f"BENCH_FULL_r{this_round:02d}.json"
    else:
        full_name = f"BENCH_FULL_dev_sf{sf_val}.json"
    with open(os.path.join(here, full_name), "w") as fh:
        json.dump(full, fh, indent=1)
    # Builder-exclusive record: the regression-ledger baseline for the
    # next round. Written under a name the driver never clobbers, and
    # ONLY when the operator attests the machine is otherwise idle
    # (SPARK_GRAFT_BENCH_EXCLUSIVE=1) — a contended run as baseline is
    # exactly the r5/r6 ledger-poisoning failure (_previous_round).
    # If a record for THIS round already exists, merge per-slot MINIMA
    # instead of overwriting: ambient degradation arrives in
    # multi-minute windows that poison a contiguous band of slots per
    # run (r7: one run flagged the untouched q1-q10 family, the next
    # flagged slots 101-107 while q1 got faster), so the union of runs
    # is strictly more honest than the last one. CAVEAT: if a query's
    # code changed between runs, delete the EXCL file first — the
    # merge cannot know and would keep a stale pre-change minimum.
    if sf_val == 0.1 and os.environ.get("SPARK_GRAFT_BENCH_EXCLUSIVE") == "1":
        excl_path = os.path.join(here, f"BENCH_EXCL_r{this_round:02d}.json")
        excl = dict(full)
        try:
            with open(excl_path) as fh:
                old = json.load(fh)
        except (OSError, json.JSONDecodeError):
            old = None
        if old and old.get("queries"):
            merged, mspread = _min_merge(
                timings, spreads, old["queries"], old.get("spread_max_minus_min", {})
            )
            excl["queries"] = merged
            excl["spread_max_minus_min"] = mspread
            excl["value"] = round(sum(merged.values()), 3)
            if sweep_timings or old.get("sweep_queries"):
                smerged, sspread = _min_merge(
                    sweep_timings,
                    sweep_spreads,
                    old.get("sweep_queries", {}),
                    old.get("sweep_spread_max_minus_min", {}),
                )
                excl["sweep_queries"] = smerged
                excl["sweep_value"] = round(sum(smerged.values()), 3)
                excl["sweep_spread_max_minus_min"] = sspread
            old_calib = old.get("calibration_shuffle_agg_1m_sec", calib_pair)
            excl["calibration_shuffle_agg_1m_sec"] = _calib_pair(
                min(calib_pair, old_calib, key=_calib_mean)
            )
            excl["calibration_mean_sec"] = round(
                _calib_mean(excl["calibration_shuffle_agg_1m_sec"]), 3
            )
            excl["run_policy"] = "per_slot_min_merged_exclusive_runs"
            excl["calibration_series"] = [
                _calib_pair(c)
                for c in old.get(
                    "calibration_series",
                    [old.get("calibration_shuffle_agg_1m_sec")],
                )
            ] + [calib_pair]
            if "notes" in old:
                excl["notes"] = old["notes"]
            # every ledger field from the merged minima, so the
            # committed record is internally consistent (ADVICE r7: the
            # copied current-run 'deltas' disagreed with the merged minima)
            excl.update(_ledger(
                excl, _calib_mean(excl["calibration_shuffle_agg_1m_sec"]), prev_name, prev
            ))
        with open(excl_path, "w") as fh:
            json.dump(excl, fh, indent=1)

    out = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "calibration_shuffle_agg_1m_sec": calib_pair,
        "value_normalized_probes": full["value_normalized_probes"],
        "run_policy": full["run_policy"],
        "full_record": full_name,
    }
    if "normalized_vs_prev" in full:
        out["norm_vs_prev_ratio"] = full["normalized_vs_prev"]["ratio"]
    if sweep_timings:
        out["sweep_value"] = full["sweep_value"]
        out["sweep_n"] = len(sweep_timings)
    regressions = full.get("regressions_raw_and_adjusted_gt_1_3")
    if regressions:
        out["regressions_raw_and_adjusted_gt_1_3"] = dict(list(regressions.items())[:5])
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # stay inside the driver's 2000-char tail
        out.pop("regressions_raw_and_adjusted_gt_1_3", None)
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        out["queries"] = {n: round(t, 2) for n, t in timings.items()}
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        # headline has outgrown the tail capture even at 2dp: keep the
        # 10 slowest (the actionable ones) — the full per-query record
        # is always in BENCH_FULL_r{N}.json
        out["queries"] = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
        out["queries_truncated_to_top10_slowest"] = True
        line = json.dumps(out, separators=(",", ":"))
    print(line)


def _previous_round():
    """Latest recorded bench next to this script — the regression
    ledger baseline. Prefers the BUILDER-EXCLUSIVE record
    BENCH_EXCL_r{N}.json (min-of-N on an otherwise-idle machine,
    written when SPARK_GRAFT_BENCH_EXCLUSIVE=1): the driver's
    BENCH_r{N}.json can be contended (r5 was cache-eviction-poisoned)
    or run on a faster host, and diffing against it both hides real
    plan-shape regressions and flags phantom ones — the r6 rank-walk
    trade (×1.3–×2.0 at sf0.1, accepted for scale-safety) went
    unrecorded because the r5 driver target was poisoned. Exclusive
    runs must diff against exclusive runs. Falls back to the driver's
    BENCH_r{N}.json / BENCH_FULL_r{N}.json for rounds with no
    exclusive record. Returns (name, record, this_round_number)."""
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    # ONLY the driver's BENCH_r{N}.json files mark rounds — our own
    # BENCH_FULL/BENCH_EXCL files must not bump the round inference (a
    # mid-round bench run would otherwise shift this_round next run).
    rounds = []
    for f in os.listdir(here):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if m:
            rounds.append(int(m.group(1)))
    if not rounds:
        return None, None, 1
    last = max(rounds)

    def _load(name):
        try:
            with open(os.path.join(here, name)) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None
        # the driver records {"parsed": <our line>, ...wrapper fields}
        return data.get("parsed", data)

    for name in (f"BENCH_EXCL_r{last:02d}.json", f"BENCH_r{last:02d}.json",
                 f"BENCH_FULL_r{last:02d}.json"):
        rec = _load(name)
        if rec and rec.get("queries_truncated_to_top10_slowest"):
            # the driver keeps our stdout line, cut to its 10 slowest
            # slots: diff against the full record that line names
            name = rec["full_record"]
            rec = _load(name)
        if rec and rec.get("queries"):
            return name, rec, last + 1
    return None, None, last + 1


if __name__ == "__main__":
    main()
