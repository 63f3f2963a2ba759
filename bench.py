"""Benchmark harness (headline contract): run the HEADLINE, TAIL and
FRESH_SESSION_TAIL queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data) on local[$SPARK_GRAFT_CPUS], each forced through the no-op
sink (full computation, nothing collected).

A row's time is the best of its reps: 3 per HEADLINE row, 2 per TAIL row,
3 per FRESH_SESSION_TAIL row inside a fresh SparkSession. Every rep
lands in BENCH_DETAIL.json. stdout gets two JSON lines: the per-query
detail, then LAST the compact record that callers parse,
{metric, value, unit, n_queries, sf}, where value is the sum of the
per-row bests in seconds.

Comparing a change against its parent is perfbench/run.py's job
(BENCHMARK.json); this script only measures and reports.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.session import get_spark

HEADLINE = [
    "h1_pricing_summary",
    "h5_region_volume",
    "a1_sales_by_date",
    "a2_sales_by_month",
    "a3_sales_by_category",
    "a4_sales_by_state",
    "dax_measures",
    "t1_topk",
    "w2_running_total",
    "e1_tumbling_hourly",
    "e3_session_windows",
    "d3_minhash_lsh",
    "v1_cosine_topk",
    "x2_quality",
    "x12_unigram_score",
    "p11_sequence_pack",
    "m1_multimodal_features",
]

# The rest of the registry's costly surface (multi-join TPC-H heavies,
# full-corpus dedup, ANN, gap-fill, MERGE, the statistics and text
# families), best-of-2 in the main session. The heaviest iterative and
# full-corpus members run isolated instead (FRESH_SESSION_TAIL).
TAIL = [
    "h9_product_profit",
    "h21_waiting_supplier",
    "d8_chunk_dedup",
    "d10_cross_source_contamination",
    "e6_retention_cohorts",
    "u1_scd1_merge",
    "v2_ann_ivf",
    "v2_ann_ivf_indexed",
    "x14_pmi_collocations",
    "d12_fuzzy_title_match",
    "a16_gini_concentration",
    "r5_gapfill_locf",
    "r6_gapfill_interpolate",
    "r7_asof_against_scd2",
    "x15_winnowing",
    "x16_doc_entropy",
    "a18_corr_matrix",
    "r8_resample_ohlc",
    "sc3_bloom_prune_join",
    "x17_bm25",
    "e9_rolling_zscore",
    "ml4_knn_classify",
    "ml5_linreg_trend",
    "x18_cooccurrence",
    "e8_transition_matrix",
    "e10_attribution",
    "sc4_skew_report",
    "q6_profile_summary",
    "q7_chi2_independence",
    "a19_percentiles_cont",
    "r9_asof_forward",
    "e11_rolling_active_users",
    "u5_incremental_rollup",
    "u6_apply_cdc",
    "p14_weighted_reservoir",
    "p12_greedy_pack",
    "x19_lang_confusion",
    "ml6_ab_proportion_test",
    "x20_chunk_split",
    "ml7_naive_bayes",
    "sc5_distributed_row_number",
    "u7_snapshot_diff",
    "x21_bigram_score",
    "a20_mad",
    "e12_time_to_convert",
    "m5_audio_frames",
    "d13_semantic_clusters",
    "r10_peak_concurrency",
    "q9_fk_audit",
    "x23_zipf_fit",
    "ml8_markov_eval",
    "x22_temperature_mix",
    "d14_minhash_calibration",
    "t3_keyset_page",
    "q8_volume_anomaly",
    "r11_asof_nearest",
    "q10_table_fingerprint",
    "e13_interarrival",
    "p13_length_buckets",
    "a21_seasonality",
    "x25_ngram_novelty",
    "a22_trimmed_mean",
    "v5_label_coherence",
    "m6_frame_dedup",
    "v6_int8_recall",
    "q11_benford",
    "sc6_range_partition_plan",
    "v7_pq_adc",
    "r12_calendarize",
    "a23_rfm_segments",
    "a24_ewma",
    "e14_top_paths",
    "q12_expectations",
    "ml9_also_bought",
    "v8_ivf_probe_sweep",
    "x26_rake_keywords",
    "x27_burstiness",
    "a25_yoy_growth",
    "a26_cohort_ltv",
    "a27_pareto_abc",
    "ml10_decision_stump",
    "r13_business_days",
    "e15_bounce_matrix",
    "x28_kl_divergence",
    "x29_oov_rate",
    "m7_scene_cuts",
    "x30_heaps_fit",
    "a28_price_volume_mix",
    "v9_mmr_rerank",
    "e16_event_lateness",
    "q13_fanout_profile",
    "e17_survival_horizons",
    "d17_lsh_s_curve",
    "x31_tokenizer_fertility",
    "e18_growth_accounting",
    "ml11_oner",
    "r14_peak_window_overlap",
    "u9_bitemporal_lookup",
    "q14_ks_test",
    "a31_dow_hour_heatmap",
    "m8_vad_segments",
    "r15_interval_coalesce",
    "sc7_zone_map_skipping",
    "ml12_score_bias_auc",
    "p16_lang_cap_sample",
    "d16_containment_pairs",
    "ml13_gain_lift",
    "ml14_pr_curve",
    "a32_abc_xyz",
    "e19_autocorrelation",
    "q15_pk_uniqueness",
    "ml15_ols2",
    "q16_sequence_gaps",
    "u10_scd_compaction",
    "r16_pairwise_overlap",
    "v10_filtered_ann",
    "ml16_calibration",
    "u11_cdc_net_effect",
]

# Each of these runs in a FRESH SparkContext (spark.stop() + rebuild,
# untimed): in a session that has already run ~1,400 stages, the
# accumulated shuffle files and localCheckpoint blocks inflated heavy
# iterative tails 3x (d6 read 38.0 s in-session against 10.7 s alone).
# Best-of-3 within the clean session lets rep 1 absorb its codegen/JIT.
FRESH_SESSION_TAIL = [
    "d2_ngram_jaccard_full",
    "d3_minhash_lsh_full",
    "d3_minhash_lsh_fast",
    "ml1_kmeans",
    "ml2_pagerank",
    # exact full-graph triangle count (41M wedges at sf0.1): the slowest
    # compute-bound tail, already on the degree-ordered compact-forward
    # algorithm, so its cost is the workload itself
    "ml3_triangle_count",
    # d6 and its dependents run LAST, in ONE fresh session: d6's row is
    # the standalone connected-components cost, then its labels are
    # materialized once (untimed: the computation d6's row just priced)
    # and d15/p15 are timed as the delta over them, the way a production
    # pipeline runs them. The registry entries stay standalone
    # (labels=None recomputes) for the correctness checks.
    "d6_dup_clusters",
    "d15_keep_longest",
    "p15_leakage_safe_split",
]

# Members of FRESH_SESSION_TAIL that consume d6's materialized labels
# instead of restarting the session.
_D6_DEPENDENTS = {"d15_keep_longest", "p15_leakage_safe_split"}

# The md5-vs-xxhash64 portability pair shares ONE fresh session and ONE
# untimed full-corpus shingle table: the shingle build is the same for
# both hashers, so each row times only the hasher-specific pipeline
# (signatures → bands → candidates → exact verification). Path
# equivalence is pinned by
# tests/test_dedup.py::test_d3_shared_shingles_equivalence; the registry
# d3_minhash_lsh entry stays standalone (shingles=None) for correctness.
_D3_HASHER = {"d3_minhash_lsh_full": "md5", "d3_minhash_lsh_fast": "xxhash64"}

_IVF_INDEX_PATH = "/tmp/spark_graft_bench_ivf_index"


def _ivf_parts(spark, sf_dir: str):
    # the ONE definition of the IVF workload conventions — the indexed
    # bench row must measure exactly q_v2_ann_ivf's centroids/queries
    from etl_power_bi_dashboard_spark.plans.similarity_plans import ivf_parts

    return ivf_parts(spark, sf_dir)


def _prepare_ivf_index(spark, sf_dir: str) -> None:
    """One-time index build (UNTIMED — it's the amortized cost the
    persisted-index probe exists to avoid; the v2_ann_ivf row measures
    the no-index path for comparison)."""
    from etl_power_bi_dashboard_spark.operators import similarity

    emb, centroids, _ = _ivf_parts(spark, sf_dir)
    similarity.ivf_write_index(emb, centroids, _IVF_INDEX_PATH)


def _tail_plan(name: str):
    from etl_power_bi_dashboard_spark.plans.dedup_plans import (
        q_d2_ngram_jaccard,
        q_d3_minhash_lsh,
    )

    if name == "d2_ngram_jaccard_full":
        return lambda spark, sf_dir: q_d2_ngram_jaccard(spark, sf_dir, max_doc=None)
    if name in _D3_HASHER:
        # full-corpus pipeline over the SHARED materialized shingle
        # table (built untimed in main): md5 (DuckDB-reproducible) vs
        # xxhash64 (native codegen fast path) so the md5-portability
        # tax is visible as a pure hasher delta
        hasher = _D3_HASHER[name]
        return lambda spark, sf_dir, shingles=None: q_d3_minhash_lsh(
            spark, sf_dir, max_doc=None, hasher=hasher, shingles=shingles
        )
    if name == "v2_ann_ivf_indexed":
        # probe the persisted, cluster_id-partitioned index (built
        # untimed in main) — proves the partition-pruned probe beats the
        # inline assign-then-probe v2 row end-to-end
        def indexed(spark, sf_dir):
            from etl_power_bi_dashboard_spark.operators import similarity

            _, centroids, queries = _ivf_parts(spark, sf_dir)
            return similarity.ivf_topk_indexed(
                spark, _IVF_INDEX_PATH, centroids, queries, k=3, n_probe=2
            )

        return indexed
    return REGISTRY[name].spark


def _fresh_session(name: str):
    spark = get_spark(app_name=f"bench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    try:
        # a directory like .../sf./x or .../sf1.2.3/x must degrade to
        # sf=None, not kill the bench at startup
        sf = float(m.group(1).rstrip(".")) if m else None
    except ValueError:
        sf = None
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warmup: spin up the Python worker pool (first mapInPandas
    # costs ~20s of process forking on local[32]) and prime parquet
    # footers/codegen, so timings measure the engine, not process bootstrap.
    REGISTRY["m1_multimodal_features"].spark(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    REGISTRY["dax_measures"].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # best-of-n per row: the min filters co-tenant CPU spikes on a shared
    # host; every rep is kept for BENCH_DETAIL.json
    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}

    def _run(run_once, name: str, n: int) -> None:
        times: list[float] = []
        for _ in range(n):
            t0 = time.perf_counter()
            run_once().write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        reps[name] = times
        timings[name] = min(times)

    for name in HEADLINE:
        q = REGISTRY[name]
        _run(lambda: q.spark(spark, sf_dir), name, 3)

    _prepare_ivf_index(spark, sf_dir)
    for name in TAIL:
        plan = _tail_plan(name)
        _run(lambda: plan(spark, sf_dir), name, 2)

    d6_labels = None
    d3_shingles = None
    for name in FRESH_SESSION_TAIL:
        if name in _D6_DEPENDENTS:
            # stay in d6's clean session; time the delta over its
            # labels. The labels MUST exist — a list reorder that put a
            # dependent before d6_dup_clusters would otherwise silently
            # re-pay the full connected-components fixpoint per rep.
            assert d6_labels is not None, (
                f"{name} must follow d6_dup_clusters in FRESH_SESSION_TAIL"
            )
            plan = REGISTRY[name].spark
            _run(lambda: plan(spark, sf_dir, labels=d6_labels), name, 3)
            continue
        if name in _D3_HASHER:
            if d3_shingles is None:
                spark.stop()
                spark = _fresh_session("d3_pair")
                from etl_power_bi_dashboard_spark.plans.dedup_plans import (
                    d3_shingle_table,
                )

                d3_shingles = d3_shingle_table(
                    spark, sf_dir, max_doc=None
                ).localCheckpoint()
            plan = _tail_plan(name)
            _run(lambda: plan(spark, sf_dir, shingles=d3_shingles), name, 3)
            continue
        spark.stop()
        spark = _fresh_session(name)
        plan = _tail_plan(name)
        _run(lambda: plan(spark, sf_dir), name, 3)
        if name == "d6_dup_clusters":
            d6_labels = plan(spark, sf_dir).localCheckpoint()

    for line in emit_records(timings, sf, write_detail=True, reps=reps):
        print(line)


def emit_records(
    timings: dict,
    sf: float,
    write_detail: bool = False,
    reps: dict | None = None,
    detail_path: str | None = None,
) -> list[str]:
    """The two stdout records, LAST one driver-parseable by contract.

    The per-query detail prints first (one line for humans) and, with
    ``write_detail``, lands in BENCH_DETAIL.json. Callers read only a
    ~2 KB tail of stdout, which a 144-row detail line outgrows, so the
    LAST line is a compact record without the per-query dict, bounded
    well under 1 KB however many queries the detail grows to (pinned by
    tests/test_registry.py::test_bench_last_line_fits_tail).

    ``reps`` (every rep time per query) lands ONLY in BENCH_DETAIL.json.
    """
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if write_detail:
        if detail_path is None:
            detail_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
            )
        file_detail = dict(detail, reps=reps) if reps else detail
        try:
            with open(detail_path, "w") as f:
                json.dump(file_detail, f, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: the stdout detail line still has it
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf,
    }
    return [json.dumps(detail), json.dumps(compact)]


if __name__ == "__main__":
    main()
