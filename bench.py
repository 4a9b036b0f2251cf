"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "calibration": <sec>, "sf": <float>}

Each query is fully materialized via the noop sink (no driver collect,
no disk write — pure engine throughput).

``calibration`` is a FIXED, never-changing probe (lineitem scan + one
hash agg, defined inline below — independent of the query catalog)
timed exactly like the headline queries. Cross-round comparisons must
be read as (query_time / calibration_time) ratios: round 4 measured a
uniform 1.5-1.7x wall inflation on byte-identical queries that was
pure sandbox drift, indistinguishable from a regression without an
anchor. See BASELINE.md.

``calibration_series`` (round 14 on) re-times the SAME fixed probe
after every PROBE_EVERY queries: rounds 10-13 proved a single
start-of-run probe cannot normalize INTRA-run host-epoch swings (the
r13 driver record read a median 1.32x above the builder's on
byte-identical code while its one probe moved the opposite way; the
instrumented hunt runs saw the fixed probe swing 0.55-1.68 s within a
single sequence). Each entry is {"after": <queries completed>,
"sec": <probe time>}; the cross-round per-query ratio convention is
query_time / nearest-probe-time (the probe whose "after" is closest
to the query's position in HEADLINE). The scalar ``calibration``
(warm start-of-run probe) is kept for continuity with BENCH_r05..r13;
series entries are all measured warm=False so every position
normalizes against the same methodology. See SURVEY.md §8.

Round 15 adds two streaming-specific instruments (VERDICT r14 tasks
1/7 — the r14 driver record carried a 3-row streaming spike cluster,
worst 27.98 s vs 1.47 s builder same-code, sitting BETWEEN flat
probes; a stall shorter than the 10-query cadence was invisible):
  * an extra calibration probe immediately after EVERY streaming_*
    query, so each streaming drive is bracketed by probes and a
    sub-cadence host stall can no longer hide between them;
  * ``stream_epochs`` — {query: [triggerExecution ms, ...]} per-
    micro-batch durations across that query's three builds (warm +
    2 timed), captured by a StreamingQueryListener. Streaming wall
    time is protocol-dominated (micro-batch drive loops), so a host
    stall shows up as one fat epoch, not an unexplained total.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Probe cadence for calibration_series: one fixed probe every 10 queries,
# dense enough to bracket a host stall to a window of a few rows.
PROBE_EVERY = 10

HEADLINE = [
    "latest_rate_per_key",
    "current_snapshot_upsert",
    "top1000_newest_events",
    "trailing_24h_delta",
    "pct_change_per_event",
    "tpch_q1_pricing_summary",
    "revenue_by_region",
    "customer_order_stats",
    "asof_last_purchase_before_click",
    "exact_dedup_documents",
    "near_dup_jaccard_pairs",
    "minhash_lsh_near_dup",
    "simhash_near_dup",
    "token_stats",
    "cosine_topk_bruteforce",
    "ann_lsh_topk",
    "ivf_ann_topk",
    "tpch_q3_shipping_priority",
    "lineitem_corr_moments",
    "event_sessionization",
    "lineitem_percentiles",
    # round 3 additions (new entries appended so per-query numbers stay
    # comparable across BENCH_r* rounds):
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "near_dup_embeddings_lsh",
    "purchases_within_1h_before_click",
    # round 4 additions (appended; the 25 rows above stay byte-identical
    # so BENCH_r4-vs-r3 is like-for-like on the shared prefix):
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q13_customer_distribution",
    "tpch_q17_small_quantity_revenue",
    "tpch_q21_waiting_suppliers",
    "tfidf_top_terms",
    "sequence_packing",
    "doc_repetition_score",
    "ngram_contamination",
    "embedding_dedup_clusters",
    # round 5 additions (appended; rows above stay byte-identical so the
    # cross-round shared prefix — now read as calibration ratios — holds):
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_cnt",
    "tpch_q20_promotion_suppliers",
    "redact_pii_documents",
    "domain_temperature_resample",
    "hourly_gap_fill_forward",
    "shard_token_streams",
    "media_phash_near_dup",
    "dedup_cluster_keepers",
    "user_feature_snapshot",
    "weekly_active_users",
    "data_quality_report",
    "passage_dedup_rewrite",
    "ann_int8_rerank_topk",
    "perplexity_quality_score",
    "doc_chunk_windows",
    "join_key_skew_profile",
    # round 6 additions (appended; prior rows byte-identical). This block
    # finally times the PYTHON surface — Arrow round-trip cost is the
    # engine's most scale-sensitive overhead and was untracked — plus
    # the remaining unbenched TPC-H shapes and round-6 operators:
    "user_gap_stats",               # grouped-map applyInPandas
    "scalar_pandas_udf_tokens",     # scalar pandas_udf
    "udtf_user_activity_profile",   # Python UDTF, TABLE(...) PARTITION BY
    "pandas_udaf_median_value",     # GROUPED_AGG pandas UDAF
    "media_image_stats",            # mapInPandas over binary blobs
    "cross_split_near_dup_leakage",
    "training_shard_prep",
    "train_val_test_split",
    "quality_filter",
    "lang_id_ngram",
    "bpe_token_estimate",
    "doc_fingerprint",
    "corpus_ngram_topk",
    "dedup_consensus",
    "domain_mix_report",
    "value_histogram",
    "events_anomaly_zscore",
    "stratified_sample_per_lang",
    "cdc_delta_apply_rollup",
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q7_nation_trade_volume",
    "tpch_q12_priority_by_flag",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_dormant_customers",
    "ivf_centroid_drift_report",
    "minhash_index_batch_dedup",
    "cdc_join_view_refresh",
    "cdc_comoment_rollup",
    # round 7 additions (appended; prior rows byte-identical):
    "cdc_distinct_maintenance",
    # round 8 additions (appended; prior rows byte-identical): the
    # ENTIRE remaining catalog — VERDICT r7 "What's missing" #1 found
    # 54 of 140 registered queries with no timing history at all
    # (the whole streaming family, the rollup/cube/grouping-sets
    # shapes, the media stubs, both skew-salting twins, ...). From
    # this round the bench list is definitionally "every registered
    # query": a test at the bottom of this file's sibling
    # (tests/test_registry_order.py) pins HEADLINE == registry, so a
    # new query cannot land unbenched by accident. Streaming entries
    # time the FULL run (file-source stream driven to completion
    # inside the callable — run_stream_to_memory / foreachBatch), so
    # their numbers include micro-batch scheduling overhead by design.
    "point_lookup_latest",
    "filtered_topn_fixed_semantic",
    "props_extract_clean",
    "pair_split_roundtrip",
    "scd2_rate_history",
    "pricing_rollup",
    "events_cube",
    "lineitem_grouping_sets",
    "customers_with_orders_semi",
    "customers_without_orders_anti",
    "top3_lineitems_per_returnflag",
    "distinct_parts_per_status",
    "pivot_qty_by_linestatus",
    "nationkeys_intersect",
    "nationkeys_except",
    "part_string_functions",
    "daily_event_rollup",
    "asof_next_purchase_after_click",
    "dedup_clusters",
    "token_positions",
    "embedding_label_stats",
    "near_dup_embeddings",
    "embedding_l2_normalize",
    "streaming_sliding_counts",
    "streaming_window_approx_users",
    "streaming_stateful_first_seen",
    "streaming_enrich_static_dim",
    "streaming_interval_join",
    "streaming_dedup_union",
    "streaming_hourly_rates",
    "streaming_sessionization",
    "streaming_corpus_ingest",
    "streaming_rates_raw_zone_tail",
    "streaming_interval_join_left_outer",
    "streaming_cdc_rollup",
    "streaming_minhash_ingest",
    "streaming_cdc_distinct",
    "media_frame_sample",
    "media_resize_stats",
    "media_audio_rms",
    "lineitem_percentiles_approx",
    "order_rank_functions",
    "ivf_ann_topk_trained",
    "skew_salted_event_stats",
    "skew_salted_supplier_revenue",
    "event_transition_matrix",
    "event_funnel_conversion",
    "weekly_retention_cohorts",
    "lineitem_unpivot",
    "hll_user_cardinality",
    "cms_user_event_counts",
    "events_profile",
    "monthly_revenue_momentum",
    "udtf_token_positions",
    "sequential_dedup_admission",
    "ann_recall_report",
    "ann_lsh_multitable_topk",
    "twap_daily_value",
    "ohlc_daily_bars",
    "bigram_lift_topk",
    "ewma_value_smoothing",
    "rolling_volatility_close",
    "media_audio_fp_near_dup",
    "max_drawdown_daily",
    "pq_ann_topk",
    "near_dup_graph_stats",
    "cusum_drift_alerts",
    "equi_depth_histogram",
    "keyword_search_topk",
    "value_trend_slope",
    # r9 continuation (appended): the PQ recall investigation pair —
    # the rejected-normalization hypothesis test and the effective
    # shortlist+re-rank repair.
    "pq_ann_topk_normalized",
    "pq_rerank_topk",
    # r9 continuation, batch 2: entity resolution, time-series memory,
    # sweep-line occupancy, vocabulary diversity, diurnal profile.
    "fuzzy_part_name_match",
    "value_autocorr_lag1",
    "peak_concurrent_sessions",
    "token_diversity_gini",
    "hourly_seasonality_profile",
    # r9 continuation, batch 3: deterministic PPS corpus sampling and
    # integer-exact PageRank over the near-dup graph.
    "pps_systematic_sample",
    "near_dup_pagerank",
    # r9 continuation, batch 4: asymmetric containment dedup, vocabulary
    # drift between ingestion halves, stratified Neyman sampling.
    "doc_containment_pairs",
    "token_drift_report",
    "stratified_neyman_sample",
    # r9 continuation, batch 5: embedding geometry, behavior mining,
    # interval-overlap self-join.
    "label_centroid_similarity",
    "event_transition_lift",
    "concurrent_session_pairs",
    # r9 continuation, batch 6: lexical+semantic hybrid retrieval.
    "hybrid_rrf_retrieval",
    # r9 continuation, batch 7: robust (median/MAD) outlier fences.
    "mad_outlier_report",
    # r9 continuation, batch 8: streaming vocabulary-drift monitor
    # (maintained token-count store vs static reference half).
    "streaming_token_drift",
    # r9 continuation, batch 9: rank-based quantile feature transform.
    "quantile_normalize_values",
    # r10 additions (appended; prior rows byte-identical): CCNet/C4
    # boilerplate hygiene — the detection report and the strip rewrite.
    "boilerplate_passage_report",
    "boilerplate_strip_rewrite",
    # r10, batch 2: robust means, watermark sizing, cross rates, BPE
    # merge mining, decontaminated splits.
    "trimmed_robust_stats",
    "watermark_lateness_profile",
    "cross_rate_triangulation",
    "bpe_merge_topk",
    "bpe_merge_iterations",
    "bpe_apply_encode",
    "decontaminated_train_split",
    # r10, batch 3: the eval-by-composition pair — SemDeDup embedding
    # pruning and the near-dup family's precision/recall report.
    "semdedup_cell_prune",
    "dedup_recall_report",
    # r12 addition (appended; prior rows byte-identical): the learned-
    # tokenizer shard stream — BPE-metered packing, id-stream md5.
    "shard_token_id_streams",
    # r13 additions (appended; prior rows byte-identical): the
    # published 13-gram decontamination protocol and the
    # arbitrary-boundary substring dedup (Lee et al. 2022 shape).
    "contamination_13gram",
    "subpassage_dedup_rewrite",
    "tokenizer_fertility_report",
    "streaming_contamination_gate",
    # r14 addition (appended; prior rows byte-identical): the streaming
    # admission twin of the ExactSubstr sub-passage dedup.
    "streaming_subpassage_gate",
    # r15 addition (appended; prior rows byte-identical): the
    # production-mode (append, watermark-evicted) twin of the sliding
    # window aggregation.
    "streaming_sliding_counts_append",
]


def _calibration_df(spark, sf_dir: str):
    """The fixed probe. DO NOT EDIT: its timings anchor every BENCH_r*
    file from round 5 on; any change breaks cross-round ratios."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return li.groupBy("l_returnflag").agg(
        F.sum(rev).alias("revenue"), F.count(F.lit(1)).alias("n")
    )


def _make_epoch_listener():
    """StreamingQueryListener collecting per-micro-batch trigger
    durations (ms). ``drain()`` empties the buffer so the bench loop
    can attribute epochs to the query it just timed — every drive in
    the catalog runs synchronously inside the query callable
    (processAllAvailable/awaitTermination before return), so all
    events for a query are delivered before its build returns.
    Lazily defined: importing bench (tools/analyze_bench pulls
    HEADLINE) must not require a Spark runtime."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _EpochListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.epochs_ms: list[int] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802 (listener API)
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            try:
                ms = dict(event.progress.durationMs).get("triggerExecution")
                if ms is not None:
                    self.epochs_ms.append(int(ms))
            except Exception:  # noqa: BLE001 — never let telemetry kill the bench
                pass

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def drain(self) -> list[int]:
            out, self.epochs_ms = self.epochs_ms, []
            return out

    return _EpochListener()


def _timed(build, warm: bool = True) -> float:
    if warm:
        build().write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(2):  # min-of-2: measure the engine, not host noise
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from currency_etl_pipeline_spark.session import get_spark
    from currency_etl_pipeline_spark.queries import all_queries

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    listener = None
    try:
        listener = _make_epoch_listener()
        spark.streams.addListener(listener)
    except Exception:  # noqa: BLE001 — telemetry only; bench must still run
        listener = None

    calibration = _timed(lambda: _calibration_df(spark, sf_dir))
    # Every series entry uses the SAME methodology (warm=False min-of-2;
    # the engine is warm after the scalar probe above) — mixing the
    # warm=True scalar into the series would normalize early-position
    # queries against a differently-measured anchor than later ones.
    series = [
        {"after": 0, "sec": _timed(lambda: _calibration_df(spark, sf_dir), warm=False)}
    ]

    timings: dict[str, float] = {}
    stream_epochs: dict[str, list[int]] = {}
    for i, name in enumerate(HEADLINE, start=1):
        if listener is not None:
            listener.drain()  # attribute epochs to THIS query only
        timings[name] = _timed(lambda: specs[name].spark(spark, sf_dir))
        # Probe at the fixed cadence AND after every streaming drive:
        # streaming wall time is micro-batch protocol, exactly where a
        # sub-cadence host stall hides (r14: a 3-row spike cluster sat
        # between flat probes 10 positions apart). Bracketing every
        # streaming row makes stall adjudication arithmetic.
        if i % PROBE_EVERY == 0 or name.startswith("streaming_"):
            series.append(
                {
                    "after": i,
                    "sec": _timed(
                        lambda: _calibration_df(spark, sf_dir), warm=False
                    ),
                }
            )
        if listener is not None:
            # Drained AFTER the probe: listener delivery is async, and
            # the last drive's event can trail the build by a few ms —
            # the probe's ~1s of batch work absorbs the lag (batch jobs
            # emit no streaming events, so attribution stays exact).
            eps = listener.drain()
            if eps:
                stream_epochs[name] = eps
    if series[-1]["after"] != len(HEADLINE):
        series.append(
            {
                "after": len(HEADLINE),
                "sec": _timed(lambda: _calibration_df(spark, sf_dir), warm=False),
            }
        )

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "calibration": calibration,
        "calibration_series": series,
        "stream_epochs": stream_epochs,
        "sf": sf,
    }
    _persist(result)
    print(json.dumps(stdout_contract(result)))


def stdout_contract(result: dict) -> dict:
    """The one-line stdout payload: contract fields ONLY.

    r16 (VERDICT r15 task 5): the r14 round-over-round PERF comparison
    was lost because the stdout line had grown to ~20 KB
    (calibration_series + stream_epochs inline) and outran the
    driver's tail capture (BENCH_r14.json parsed=null). The bulky
    series/epochs telemetry lives ONLY in the persisted
    bench_results/rNN.json (which carries the complete record); stdout
    stays at metric/value/unit/queries/calibration/sf — a few KB that
    no tail capture can truncate. tools/analyze_bench.py reads the
    persisted files, never the stdout line.
    """
    return {
        k: result[k]
        for k in ("metric", "value", "unit", "queries", "calibration", "sf")
        if k in result
    }


def _persist(result: dict) -> None:
    """Write the COMPLETE result to bench_results/r<NN>.json.

    The driver captures only the stdout tail: BENCH_r06's committed
    artifact preserved only a SUFFIX of that round's 85 per-query
    timings, gutting cross-round ratio comparison (VERDICT r6 'What's
    missing' #1). The committed file is the durable per-query history;
    the one-line stdout contract is unchanged. The
    round number comes from the newest BENCH_r<N>.json the driver wrote
    (+1 = the round being benched now); repeated runs within a round
    overwrite the same file, which is the desired 'latest run' record.
    Best-effort: a read-only checkout must not break the bench.
    """
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := re.match(r"BENCH_r(\d+)\.json$", f))
        ]
        rnd = (max(rounds) if rounds else 0) + 1
        out_dir = os.path.join(here, "bench_results")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"r{rnd:02d}.json"), "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
