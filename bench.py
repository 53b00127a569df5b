"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a noop-sink write (full execution, no driver
collect). Per-query samples: one warmup pass (JIT + codegen + parquet
footer caches warm), then 4 interleaved timed rounds (+3 solo retries for
the worst stall victims). This host exhibits intermittent multi-second
scheduler stalls (the same physical plan measured 0.35s and 17.8s
back-to-back), so the headline per-query number stays MIN-of-N (isolates
engine cost from host noise, and is what BENCH_r01's baseline used), but
since r8 the full artifact also records the MEDIAN and the min/max spread
per query (r7 verdict task 4) so a plan regression is distinguishable
from a noise burst: a real regression moves min AND median together; a
stall moves only max/median. The stdout line carries the shared-28
totals under both statistics.

Since r14 the artifact ALSO records one COLD wall per query
(`queries_cold`: spark.catalog.clearCache() before the sample, min of
SPARK_GRAFT_BENCH_COLD_SAMPLES=2 draws, taken AFTER the warm rounds so
they are unaffected): Spark's CacheManager serves persisted subtrees
across samples by analyzed-plan equality, so for queries with persist()
calls the warm min partially measures cache re-reads — the cold column is
the pipeline-execution number a round-over-round comparison can't be
flattered on. Additions only: warm min/median methodology, every existing
field, and the stdout contract are unchanged.

Every sample runs through ``obs.profile``, which times exactly the
registry call plus the noop write; BENCH_SELF's `query_layers` keeps the
record of each query's fastest warm sample (build / Catalyst / exec split
and the stage totals of that run's own jobs).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark import get_session, obs
from real_time_fraud_detection_system_using_big_data_analytics_spark.session import scratch_root
from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import load_tables
from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

# The driver captures only the LAST ~2000 chars of output and parses the
# final JSON line out of that tail.  With 50+ benched queries the full
# per-query dict outgrew the capture (BENCH_r04 "parsed": null), so the
# stdout line keeps a fixed compact subset — the r1-era headline set, which
# is also what BASELINE.md's 2x bound is defined over — and the COMPLETE
# breakdown (all queries + streaming lines) is written to BENCH_SELF.json
# at the repo root, committed every round.
COMPACT_SET = [
    "q1_pricing_summary",
    "agg_grouped_summary",
    "agg_conditional_single_pass",
    "agg_cube",
    "scalar_string_date_json",
    "join_multiway_revenue",
    "join_asof",
    "window_running_agg",
    "window_sessionize",
    "fraud_confusion_matrix",
    "sort_topk_global",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_int8_rerank",
    "text_quality_score",
    "text_chunk_windows",
    "text_top_ngrams",
    "text_tfidf_top_terms",
    "map_functions_props",
    "timeseries_gapfill",
    "unpivot_stack",
    "feature_winsorize",
    "scd2_intervals",
    "funnel_conversion",
    "cohort_retention",
    "cdc_snapshot_diff",
    "graph_pagerank_bipartite",
]

# Headline set: one representative per operator family (kept in sync with
# SURVEY §2 as coverage widens).
HEADLINE = [
    # round-11 additions (scale-safe twins of the two tagged diagnostics,
    # plus binary-quantization ANN and the full Gopher repetition suite)
    "dedup_levenshtein_blocked",
    "ann_range_search_cells",
    "ann_range_search_recall",
    "ann_binary_hamming_rerank",
    "text_gopher_repetition_signals",
    # round-10 additions
    "etl_avro_roundtrip",
    "dedup_substring_runs",
    "dedup_semdedup",
    "curation_decontaminate_overlap",
    "curation_domain_temperature_mix",
    "ann_knn_graph",
    "curation_prototypicality_prune",
    # round-9 additions
    "sql_session_variables",
    "sql_udf_scalar",
    "sql_udf_table_lateral",
    "sql_scripting_while",
    "scalar_collation_groupby",
    "scalar_from_xml_roundtrip",
    "curation_epoch_shuffle_order",
    "source_pushdown_partition_prune",
    "ml_train_rule_agreement",
    "stream_ml_score",
    "graph_adamic_adar_capped",
    "graph_jaccard_neighbors_capped",
    "curation_dsir_importance",
    "text_gopher_quality_rules",
    "ann_hard_negative_mining",
    "dedup_sketch_agreement",
    "source_python_datasource_write_roundtrip",
    "stream_python_datasource_sink_roundtrip",
    # round-8 additions
    "multimodal_image_decode_jpeg",
    "multimodal_image_decode_jpeg_color",
    "udf_map_in_arrow",
    "source_python_datasource",
    "sql_pipe_syntax",
    # round-6 additions
    "ann_ivf_pq_shortlist_rerank",
    "ann_dim_truncation_recall",
    "eventflow_cep_negation",
    "dedup_threshold_sensitivity",
    "graph_cycle_detection_bounded",
    "curation_decontaminate_bloom",
    "agg_hll_union_mergeable",
    "agg_approx_percentile_audit",
    "corpus_token_budget_allocation",
    "dq_volume_anomaly_dod",
    "q1_pricing_summary",
    "agg_grouped_summary",
    "agg_conditional_single_pass",
    "agg_cube",
    "scalar_string_date_json",
    "join_multiway_revenue",
    "join_asof",
    "window_running_agg",
    "window_sessionize",
    "fraud_confusion_matrix",
    "sort_topk_global",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_int8_rerank",
    "ann_ivf_kmeans_nprobe2",
    "cluster_kmeans_embeddings",
    "multimodal_decode_features",
    "text_quality_score",
    "text_chunk_windows",
    "text_top_ngrams",
    "text_tfidf_top_terms",
    "curation_decontaminate",
    "curation_mix_weighted_sample",
    "map_functions_props",
    "timeseries_gapfill",
    "unpivot_stack",
    "feature_winsorize",
    "scd2_intervals",
    "funnel_conversion",
    "cohort_retention",
    "cdc_snapshot_diff",
    "graph_pagerank_bipartite",
    "q3_shipping_priority",
    "q18_large_volume_customers",
    "market_basket_pairs",
    "embedding_pca_power",
    "text_unigram_logprob",
    "fraud_mad_outliers",
    "join_skew_salted",
    "agg_approx_top_k",
    "dedup_shingle_containment",
    "ann_ivf_persisted_probe",
    "join_interval_overlap",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "etl_incremental_agg_merge",
    "window_rolling_distinct_users",
    "udf_ewma_stateful",
    "layout_zorder_bucketing",
    "sql_recursive_reachability",
    "fraud_benford_digit_test",
    "timeseries_downsample_last",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "multimodal_image_decode_png",
    "ann_pq_adc",
    "ann_pq_shortlist_rerank",
    "dedup_repeated_passages",
    "timeseries_interpolate_linear",
    "text_bpe_merge_step",
    "curation_leakage_safe_split",
    "eventflow_sequence_pattern",
    "curation_perplexity_filter",
    "rfm_segmentation",
    "attribution_last_touch",
    "market_basket_rules",
    "gdpr_delete_propagation",
    "skyline_pareto",
    "interval_coverage_merge",
    "window_anomaly_zscore",
    "join_bloom_filter_pruned",
    "graph_label_propagation",
    "graph_common_neighbors_capped",
    "dedup_embedding_cosine_cells",
    "ann_mmr_diversified_topk",
    "udf_holt_linear_stateful",
    "text_rake_keywords",
    "ml_calibration_reliability",
    "eventflow_markov_transitions",
    "text_collocation_pmi",
    "ml_ks_statistic",
    "ml_lift_gains_table",
    "graph_assortativity",
    "dedup_minhash_estimation_error",
    "window_cumulative_reset",
    "etl_wap_publish",
    "join_asof_nearest",
    "agg_bitmap_exact_distinct",
    "multimodal_image_phash",
    "dedup_lsh_candidate_recall",
    "fraud_dormant_reactivation",
    "etl_high_watermark_incremental",
    "multimodal_audio_vad_segments",
    "corpus_zipf_slope",
    "window_rolling_median",
    "fraud_layering_chains",
    "agg_weighted_median",
    "fraud_structuring_subthreshold",
    "fraud_cusum_drift",
    "feature_target_encoding_loo",
    "text_textrank_keywords",
    "timeseries_seasonal_decompose",
    "etl_join_ivm_delta",
    "udf_holt_winters_stateful",
    "text_hashing_trick_tf",
    "fraud_interarrival_profile",
    # r13 incremental-maintenance ops (the recurring 100 TB operations):
    # probe cost against the process-cached persisted indexes, same
    # amortized convention as ann_ivf_persisted_probe
    "dedup_incremental_new_shard",
    "ann_ivf_incremental_add",
    "dedup_incremental_index_merge",
    "ann_ivf_delete_compact",
    # r13 opt round: the refit-drift audit joins the measured harness
    "ann_ivf_refit_drift",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_session("bench")
    registry.load_all()

    # warmup: JVM + parquet footer caches
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # registry-tagged DIAGNOSTIC queries (measured-baseline scale-killers
    # whose capped twins are the production path) never enter the headline
    # set, even if someone re-adds them to the list above.
    names = [
        n for n in HEADLINE
        if n in registry.QUERIES and n not in registry.DIAGNOSTIC
    ]
    # Smoke-test hook: SPARK_GRAFT_BENCH_QUERIES="a,b,c" restricts the run
    # (used by tests to exercise the emit path without the full suite).
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        keep = {s.strip() for s in subset.split(",")}
        names = [n for n in names if n in keep]

    # fastest warm sample's obs.profile record per query (build / Catalyst
    # / exec split plus stage totals) -> BENCH_SELF `query_layers`
    layers: dict[str, dict] = {}

    def run_once(name: str, warm: bool = False) -> float:
        rec = obs.profile(spark, name, registry.QUERIES[name], sf_dir)
        wall = rec["build_s"] + rec["exec_s"]
        best = layers.get(name)
        if warm and (best is None or wall < best["build_s"] + best["exec_s"]):
            layers[name] = rec
        return wall

    for name in names:  # warmup pass
        run_once(name)

    # Interleaved rounds: the host's multi-second stalls are BURSTY, so a
    # query's samples must not run back-to-back (one burst then poisons
    # all of them). Round-robin spreads each query's 4 samples across the
    # whole bench window; min-per-query then sees at least one calm run.
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(4):
        for name in names:
            samples[name].append(run_once(name, warm=True))

    # Stall-victim retry: a query whose 4 samples ALL landed in host-stall
    # bursts reports a min far above its engine cost (observed: the same
    # LSH plan sampling [2.3 .. 72] s). The queries with the largest
    # min-vs-best-quartile spread get extra solo samples so min-of-N
    # converges on the calm-run cost.
    worst = sorted(names, key=lambda n: -min(samples[n]))[:3]
    for name in worst:
        for _ in range(3):
            samples[name].append(run_once(name, warm=True))

    # COLD column (r14, r13 verdict item: PERF-visible warm minima on
    # persisted subtrees partly measure CacheManager re-reads because
    # Spark matches persisted data by analyzed plan ACROSS samples). One
    # designated cold sample per query — clearCache first, so every
    # persist re-materializes inside the measured wall — recorded
    # SEPARATELY as `queries_cold`; the warm min/median methodology and
    # every existing field are unchanged (additions only). Two samples,
    # min, to shave the worst host-stall draws; disable with
    # SPARK_GRAFT_BENCH_COLD_SAMPLES=0. clearCache does not drop a fitted
    # model: after their first call in a session, ml_train_rule_agreement
    # and stream_ml_score reuse the session's ml.scoring.reference_model.
    n_cold = int(os.environ.get("SPARK_GRAFT_BENCH_COLD_SAMPLES", "2"))
    cold_times: dict[str, float] = {}
    if n_cold > 0:
        cold_samples: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(n_cold):
            for name in names:
                spark.catalog.clearCache()
                cold_samples[name].append(run_once(name))
        spark.catalog.clearCache()
        cold_times = {n: round(min(ts), 3) for n, ts in cold_samples.items()}

    import statistics

    times = {name: round(min(ts), 3) for name, ts in samples.items()}
    medians = {name: round(statistics.median(ts), 3) for name, ts in samples.items()}
    spread = {
        name: {
            "min": times[name],
            "median": medians[name],
            "max": round(max(ts), 3),
            "n": len(ts),
        }
        for name, ts in samples.items()
    }

    total = round(sum(times.values()), 3)
    total_median = round(sum(medians.values()), 3)
    shared28_min = round(sum(times[n] for n in COMPACT_SET if n in times), 3)
    shared28_median = round(sum(medians[n] for n in COMPACT_SET if n in medians), 3)
    total_cold = round(sum(cold_times.values()), 3) if cold_times else None
    shared28_cold = (
        round(sum(cold_times[n] for n in COMPACT_SET if n in cold_times), 3)
        if cold_times
        else None
    )

    # Run-to-run spread (r8 verdict task 5): one bench invocation's totals
    # sit somewhere in a ~10% host-noise band, so a single committed run is
    # not acceptance-readable on its own. Every full run appends its
    # shared-28 totals to BENCH_RUNS.jsonl (committed), and the artifact
    # carries the recent runs' totals so the judge reads the BAND, not one
    # draw. Subset/smoke runs don't pollute the history.
    runs_history: list[dict] = []
    cpus = spark.sparkContext.defaultParallelism
    if not subset:
        hist_path = Path(__file__).resolve().parent / "BENCH_RUNS.jsonl"
        entry = {
            "unix_ts": round(time.time(), 1),
            "sf": sf,
            "shared28_min": shared28_min,
            "shared28_median": shared28_median,
            "shared28_cold": shared28_cold,
            "n_queries": len(times),
            "cpus": cpus,
        }
        with hist_path.open("a") as fh:
            fh.write(json.dumps(entry) + "\n")
        with hist_path.open() as fh:
            all_runs = [json.loads(line) for line in fh if line.strip()]
        # like with like: runs without a cpus field were taken at local[32]
        runs_history = [
            r for r in all_runs if r.get("sf") == sf and r.get("cpus") == cpus
        ][-5:]

    # Reference-defined metrics (BASELINE.md): the quantities the
    # reference's own instrumentation measures, re-measured on our engine
    # at the same sf so the bench report stays comparable.
    ref_metrics = reference_metrics(spark, sf_dir)

    # Streaming headline lines: multi-batch chunked replays of the two
    # stream operators closest to the reference's identity (rule alerts =
    # its scoring loop shape; stateful velocity = keyed state carried
    # across micro-batches). Timed separately from the batch set because a
    # micro-batch stream's wall time is trigger-bound, not plan-bound.
    streaming = streaming_bench(spark, sf_dir)

    # Sustained line: >=1M events replayed through the two headline
    # streams (r7 verdict task 7) — skipped in subset/smoke mode.
    if not subset:
        streaming["sustained"] = sustained_streaming_bench(spark, sf_dir)

    # Full breakdown -> committed artifact (judge-diffable, any size).
    # Subset/smoke runs keep their hands off the committed artifact: a
    # 2-query smoke must not clobber the full 125-query breakdown.
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "value_median": total_median,
        "unit": "sec",
        "queries": times,
        "queries_cold": cold_times,
        "query_spread": spread,
        "query_layers": {
            n: {k: round(v, 4) if isinstance(v, float) else v for k, v in rec.items()}
            for n, rec in layers.items()
        },
        "shared28_min": shared28_min,
        "shared28_median": shared28_median,
        "shared28_cold": shared28_cold,
        "total_cold": total_cold,
        "shared28_median_runs": [r["shared28_median"] for r in runs_history],
        "shared28_min_runs": [r["shared28_min"] for r in runs_history],
        "sf": sf,
        "n_queries": len(times),
        "cpus": cpus,
        "reference_metrics": ref_metrics,
        "streaming": streaming,
    }
    if not subset:
        self_path = Path(__file__).resolve().parent / "BENCH_SELF.json"
        self_path.write_text(json.dumps(full, indent=1) + "\n")

    spark.stop()

    # Compact final stdout line — MUST fit the driver's ~2000-char tail
    # capture, and MUST be the last thing printed (spark.stop() above so no
    # shutdown logging trails it).  `value` stays the total over ALL benched
    # queries (the headline metric); the inline dict is the fixed compact
    # subset for per-query comparability with BENCH_r01/BASELINE.
    compact_times = {n: times[n] for n in COMPACT_SET if n in times}
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "value_median": total_median,
                "unit": "sec",
                "queries": compact_times,
                "shared28_min": shared28_min,
                "shared28_median": shared28_median,
                "shared28_cold": shared28_cold,
                "shared28_median_runs": [r["shared28_median"] for r in runs_history],
                "shared28_min_runs": [r["shared28_min"] for r in runs_history],
                "sf": sf,
                "n_queries": len(times),
                "full_breakdown": "BENCH_SELF.json",
                "reference_metrics": ref_metrics,
            }
        )
    )


N_STREAM_CHUNKS = 8


def streaming_bench(spark, sf_dir: str) -> dict:
    """Wall time + throughput for the streaming headliners, each replayed
    as 8 genuine micro-batches (maxFilesPerTrigger=1 over a pre-spooled
    chunk directory — chunk-writing setup is excluded from the timing).
    Best-of-2 per stream, same host-noise rationale as the batch set."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.pipeline import (
        rule_alerts,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
        chunked_replay,
        spool_event_chunks,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.velocity import (
        velocity_features_stream,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.cusum import (
        cusum_stream,
    )

    n_events = load_tables(spark, sf_dir, ("events",))["events"].count()
    out: dict = {}
    with tempfile.TemporaryDirectory(prefix="replay_spool_", dir=scratch_root()) as d:
        spool = spool_event_chunks(spark, sf_dir, N_STREAM_CHUNKS, os.path.join(d, "n"))
        spool1 = spool_event_chunks(spark, sf_dir, 1, os.path.join(d, "1"))
        for name, transform, n_chunks, sp in (
            ("stream_rule_alerts", rule_alerts, N_STREAM_CHUNKS, spool),
            ("stream_velocity_stateful", velocity_features_stream, N_STREAM_CHUNKS, spool),
            # same operator, one big batch: the per-micro-batch stateful
            # machinery (~0.9 s/batch; BENCH_NOTES_r6.md, see git history
            # at 4febbca) amortized away — read the 8-chunk line against
            # this one, not in isolation
            ("stream_velocity_stateful_1batch", velocity_features_stream, 1, spool1),
            ("stream_cusum_drift_stateful", cusum_stream, N_STREAM_CHUNKS, spool),
        ):
            walls, batches, rows = [], 0, 0
            for _ in range(2):
                t0 = time.perf_counter()
                tbl, batches = chunked_replay(
                    spark, sf_dir, transform, n_chunks=n_chunks, spool=sp
                )
                rows = tbl.count()
                walls.append(time.perf_counter() - t0)
            wall = min(walls)
            out[name] = {
                "wall_sec": round(wall, 3),
                "batches": batches,
                "out_rows": rows,
                "events_per_sec": round(n_events / wall, 1),
            }
    return out


def sustained_streaming_bench(spark, sf_dir: str, replicas: int = 10) -> dict:
    """Sustained-throughput line (r7 verdict task 7): replay REPLICAS
    copies of the events table (>=1M events at sf0.1) as one micro-batch
    per copy through the two streams closest to the reference's identity
    — the stateless rule-alert filter and the stateful velocity operator
    at production batch size (one ~100k-event batch per trigger, the
    shape whose 100k single-batch line measured ~76k events/s). Each
    replica is time-shifted past the previous one (gap > the 1 h
    watermark horizon) and event_id-offset so the replay is an in-order,
    duplicate-free 10x stream against ONE persistent state store — this
    validates that the per-batch amortization claim holds when state
    lives across 10 production-size batches, not just within one.
    Single sample per stream (a 1M replay is long enough to average over
    host noise bursts on its own; min-of-N would add minutes)."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.pipeline import (
        rule_alerts,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
        chunked_replay,
        rocksdb_state,
        write_chunks,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.velocity import (
        velocity_features_stream,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    n = ev.count()
    first = ev.agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span"),
        (F.max("event_id") + 1).alias("idbase"),
    ).first()
    shift_us = int(first["span"]) + 3_600_000_000  # replica gap > 1h watermark
    idbase = int(first["idbase"])

    def windowed_agg(stream):
        # built-in streaming windowed aggregation: JVM state rows (one per
        # (window, type)), the other state-store client class next to the
        # pandas-state velocity operator
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
                    "sum_cents"
                ),
            )
        )

    total_events = n * replicas
    out: dict = {"n_events": total_events, "batches_requested": replicas}
    with tempfile.TemporaryDirectory(prefix="replay_1m_", dir=scratch_root()) as spool:
        for i in range(replicas):
            write_chunks(
                ev.withColumn("ts", F.timestamp_micros(F.unix_micros("ts") + i * shift_us))
                .withColumn("event_id", F.col("event_id") + F.lit(i * idbase))
                .withColumn("_chunk", F.lit(i)),
                spool,
            )
        # provider A/B (r8 verdict task 4): the same sustained replays under
        # the default HDFS-backed provider and under RocksDB — the 100 TB
        # state posture (keyed state on local disk, not executor heap)
        # measured, not asserted. Stateless rule alerts carry no state, so
        # only the stateful lines get a RocksDB twin.
        sustained_lines = [
            ("stream_rule_alerts_sustained", rule_alerts, False),
            ("stream_velocity_stateful_sustained", velocity_features_stream, False),
            (
                "stream_velocity_stateful_sustained_rocksdb",
                velocity_features_stream,
                True,
            ),
            ("stream_windowed_agg_sustained", windowed_agg, False),
            ("stream_windowed_agg_sustained_rocksdb", windowed_agg, True),
        ]
        # transformWithStateInPandas sustained line (r13 unlock): the SAME
        # per-user profile semantics as the applyInPandasWithState velocity
        # family, through the Spark-4 typed-state API — the two stateful
        # Python APIs A/B'd on one replay. TWS requires RocksDB (multiple
        # state variables = column families), so there is no hdfs twin.
        tws_transform = None
        try:
            from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.tws import (
                _protobuf_available,
                account_type_profile_stream,
            )

            if _protobuf_available():
                tws_transform = account_type_profile_stream
                sustained_lines.append(
                    ("stream_tws_profile_sustained", tws_transform, True)
                )
        except Exception:
            pass
        for name, transform, rocksdb in sustained_lines:
            if transform is windowed_agg:
                mode = "complete"
            elif transform is tws_transform:
                mode = "update"
            else:
                mode = "append"
            with rocksdb_state(spark) if rocksdb else contextlib.nullcontext():
                t0 = time.perf_counter()
                tbl, batches = chunked_replay(
                    spark,
                    sf_dir,
                    transform,
                    n_chunks=replicas,
                    spool=spool,
                    output_mode=mode,
                )
                rows = tbl.count()
                wall = time.perf_counter() - t0
            out[name] = {
                "wall_sec": round(wall, 3),
                "batches": batches,
                "out_rows": rows,
                "events_per_sec": round(total_events / wall, 1),
                "state_provider": "rocksdb" if rocksdb else "hdfs-default",
            }
        out["stream_velocity_stateful_sustained_rocksdb_changelog"] = (
            _changelog_sustained_line(
                spark, spool, velocity_features_stream, total_events, replicas
            )
        )
    return out


def _changelog_sustained_line(
    spark, spool: str, transform, total_events: int, replicas: int
) -> dict:
    """RocksDB + changelog checkpointing (r9 verdict task 5): the same
    sustained velocity replay with per-batch changelog DELTAS uploaded to
    the checkpoint instead of full RocksDB snapshot files — the recovery
    posture at 100 TB state (snapshot upload leaves the commit path;
    recovery = last snapshot + changelog replay). Reported next to the
    events/s lines: total checkpoint bytes, the state-store share, the
    changelog-file share, and the measured RECOVERY time (a restart from
    the same checkpoint with no new input: state must load before the
    query can decide it has nothing to do). Parquet sink, not memory —
    the one sink class that supports restart — so the events/s figure is
    sink-comparable only to itself; the A/B twin for throughput remains
    the rocksdb line above."""
    import glob

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
        drain,
        rocksdb_state,
        session_conf,
        spool_stream,
    )

    CHANGELOG_CONF = (
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    )

    def run_once() -> float:
        stream = spool_stream(spark, spool)
        t0 = time.perf_counter()
        writer = transform(stream).writeStream.outputMode("append").format("parquet")
        drain(spark, writer.option("path", sink), ckpt)
        return time.perf_counter() - t0

    with tempfile.TemporaryDirectory(prefix="changelog_", dir=scratch_root()) as d:
        ckpt, sink = os.path.join(d, "ckpt"), os.path.join(d, "sink")
        with session_conf(spark, CHANGELOG_CONF, "true"), rocksdb_state(spark):
            wall = run_once()
            ckpt_bytes = state_bytes = 0
            for root, _, files in os.walk(ckpt):
                for f in files:
                    sz = os.path.getsize(os.path.join(root, f))
                    ckpt_bytes += sz
                    if f"{os.sep}state{os.sep}" in os.path.join(root, f):
                        state_bytes += sz
            changelog_files = glob.glob(f"{ckpt}/state/**/*.changelog", recursive=True)
            changelog_bytes = sum(os.path.getsize(f) for f in changelog_files)
            # recovery: restart from the same checkpoint with no new input —
            # the wall is dominated by state load (snapshot + changelog replay)
            recovery_wall = run_once()
    return {
        "wall_sec": round(wall, 3),
        "batches": replicas,
        "events_per_sec": round(total_events / wall, 1),
        "state_provider": "rocksdb+changelog",
        "checkpoint_mb": round(ckpt_bytes / 1e6, 2),
        "state_store_mb": round(state_bytes / 1e6, 2),
        "changelog_files": len(changelog_files),
        "changelog_mb": round(changelog_bytes / 1e6, 2),
        "recovery_restart_sec": round(recovery_wall, 3),
        "sink": "parquet (restartable; memory-sink lines not wall-comparable)",
    }


def reference_metrics(spark, sf_dir: str) -> dict:
    """Streaming throughput, batch-scoring throughput, model quality and
    fraud rate — the reference's own metric set (BASELINE.md rows 1-7)
    measured end-to-end on this engine."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.scoring import (
        events_as_transactions,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.fraud_pipeline import (
        FraudPipeline,
    )

    out: dict = {}

    # streaming: hermetic replay of the events table through the in-plan
    # rule-alert stream (micro-batch engine, availableNow) -> events/sec
    t0 = time.perf_counter()
    alerts = registry.QUERIES["stream_rule_alerts"](spark, sf_dir)
    n_alerts = alerts.count()
    stream_wall = time.perf_counter() - t0
    n_events = load_tables(spark, sf_dir, ("events",))["events"].count()
    out["streaming_events_per_sec"] = round(n_events / stream_wall, 1)
    out["streaming_alerts"] = n_alerts
    out["streaming_wall_sec"] = round(stream_wall, 3)

    # ML: train + single-pass eval (reference fraud_detection_model.py M1-M8)
    df = events_as_transactions(spark, sf_dir)
    train, test = df.randomSplit([0.8, 0.2], seed=42)
    t0 = time.perf_counter()
    model = FraudPipeline().fit(train)
    out["train_wall_sec"] = round(time.perf_counter() - t0, 3)
    m = FraudPipeline.evaluate(model, test)
    out["model_auc"] = round(float(m["auc"]), 4)
    out["model_f1"] = round(float(m["f1"]), 4)

    # batch inference throughput (postgres_model_inference parity, no pagination)
    t0 = time.perf_counter()
    n_scored = FraudPipeline.score(model, df).count()
    score_wall = time.perf_counter() - t0
    out["batch_score_rows_per_sec"] = round(n_scored / score_wall, 1)

    # fraud rate (reference logs this per run)
    fraud = df.agg(
        (F.sum("isFraud") / F.count("*") * 100.0).alias("pct")
    ).first()["pct"]
    out["fraud_pct"] = round(float(fraud), 3)

    # resource snapshot (reference: psutil sampling, spark_streaming_app.py
    # :64-131 / postgres_model_inference.py:42-80); gated — psutil may be
    # absent in this image
    try:
        import psutil

        out["cpu_pct"] = psutil.cpu_percent(interval=0.1)
        out["mem_pct"] = psutil.virtual_memory().percent
    except ImportError:
        pass
    return out


if __name__ == "__main__":
    main()
