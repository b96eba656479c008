"""Workloads and metrics of the benchmark: the one place they are defined.

`python3 perfbench/workloads.py` prints the BENCHMARK.json these
definitions give (the file at the repository root is that output).
"""
import json
from dataclasses import dataclass


# Generated-data scale of every workload: the sf0.01 sizes (60k lineitem rows).
SCALE = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    pool: dict            # family -> every key the workload's key rule puts in it
    keys: list            # the measured subset of the pool (select_keys.py picks it)
    nominal_pass_s: float # a warm pass of `keys` at HEAD on 4 cores; sets the pass count
    warmup_passes: int    # passes after the cold one that are set-up, not measured
    why: str              # key rule, data and rationale (BENCHMARK.json)

    def pool_keys(self):
        return [k for ks in self.pool.values() for k in ks]


def _keys(text):
    return text.split()


POLL_SMALL = Workload(
    name="poll_small", nominal_pass_s=5,
    # The JIT still speeds poll_small's passes up after the cold pass (the
    # first warm pass is 1.3x the third) and that drift is most of its
    # run-to-run spread, so one pass more is set-up. pipeline_write's
    # spread is a per-run factor that a warm-up pass does not narrow.
    warmup_passes=1,
    pool={
        "m": _keys("""m1_health_snapshot m2_replication_lag m3_parts_metrics m4_bloat_pct
            m5_kv_parse m6_event_emit m7_sentinel_null m8_shard_rollup m9_enrich_lookup
            m10_time_buckets m11_client_stats m12_top_talkers m13_json_extract m14_active_csv
            m15_asof_prior m16_error_streaks m17_conf_drift m18_json_ingest m19_rate_of_change
            m20_cons_parse m21_heartbeat_gaps m22_nested_roundtrip m23_absent_nodes
            m24_cadence_rollup m25_status_alerts m26_column_profile m27_incremental_rollup
            m28_gap_fill m29_cdc_upsert m30_funnel_conversion m31_anomaly_zscore
            m32_cms_heavy_hitters m33_retention_cohorts m34_error_uptime m35_hll_distinct
            m36_linear_interp m37_metric_correlation m38_flap_detection m39_seasonal_baseline
            m40_trend_forecast m41_interval_coalesce m42_rate_limiter m43_quantile_sketch
            m44_burn_rate m45_hll_algebra m46_variant_ingest m47_log_quantile m48_ewma_smooth
            m49_subnet_rollup m50_seq_trigrams m51_cusum_changepoint m52_scd2_history
            m53_corrupt_quarantine m54_late_arrivals m55_decayed_topk"""),
        "st": _keys("""st1_stream_health st2_stream_sessions st3_session_window
            st4_stream_dedup st5_stream_enrich st6_stream_funnel st7_sliding_rate
            st8_funnel_outer st9_stream_distinct st10_stream_p95 st11_stream_hll
            st12_stream_log_p95 st13_stream_cms st14_alert_cooldown st15_stream_quality
            st16_stream_seq st17_stream_profile st18_stream_neardup"""),
        "x": _keys("""x1_binary_meta x2_frame_sample x3_modality_stats x4_resize x5_features
            x6_audio_meta x7_content_dedup x8_video_meta x9_sample_manifest x10_tar_index
            x11_zip_index x12_warc_index x13_tiff_meta x14_sniff_dispatch x15_npy_meta
            x16_safetensors_meta x17_image_phash x18_pdf_extract x19_pcm_energy
            x20_audio_fingerprint x21_exif_orientation x22_oriented_phash x23_scene_cuts"""),
    },
    keys=["m3_parts_metrics", "m15_asof_prior", "m16_error_streaks", "m17_conf_drift",
          "m21_heartbeat_gaps", "m25_status_alerts", "m29_cdc_upsert", "m34_error_uptime",
          "m38_flap_detection", "m53_corrupt_quarantine", "m55_decayed_topk",
          "st1_stream_health", "st2_stream_sessions", "st3_session_window",
          "st9_stream_distinct", "st17_stream_profile",
          "x8_video_meta", "x17_image_phash", "x20_audio_fingerprint", "x23_scene_cuts"],
    why="m*, st1-st18, x* keys, 20 picked by profile (select_keys.py), sf0.01: the "
        "monitor's poll shape; small inputs, so fixed per-key cost (schema inference, "
        "planning, job launch) is the latency")

PIPELINE_WRITE = Workload(
    name="pipeline_write", nominal_pass_s=8, warmup_passes=0,
    pool={
        # batch pipelines: exact truth joins, ANN index builds, eager checkpoints
        "pipeline": _keys("""d9_dedup_groups d11_minhash_accuracy d18_incremental_dedup
            d20_prefix_simjoin d21_lsh_recall d22_banding_sweep s11_ann_pq s12_ann_ivfpq
            s17_hybrid_recall s20_hybrid_complement s22_graph_ann s23_index_pareto
            t17_embed_fidelity t26_learned_langid t27_bpe_batch q56_sketch_join_strategy"""),
        # writers: every CatalogQueries key, the write-then-read keys and
        # the real streaming queries
        "catalog": _keys("""q63_table_catalog q64_fn_catalog q67_connector_delete
            q71_update_rewrite q72_metadata_cols q73_catalog_udaf q76_column_defaults
            q77_check_constraint q78_alter_table q79_delta_merge q80_atomic_ctas
            q81_partition_overwrite q82_identity_columns q83_join_pushdown q84_procedure_call
            q86_partition_ddl q89_index_scan"""),
        "write_read": _keys("""q36_bucketed_join q37_format_roundtrip q38_schema_evolution
            q52_accounting_sink q57_merge_into p11_partition_prune p21_compaction_exec
            p22_shard_export p24_snapshot_vacuum p27_curation_ledger s15_ann_index_append
            s24_serving_index s27_ann_serve"""),
        "stream": _keys("""st19_stream_source st20_stream_sink st21_stream_observe
            st22_state_reader st23_source_metrics st24_sink_metrics st25_continuous"""),
    },
    keys=["d22_banding_sweep", "s20_hybrid_complement", "q72_metadata_cols",
          "q76_column_defaults", "q82_identity_columns", "p24_snapshot_vacuum",
          "p27_curation_ledger", "st22_state_reader"],
    why="pipeline, catalog, write-then-read, stream keys, 8 picked by profile "
        "(select_keys.py), sf0.01: construction-heavy pipelines, DSv2 commits, parquet "
        "write-back, a stream's checkpoint and state store")

WORKLOADS = {w.name: w for w in (POLL_SMALL, PIPELINE_WRITE)}


def measured_passes(wl, seconds, traced):
    """A fixed amount of work per run: the passes a `seconds` window holds
    at the workload's nominal pass time, less the warm-up passes, at least
    two. Every run of a
    workload then measures the same passes at the same point of JVM
    warm-up, which a stop-at-the-deadline window would not (the JIT is
    still speeding passes up, so one pass more or less moves the
    figures). A traced run needs an odd count of at least three."""
    n = max(2, round(seconds / wl.nominal_pass_s) - wl.warmup_passes)
    return max(3, n | 1) if traced else n

# Keys whose own wall time is a per-layer metric (key.<name>_s).
PER_KEY = PIPELINE_WRITE.keys

# name: (unit, better, bound, what it measures)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25, "JVM and session start plus the cold pass and the workload's warm-up passes"),
    "pass_s": ("s", "lower", 0.25, "wall time of one measured pass: the median over the window's untraced passes"),
    "query_p50_s": ("s", "lower", 0.25, "per-key wall time at p50 (Harrell-Davis estimate)"),
    "query_tail_s": ("s", "lower", 0.25, "per-key wall time at p75 (Harrell-Davis estimate)"),
    "heap_live_mb": ("MB", "lower", 0.1, "heap in use after a forced GC at the end of the window"),
}
# name: (unit, better, layer, the end-to-end metric it should move)
PER_LAYER = {
    "sources.load_ms": ("ms", "lower", "sources", "query_p50_s, pass_s on poll_small"),
    "sources.load_jobs": ("count", "lower", "sources", "query_p50_s, pass_s on poll_small"),
    "queries.construct_s": ("s", "lower", "queries", "pass_s on pipeline_write"),
    "queries.construct_jobs": ("count", "lower", "queries", "pass_s on pipeline_write"),
    "queries.construct_share": ("frac", "lower", "queries", "pass_s on pipeline_write"),
    "plans.analysis_s": ("s", "lower", "plans", "query_p50_s on poll_small"),
    "plans.optimization_s": ("s", "lower", "plans", "query_p50_s on poll_small"),
    "plans.physical_s": ("s", "lower", "plans", "query_p50_s on poll_small"),
    "exec.jobs": ("count", "lower", "exec", "query_p50_s on poll_small"),
    "exec.stages": ("count", "lower", "exec", "pass_s on pipeline_write"),
    "exec.tasks": ("count", "lower", "exec", "pass_s on pipeline_write"),
    "exec.tasks_per_job": ("count", "higher", "exec", "pass_s on pipeline_write"),
    "exec.run_s": ("s", "lower", "exec", "pass_s, query_tail_s on pipeline_write"),
    "exec.cpu_s": ("s", "lower", "exec", "pass_s, query_tail_s on pipeline_write"),
    "exec.gc_s": ("s", "lower", "exec", "pass_s, query_tail_s on pipeline_write"),
    "exec.slot_util": ("frac", "higher", "exec", "pass_s on pipeline_write"),
    "exec.driver_only_s": ("s", "lower", "exec", "query_p50_s on poll_small"),
    "exec.shuffle_write_mb": ("MB", "lower", "exec", "pass_s on pipeline_write"),
    "exec.shuffle_read_mb": ("MB", "lower", "exec", "pass_s on pipeline_write"),
    "exec.spill_mb": ("MB", "lower", "exec", "query_tail_s on pipeline_write"),
    "exec.input_mb": ("MB", "lower", "exec", "pass_s on pipeline_write"),
    "exec.join_rows_per_result_row": ("count", "lower", "exec", "pass_s on pipeline_write"),
    "streaming.triggers": ("count", "lower", "streaming", "pass_s on pipeline_write"),
    "streaming.trigger_p50_ms": ("ms", "lower", "streaming", "pass_s on pipeline_write"),
    "streaming.trigger_tail_ms": ("ms", "lower", "streaming", "query_tail_s on pipeline_write"),
    "streaming.rows_per_s": ("1/s", "higher", "streaming", "pass_s on pipeline_write"),
    "streaming.add_batch_ms": ("ms", "lower", "streaming", "pass_s on pipeline_write"),
    "streaming.latest_offset_ms": ("ms", "lower", "streaming", "pass_s on pipeline_write"),
    "streaming.query_planning_ms": ("ms", "lower", "streaming", "pass_s on pipeline_write"),
    "streaming.wal_commit_ms": ("ms", "lower", "streaming", "pass_s on pipeline_write"),
    "streaming.commit_ms": ("ms", "lower", "streaming", "pass_s on pipeline_write"),
    "streaming.state_rows": ("count", "lower", "streaming", "pass_s on pipeline_write"),
    "streaming.state_mem_mb": ("MB", "lower", "streaming", "heap_live_mb on pipeline_write"),
    "streaming.state_commit_ms": ("ms", "lower", "streaming", "pass_s on pipeline_write"),
    "self.queries_s": ("s", "lower", "queries", "pass_s"),
    "self.plans_s": ("s", "lower", "plans", "query_p50_s"),
    "self.exec_s": ("s", "lower", "exec", "pass_s"),
    "self.streaming_s": ("s", "lower", "streaming", "pass_s on pipeline_write"),
    "self.write_s": ("s", "lower", "write", "query_p50_s"),
    "trace.overhead_frac": ("frac", "lower", "tracing", "none; should stay small"),
}
for _k in PER_KEY:
    PER_LAYER[f"key.{_k}_s"] = ("s", "lower", "per key", "pass_s on the key's workload")

UNITS = {k: v[0] for k, v in {**END_TO_END, **PER_LAYER}.items()}


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 16,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [{"name": k, "unit": u, "better": b, "bound": bound}
                       for k, (u, b, bound, _) in END_TO_END.items()],
        "per_layer": [{"name": k, "unit": u, "better": b} for k, (u, b, _, _) in PER_LAYER.items()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
