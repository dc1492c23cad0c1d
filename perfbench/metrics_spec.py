"""The per-layer metric set of the traced run, with units.

Every traced run reports every metric below.  A metric of a layer that the
workload does not exercise (a catalog operator on a CDC workload, a
streaming counter on the catalog) reads 0; METRICS.md says which workload
each metric belongs to.
"""

from __future__ import annotations

HEAVY = ("ann_search_after_lifecycle", "monitor_funnel_publish",
         "monitor_engagement_publish", "monitor_cohort_publish",
         "dedup_simhash", "dedup_minhash_lsh", "dedup_ngram_jaccard",
         "dedup_cluster_assign_delta", "sim_kmeans_refine",
         "sim_ivf_probe_topk", "sim_nearest_centroid",
         "sim_lsh_bucketed_neardup", "corpus_curation", "join_salted_skew")
LIGHT = ("cdc_envelope_build", "cdc_sessionization", "cdc_dedup_exact",
         "cdc_validate_split", "cdc_tumbling_window", "cdc_tenure_per_user",
         "window_latest_state_per_key", "window_state_as_of",
         "agg_daily_event_volume", "events_funnel_conversion",
         "events_cohort_retention", "events_dau_wau",
         "join_event_correlation", "join_asof_last_click")

_LAYERS = {
    "setup.cold_s": "s",
    "session.get_session_s": "s",
    "jvm.peak_rss_mb": "MB",
    "live.generator_late_ms_max": "ms",
    "sources.rows_read": "count",
    "sources.read_amplification": "ratio",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.backlog_files_max": "count",
    "pipeline.batches": "count",
    "pipeline.batch_rows_p50": "count",
    "pipeline.trigger_ms_p50": "ms",
    "pipeline.trigger_ms_p95": "ms",
    "pipeline.query_planning_ms_p50": "ms",
    "pipeline.wal_commit_ms_p50": "ms",
    "pipeline.commit_offsets_ms_p50": "ms",
    "pipeline.process_batch_ms_p50": "ms",
    "pipeline.process_batch_self_ms_p50": "ms",
    "state.dedup_rows_total": "count",
    "state.dedup_dropped": "count",
    "state.commit_ms_p50": "ms",
    "state.all_updates_ms": "ms",
    "state.memory_bytes": "bytes",
    "rules.plan_ms_p50": "ms",
    "validate.plan_ms_p50": "ms",
    "rules.events_out": "count",
    "validate.dlq_rows": "count",
    "sink.events_ms_p50": "ms",
    "sink.events_ms_p95": "ms",
    "sink.audit_ms_p50": "ms",
    "sink.state_ms_p50": "ms",
    "sink.fanout_overlap": "ratio",
    "sink.bytes_per_event": "bytes",
    "sink.events_files": "count",
    "compaction.count": "count",
    "compaction.swap_write_ms": "ms",
    "state.files_max": "count",
    "store.query_p50_ms": "ms",
    "store.query_p90_ms": "ms",
    "store.read_events_ms_p50": "ms",
    "store.read_state_ms_p50": "ms",
    "store.files_per_month": "count",
    "store.jobs_per_query": "count",
    "catalog.light.plan_ms_p50": "ms",
    "catalog.light.jobs_per_query": "count",
}

# measured on the backfill phase too, reported as backfill.<name>
BACKFILL_LAYER = (
    "sources.read_amplification", "sources.get_batch_ms_p50",
    "pipeline.batch_rows_p50", "pipeline.trigger_ms_p50",
    "pipeline.process_batch_ms_p50", "state.dedup_dropped",
    "state.all_updates_ms", "state.commit_ms_p50", "sink.events_ms_p50",
    "sink.audit_ms_p50", "sink.state_ms_p50", "sink.fanout_overlap",
    "rules.events_out", "validate.dlq_rows")

_HEAVY_UNITS = {"wall_s": "s", "jobs": "count", "stages": "count",
                "shuffle_bytes": "bytes"}

# the traced run's own end-to-end readings: their difference from the
# untraced run's medians is the tracing overhead
_TRACED = {"traced.setup_s": "s", "traced.batch_s": "s",
           "traced.latency_p50_s": "s", "traced.latency_p95_s": "s"}

PER_LAYER_UNITS: dict[str, str] = {
    **_LAYERS,
    **{f"backfill.{k}": _LAYERS[k] for k in BACKFILL_LAYER},
    **{f"catalog.{q}.{k}": u for q in HEAVY for k, u in _HEAVY_UNITS.items()},
    **_TRACED,
}


# per-layer metrics where a larger value is the better one
HIGHER_IS_BETTER = {"pipeline.batches", "state.dedup_dropped",
                    "rules.events_out", "sink.fanout_overlap"}


def better(name: str) -> str:
    base = name[len("backfill."):] if name.startswith("backfill.") else name
    return "higher" if base in HIGHER_IS_BETTER else "lower"


def complete(layer: dict) -> dict:
    """Every per-layer metric, 0 where the workload does not measure it."""
    unknown = set(layer) - set(PER_LAYER_UNITS)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {k: float(layer.get(k, 0.0)) for k in PER_LAYER_UNITS}
