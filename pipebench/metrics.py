"""The benchmark's metric catalogue: what each run prints, by name and unit.

End-to-end metrics are printed by every workload, each meaning the same
kind of thing everywhere (see DESIGN.md for the per-workload definition):

* ``setup_s`` — session start plus the workload's warm-up (median of the
  run's set-up repetitions);
* ``main_p50_ms`` — median time of the workload's main user-visible
  operation: a standing backlog of ratings caught up into Elasticsearch
  (``ratings_stream``), one MERGE commit (``catalog_cdc``);
* ``side_p50_ms`` — the same for its secondary output: the backlog's
  alerts all sent; a commit reaching the materialized view and the
  replica;
* ``throughput_per_s`` — work per second: events drained from a standing
  backlog; catalog queries completed.

Per-layer metrics come from the traced run. A layer a workload does not
exercise reports 0 there.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "main_p50_ms": "ms",
    "side_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

# catalog passes run these queries, in this order, each filed under the
# one operators.* roll-up whose code does its heavy lifting
CATALOG_QUERIES = {
    "j1_enrichment_join": "reference",
    "h3_top_revenue_orders": "relational",
    "x_dedup_simhash": "dedup",
    "x_ann_topk_blocked": "similarity",
    "x_sketch_kmv_setops": "sketches",
    "x_text_quality": "text",
    "x_multimodal_pixel_stats": "multimodal",
    "x_events_key_skew_profile": "skew",
}
ROLLUPS = (
    "reference", "relational", "dedup", "similarity", "sketches", "text",
    "multimodal", "skew",
)
# the relational half of a catalog pass; the rest is the curation half
RELATIONAL_ROLLUPS = frozenset({"reference", "relational"})

LAYERS = (
    "session", "sources.tables", "streaming.runtime", "streaming.sinks",
    "operators", "caching", "sources.acid", "sources.incremental", "checks",
)

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.first_start_s": "s",
    **{
        f"streaming.runtime.{n}": "ms"
        for n in (
            "latest_offset_ms_p50", "get_batch_ms_p50", "query_planning_ms_p50",
            "wal_commit_ms_p50", "commit_offsets_ms_p50", "trigger_ms_p50",
            "add_batch_ms_p50",
        )
    },
    "streaming.runtime.batches": "count",
    "streaming.runtime.input_rows_per_batch_p50": "count",
    "streaming.runtime.backlog_files_max": "count",
    "streaming.runtime.state_rows": "count",
    "streaming.runtime.state_memory_bytes": "bytes",
    "streaming.runtime.rows_dropped_by_watermark": "count",
    "streaming.sinks.es_call_ms_p50": "ms",
    "streaming.sinks.es_bulk_requests": "count",
    "streaming.sinks.es_docs_per_request_p50": "count",
    "streaming.sinks.es_bytes_per_doc": "bytes",
    "streaming.sinks.es_stub_busy_share": "share",
    "streaming.sinks.dlq_docs": "count",
    "streaming.sinks.mongo_call_ms_p50": "ms",
    "streaming.sinks.mongo_upserts": "count",
    "streaming.sinks.alert_call_ms_p50": "ms",
    "streaming.sinks.alerts": "count",
    "stream.latency_p50_ms": "ms",
    "stream.alert_latency_p50_ms": "ms",
    "stream.latency_tail_ms": "ms",
    "stream.latency_tail_pct": "pct",
    "stream.drain_eps": "1/s",
    "stream.catchup_ms": "ms",
    "stream.alert_catchup_ms": "ms",
    "stream.sustained_eps": "1/s",
    "stream.gen_lag_ms": "ms",
    "stream.single_thread_latency_p50_ms": "ms",
    "stream.single_thread_drain_eps": "1/s",
    "batch.relational_pass_s": "s",
    "batch.curation_pass_s": "s",
    "catalog.queries_per_s": "1/s",
    **{f"query.{q}_s": "s" for q in CATALOG_QUERIES},
    **{f"operators.{r}_s": "s" for r in ROLLUPS},
    "caching.pending_caches_per_query": "count",
    "acid.commit_p50_ms": "ms",
    "acid.commit_tail_ms": "ms",
    "acid.commit_tail_pct": "pct",
    "acid.feed_lag_p50_ms": "ms",
    "acid.changes_per_s": "1/s",
    "sources.acid.merge_s_p50": "s",
    "sources.acid.merge_s_at_checkpoint": "s",
    "sources.acid.read_pruned_s_p50": "s",
    "sources.acid.files_added_per_commit": "count",
    "sources.acid.files_removed_per_commit": "count",
    "sources.acid.bytes_written_per_user_byte": "ratio",
    "sources.acid.log_bytes_per_commit": "bytes",
    "sources.acid.table_files": "count",
    "sources.incremental.refresh_s_p50": "s",
    "sources.incremental.replicate_s_p50": "s",
    "sources.incremental.rows_folded_per_refresh": "count",
    **{f"layer.{name}.self_s": "s" for name in LAYERS},
    "trace.spans": "count",
    "trace.span_cost_us": "us",
    "trace.main_p50_ms": "ms",
}
