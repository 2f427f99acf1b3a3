"""The benchmark's metric catalog: names and units of what a run reports."""

from __future__ import annotations

WORKLOADS = ("stream_drain", "store_mix")

# Reported by every workload under the same names.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "primary_per_s": "1/s",
    "primary_p50_ms": "ms",
    "secondary_per_s": "1/s",
    "secondary_p50_ms": "ms",
    "disk_bytes": "bytes",
}

QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_windows",
    "join_asof_click_purchase",
    "similarity_lsh_topk",
)
LAYER_BYTES = ("corpus", "index", "bm25", "store", "ann")

PER_LAYER = {
    **dict.fromkeys(
        (
            "source.fetch_ms",
            "iterator.deliver_ms",
            "sequence.store_ms",
            "sink.write_ms",
            "datasource.latest_offset_ms",
            "datasource.get_batch_ms",
            "datasource.query_planning_ms",
            "datasource.add_batch_ms",
            "datasource.wal_commit_ms",
            "datasource.commit_offsets_ms",
            "admit.text_ms",
            "admit.embedding_ms",
            "maint.compact_ms",
            "maint.prune_ms",
            "maint.vacuum_ms",
            "storage.snapshot_files_ms",
            "storage.snapshot_read_ms",
            "serve.bm25_ms",
            "serve.pq_ms",
            "serve.snapshot_ms",
            "serve.lsh_ms",
            *(f"batch.{q}_ms" for q in QUERIES),
        ),
        "ms",
    ),
    **dict.fromkeys(
        (
            "source.fetch_jobs",
            "source.rows_scanned",
            "iterator.jobs_per_trigger",
            "iterator.polls",
            "iterator.empty_polls",
            "sequence.store_calls",
            "sequence.store_failures",
            "sink.files",
            "datasource.rows_per_batch",
            "admit.text_jobs",
            "admit.embedding_jobs",
            "admit.stages",
            "admit.tasks",
            "maint.jobs",
            "storage.data_files",
            "storage.generations",
            "serve.bm25_jobs",
            "serve.pq_jobs",
            *(f"batch.{q}_jobs" for q in QUERIES),
            "spark.jobs",
            "spark.stages",
            "spark.tasks",
            "spark.input_records",
        ),
        "count",
    ),
    "source.fetch_yield": "ratio",
    "admit.cpu_s": "s",
    "admit.shuffle_bytes": "bytes",
    **{f"storage.layer_bytes.{name}": "bytes" for name in LAYER_BYTES},
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.driver_only_ratio": "ratio",
    "baseline.local1_records_per_s": "1/s",
    "baseline.local1_structured_records_per_s": "1/s",
    "trace.overhead_pct": "%",
}
