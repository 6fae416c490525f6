"""The benchmark's workloads and metrics: one place that names them.

A workload is one input plus an ordered list of registry entries (the
keys of ``__spark_entry__.queries()``).  One client runs the list in a
closed loop, one job in flight at a time; a job is the registry call
followed by materialising its DataFrame to the ``noop`` sink.
"""

from __future__ import annotations

#: scale factor of the generated base input (0.001 ≈ 6 k lineitem rows)
BASE_SF = 0.001

WORKLOADS = {
    "bank_etl": {
        "why": "the paper's raw-to-golden job: fact snapshot, SCD2 and "
               "DynamicFrame merges, a job-bookmark increment, a catalogued "
               "parquet sink; JVM only, the control for Python-worker and "
               "streaming changes",
        "jobs": ["fact_snapshot", "scd2_merge_dim", "merge_upsert",
                 "job_bookmark_increment",
                 "src_parquet_sink_catalog_roundtrip"],
    },
    "python_stream": {
        "why": "Python workers over Arrow (Avro and PNG codecs) and a "
               "stateful StreamingQuery; the control for flagship and "
               "write-path changes",
        "jobs": ["src_avro_datum_roundtrip", "multimodal_decode_png",
                 "stream_window_counts"],
    },
}

#: end-to-end metrics, reported by every untraced run
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "job_geomean_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "live_heap_mb": ("MB", "lower"),
}

#: per-layer metrics, reported by every traced run: name -> (unit, layer)
PER_LAYER = {
    "session.get_spark_s": ("s", "session"),
    "session.jvm_threads_start": ("count", "session"),
    "session.jvm_threads_end": ("count", "session"),
    "session.jvm_rss_peak_mb": ("MB", "session"),
    "session.pyworker_rss_peak_mb": ("MB", "session"),
    "plans.build_s": ("s", "plans"),
    "exec.materialize_s": ("s", "exec"),
    "exec.driver_gap_ms": ("ms", "exec"),
    "exec.jobs": ("count", "exec"),
    "exec.stages": ("count", "exec"),
    "exec.tasks": ("count", "exec"),
    "exec.tasks_failed": ("count", "exec"),
    "exec.task_ms": ("ms", "exec"),
    "exec.cpu_ms": ("ms", "exec"),
    "exec.gc_ms": ("ms", "exec"),
    "exec.sort_ms": ("ms", "exec"),
    "exec.agg_build_ms": ("ms", "exec"),
    "exec.shuffle_write_ms": ("ms", "exec"),
    "exec.shuffle_write_bytes": ("bytes", "exec"),
    "exec.fetch_wait_ms": ("ms", "exec"),
    "exec.spill_bytes": ("bytes", "exec"),
    "exec.peak_exec_memory_bytes": ("bytes", "exec"),
    "sources.scan_ms": ("ms", "sources"),
    "sources.rows_read": ("count", "sources"),
    "sources.bytes_read": ("bytes", "sources"),
    "sources.files_read": ("count", "sources"),
    "sinks.files_written": ("count", "sinks"),
    "sinks.bytes_written": ("bytes", "sinks"),
    "sinks.commit_ms": ("ms", "sinks"),
    "pyworker.ms": ("ms", "pyworker"),
    "pyworker.bytes_sent": ("bytes", "pyworker"),
    "pyworker.bytes_returned": ("bytes", "pyworker"),
    "pyworker.rows_returned": ("count", "pyworker"),
    "streaming.queries": ("count", "streaming"),
    "streaming.batches": ("count", "streaming"),
    "streaming.trigger_ms": ("ms", "streaming"),
    "streaming.add_batch_ms": ("ms", "streaming"),
    "streaming.query_planning_ms": ("ms", "streaming"),
    "streaming.latest_offset_ms": ("ms", "streaming"),
    "streaming.wal_commit_ms": ("ms", "streaming"),
    "streaming.commit_offsets_ms": ("ms", "streaming"),
    "streaming.outside_batches_ms": ("ms", "streaming"),
    "streaming.input_rows": ("count", "streaming"),
    "streaming.rows_dropped_by_watermark": ("count", "streaming"),
    "streaming.state_rows": ("count", "streaming"),
    "streaming.state_memory_bytes": ("bytes", "streaming"),
    "host.probe_s": ("s", "harness"),
    "trace.overhead_frac": ("ratio", "harness"),
}
