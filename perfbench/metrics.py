"""Metric names, units and bounds: the single list that run.py emits
and BENCHMARK.json mirrors (test_perfbench.py keeps the two equal).

End-to-end metrics are what a user of the engine sees; every workload
reports all of them, each with the meaning README.md gives it for that
workload. Per-layer metrics come from the traced run only; a layer a
workload does not reach reports 0.
"""

from __future__ import annotations

# (name, unit, better, bound). Wall-clock latency and throughput, and
# CPU time per operation, are not here: on a shared 4-core VM their
# ten-seed spreads ran past the largest bound allowed (0.25), so they
# are printed by every run and reported per layer by the traced run
# instead (README.md, Steadiness).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("spark_jobs_per_op", "count", "lower", 0.1),
    ("recall", "ratio", "higher", 0.15),
    ("stored_bytes_per_user_byte", "ratio", "lower", 0.05),
]

# (name, unit, better)
PER_LAYER = [
    # set-up
    ("session.get_session.s", "s", "lower"),
    ("ann.ivf_build.s", "s", "lower"),
    ("graph_ann.hnsw_build.s", "s", "lower"),
    ("text_index.inverted_build.s", "s", "lower"),
    ("ingest.tlog_init_id_mapping.s", "s", "lower"),
    # read path
    ("service.search_drawing.ms", "ms", "lower"),
    ("service.search_drawing.jobs", "count", "lower"),
    ("ann.ivf_probe.construct_ms", "ms", "lower"),
    ("ann.ivf_probe.execute_ms", "ms", "lower"),
    ("ann.ivf_probe.jobs", "count", "lower"),
    ("ann.ivf_probe.rows_read_per_hit", "ratio", "lower"),
    ("ann.ivf_probe.recall_at_10", "ratio", "higher"),
    ("graph_ann.hnsw_search.ms", "ms", "lower"),
    ("graph_ann.hnsw_search.jobs", "count", "lower"),
    ("graph_ann.hnsw_search.recall_at_10", "ratio", "higher"),
    ("text_index.bm25_probe.construct_ms", "ms", "lower"),
    ("text_index.bm25_probe.execute_ms", "ms", "lower"),
    ("text_index.bm25_probe.jobs", "count", "lower"),
    ("text_index.bm25_probe.shuffle_bytes", "bytes", "lower"),
    ("registry.knn_search_with_metadata.ms", "ms", "lower"),
    ("registry.knn_search_with_metadata.jobs", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("spark.driver_gap_ms", "ms", "lower"),
    ("request.self_ms", "ms", "lower"),
    # write path
    ("ingest.tlog_merge_upsert.ms", "ms", "lower"),
    ("ingest.tlog_merge_upsert.jobs", "count", "lower"),
    ("ann.ivf_append.ms", "ms", "lower"),
    ("ann.ivf_append.jobs", "count", "lower"),
    ("text_index.inverted_append.ms", "ms", "lower"),
    ("text_index.inverted_append.jobs", "count", "lower"),
    ("tlog.snapshot.ms", "ms", "lower"),
    ("tlog.commits_since_checkpoint", "count", "lower"),
    ("tlog.live_files", "count", "lower"),
    ("ann.ivf_vacuum.ms", "ms", "lower"),
    ("text_index.inverted_compact.ms", "ms", "lower"),
    ("compaction.bytes_rewritten", "bytes", "lower"),
    # batch path
    ("multimodal.fake_image_embedding.s", "s", "lower"),
    ("dedup.exact_dedup.s", "s", "lower"),
    ("dedup.minhash_lsh_pairs.s", "s", "lower"),
    ("dedup.minhash_lsh_pairs.shuffle_write_bytes", "bytes", "lower"),
    ("dedup.minhash_lsh_pairs.spill_bytes", "bytes", "lower"),
    ("spark.core_busy_frac", "ratio", "higher"),
    ("spark.tasks", "count", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("process.cpu_ms_per_op", "ms", "lower"),
    ("jvm.jit_ms_per_op", "ms", "lower"),
    # the operation's wall-clock figures in the traced run (the untraced
    # runs print theirs; the difference is the tracing overhead) and the
    # tracer's own bookkeeping time on the request path
    ("trace.latency_p50_ms", "ms", "lower"),
    ("trace.latency_p90_ms", "ms", "lower"),
    ("trace.throughput_per_s", "1/s", "higher"),
    ("trace.bookkeeping_ms_per_op", "ms", "lower"),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}
