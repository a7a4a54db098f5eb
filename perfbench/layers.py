"""Per-layer metrics of a traced run, derived from its spans (see
README.md for the layer -> metric -> end-to-end map). Only spans that
start inside the measured window count, except the set-up builds."""

from __future__ import annotations

import statistics

from perfbench.metrics import PER_LAYER
from perfbench.tracer import Tracer
from perfbench.workloads import K

_BUILDS = (
    "ann.ivf_build",
    "graph_ann.hnsw_build",
    "text_index.inverted_build",
    "ingest.tlog_init_id_mapping",
)
_TIMED = {
    "service.search_drawing.ms": "service.search_drawing",
    "ann.ivf_probe.construct_ms": "ann.ivf_probe.construct",
    "ann.ivf_probe.execute_ms": "ann.ivf_probe.execute",
    "graph_ann.hnsw_search.ms": "graph_ann.hnsw_search",
    "text_index.bm25_probe.construct_ms": "text_index.bm25_probe.construct",
    "text_index.bm25_probe.execute_ms": "text_index.bm25_probe.execute",
    "registry.knn_search_with_metadata.ms": "registry.knn_search_with_metadata",
    "ingest.tlog_merge_upsert.ms": "ingest.tlog_merge_upsert",
    "ann.ivf_append.ms": "ann.ivf_append",
    "text_index.inverted_append.ms": "text_index.inverted_append",
    "tlog.snapshot.ms": "tlog.snapshot",
    "ann.ivf_vacuum.ms": "ann.ivf_vacuum",
    "text_index.inverted_compact.ms": "text_index.inverted_compact",
}
_JOBS = (
    "service.search_drawing",
    "ann.ivf_probe",
    "graph_ann.hnsw_search",
    "text_index.bm25_probe",
    "registry.knn_search_with_metadata",
    "ingest.tlog_merge_upsert",
    "ann.ivf_append",
    "text_index.inverted_append",
)
_BATCH = ("multimodal.fake_image_embedding", "dedup.exact_dedup", "dedup.minhash_lsh_pairs")


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


def per_layer(tr: Tracer, res: dict, session_s: float, cores: int) -> dict[str, float]:
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    t_measure, t_end = res["t_measure"], res.get("t_end", float("inf"))

    def measured(name: str):
        return [s for s in tr.named(name) if t_measure <= s.t0 < t_end]

    m["session.get_session.s"] = session_s
    for name in _BUILDS:
        # pipeline builds inside its measured passes, serve in set-up
        spans = measured(name) or tr.named(name)
        m[f"{name}.s"] = _median(s.ms / 1000.0 for s in spans)
    for metric, name in _TIMED.items():
        m[metric] = _median(s.ms for s in measured(name))
    for name in _JOBS:
        m[f"{name}.jobs"] = _mean(len(tr.subtree_jobs(s)) for s in measured(name))

    probes = measured("ann.ivf_probe")
    if probes:
        rows = sum(tr.stage_sum(tr.subtree_jobs(s), "inputRecords") for s in probes)
        m["ann.ivf_probe.rows_read_per_hit"] = rows / (K * len(probes))
    m["text_index.bm25_probe.shuffle_bytes"] = _mean(
        tr.stage_sum(tr.subtree_jobs(s), "shuffleWriteBytes") for s in measured("text_index.bm25_probe")
    )

    ops = [s for s in tr.spans if s.parent is None and s.t0 >= t_measure and s.name.startswith("request.")]
    searches = [s for s in ops if s.name != "request.pass"]
    phases = [tr.phases[s.req] for s in searches if s.req in tr.phases]
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = _mean(ph.get(p, 0.0) for ph in phases)
    m["spark.driver_gap_ms"] = _median(tr.driver_gap_ms(s) for s in ops)
    m["request.self_ms"] = _median(tr.self_ms(s) for s in ops)

    m.update(res.get("layer", {}))

    for name in _BATCH:
        m[f"{name}.s"] = _median(s.ms / 1000.0 for s in measured(name))
    minhash = measured("dedup.minhash_lsh_pairs")
    m["dedup.minhash_lsh_pairs.shuffle_write_bytes"] = _median(
        tr.stage_sum(tr.subtree_jobs(s), "shuffleWriteBytes") for s in minhash
    )
    m["dedup.minhash_lsh_pairs.spill_bytes"] = _median(
        tr.stage_sum(tr.subtree_jobs(s), "diskBytesSpilled") for s in minhash
    )

    jobs = [j for s in ops for j in tr.subtree_jobs(s)]
    run_ms = tr.stage_sum(jobs, "executorRunTime")
    m["spark.core_busy_frac"] = run_ms / (res["wall_s"] * 1000.0 * cores)
    m["spark.tasks"] = tr.stage_sum(jobs, "numCompleteTasks") / max(res["ops"], 1)
    m["trace.bookkeeping_ms_per_op"] = tr.bookkeeping_s * 1000.0 / max(res["ops"], 1)
    return m
