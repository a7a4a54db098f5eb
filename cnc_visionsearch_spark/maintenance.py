"""Maintenance runbook: the periodic job a deployment schedules beside
the ingest/delete streams, composing the repo's maintenance primitives
in their correct order. None of this runs on the query path — probes
and sinks stay O(batch)/O(probe); this job bounds the costs that
accrete between runs:

1. **Vacuum** (:func:`operators.ann.ivf_vacuum`): apply tombstones
   physically — rewrites only touched cell partitions, restores
   tombstone-free probe plans.
2. **Compact** (:func:`sources.formats.compact_layout` over cells/ and
   pq_codes/ + pq_trained_codes/; the inverted index and the NSW graph
   — both transaction-log tables — through their own rewrite commits,
   :func:`operators.text_index.inverted_compact` and
   :func:`operators.graph_ann.nsw_compact`, when their paths are
   passed; :func:`streaming.pipelines.compact_id_mapping` for the
   upsert state): bound the one-file-per-partition-per-batch accretion
   of the append/upsert paths.
3. **Audit** (cell-population skew, the ann_ivf_cell_skew measure):
   report whether append drift against the frozen codebook warrants an
   ``ivf_build`` re-train — the one maintenance action this job does
   NOT take automatically (re-training changes cell boundaries and
   deserves an operator decision plus a fresh layout version).

Ordering matters: vacuum BEFORE compact (compaction rewrites would
otherwise carry soon-to-be-deleted rows), audit last (it reads the
settled layout).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cnc_visionsearch_spark.sources.tlog import TLog

__all__ = ["run_index_maintenance", "forget_vectors"]


def run_index_maintenance(
    spark: SparkSession,
    index_path: str | None = None,
    state_dir: str | None = None,
    inverted_path: str | None = None,
    nsw_path: str | None = None,
    skew_retrain_threshold: float = 3.0,
) -> dict:
    """Run the maintenance pass; return a report dict (counts before/
    after, skew audit, retrain recommendation). Idempotent — a second
    run on a settled layout changes nothing."""
    from cnc_visionsearch_spark.operators.ann import ivf_vacuum
    from cnc_visionsearch_spark.sources.formats import compact_layout
    from cnc_visionsearch_spark.streaming.pipelines import compact_id_mapping

    def n_files(root: str) -> int:
        return sum(
            1
            for dp, _d, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    report: dict = {}
    if index_path is not None:
        had_tombstones = os.path.exists(f"{index_path}/tombstones")
        ivf_vacuum(spark, index_path)
        report["vacuum_applied"] = had_tombstones
        for sub in ("cells", "pq_codes", "pq_trained_codes"):
            root = f"{index_path}/{sub}"
            if not os.path.exists(root):
                continue
            before = n_files(root)
            n_parts = sum(
                1 for d in os.listdir(root) if d.startswith("cell_id=")
            )
            # already-settled layout (<= 1 file per partition): skip the
            # rewrite entirely — this is what makes a second maintenance
            # run a true no-op instead of a same-content file churn
            if before > n_parts:
                compact_layout(spark, root, partition_by=["cell_id"])
            report[f"{sub}_files"] = {"before": before, "after": n_files(root)}
        per_cell = (
            spark.read.parquet(f"{index_path}/cells")
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        row = per_cell.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("n_vectors"),
            F.max("n").alias("max_cell"),
        ).first()
        skew = float(row.max_cell) * float(row.n_cells) / float(row.n_vectors)
        report["skew_ratio"] = round(skew, 4)
        report["recommend_retrain"] = skew >= skew_retrain_threshold
    # the inverted layout's delete lifecycle: vacuum is one rewrite
    # commit applying tombstones physically BEFORE compaction (vacuum
    # rewrites touched buckets; compacting first would churn files the
    # vacuum rewrites again), compaction its own; physical removal of
    # unreferenced files rides the table's tlog vacuum (retention-
    # gated), all under conflict arbitration. Report figures are live
    # file counts per subtable, read from the snapshots.
    if inverted_path is not None:
        from cnc_visionsearch_spark.operators.text_index import (
            TLOG_DOCLENS_TAG,
            TLOG_TOMBS_TAG,
            inverted_compact,
            inverted_vacuum,
        )

        t = TLog(inverted_path)
        before = t.snapshot()
        inverted_vacuum(spark, inverted_path)
        inverted_compact(spark, inverted_path)
        t.vacuum()
        after = t.snapshot()
        report["inverted_vacuum_applied"] = bool(
            before.files_in([TLOG_TOMBS_TAG])
        )
        nb = int(before.meta["n_buckets"])
        for label, tags in (
            ("postings", range(nb)),
            ("doclens", [TLOG_DOCLENS_TAG]),
        ):
            report[f"{label}_files"] = {
                "before": len(before.files_in(tags)),
                "after": len(after.files_in(tags)),
            }
    if nsw_path is not None:
        from cnc_visionsearch_spark.operators.graph_ann import (
            TLOG_NSW_ENTRIES_TAG,
            nsw_compact,
        )

        t = TLog(nsw_path)

        def n_edge_files() -> int:
            return sum(
                1 for _p, b in t.snapshot().files if b != TLOG_NSW_ENTRIES_TAG
            )

        before = n_edge_files()
        nsw_compact(spark, nsw_path)
        t.vacuum()
        report["nsw_graph_files"] = {"before": before, "after": n_edge_files()}
    if state_dir is not None:
        root = os.path.join(state_dir, "id_mapping")
        before = n_files(root) if os.path.exists(root) else 0
        compact_id_mapping(spark, state_dir)
        report["id_mapping_files"] = {
            "before": before,
            "after": n_files(root) if os.path.exists(root) else 0,
        }
    return report


def forget_vectors(
    spark: SparkSession,
    ids: list[int],
    ivf_paths: tuple[str, ...] = (),
    shard_paths: tuple[str, ...] = (),
    inverted_paths: tuple[str, ...] = (),
    doc_ids: list[int] | None = None,
) -> dict:
    """Right-to-be-forgotten runbook: ONE call tombstones an id set
    across EVERY derived layout of a corpus — IVF cells (which also
    shields both PQ code tables: their probes anti-join the same
    tombstone set), sharded layouts, and inverted text indexes (by
    ``doc_ids``, defaulting to ``ids`` — the canonical layout keys
    vectors and documents by the same dense id).

    The point is atomicity of INTENT, not of execution: each per-layout
    delete is an O(batch) tombstone append (resident files untouched,
    idempotent — re-running after a partial failure converges), so a
    compliance job can drive this from a deletion queue and re-run
    until the audit (queries: ``forget_audit``) reports the ids dark
    everywhere. Physical removal rides the normal maintenance pass
    (:func:`run_index_maintenance` vacuums every layout it is given).

    Graph tiers (NSW/HNSW) are deliberately NOT in the runbook: graph
    deletion needs edge repair (the reason the reference's HNSW cannot
    delete at all, main.py:119-126) — those layouts drop forgotten
    vectors at their next periodic rebuild, and because their probes
    re-score hits against layouts that DO honor tombstones when
    composed (cascade/hybrid paths), the serving surface goes dark
    immediately even while graph edges linger.

    Returns ``{path: n_ids}`` per layout touched.
    """
    from cnc_visionsearch_spark.operators.ann import ivf_delete, shard_delete
    from cnc_visionsearch_spark.operators.text_index import inverted_delete

    report: dict = {}
    for p in ivf_paths:
        ivf_delete(spark, p, ids)
        report[p] = len(ids)
    for p in shard_paths:
        shard_delete(spark, p, ids)
        report[p] = len(ids)
    for p in inverted_paths:
        inverted_delete(spark, p, list(doc_ids if doc_ids is not None else ids))
        report[p] = len(ids)
    return report
