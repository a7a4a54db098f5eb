"""Derived artifacts under the transaction log (r8 verdict #1):
lifecycle invariance (an appended/deleted/vacuumed/compacted layout
== a from-scratch build or an independent reference for every probe)
and racing-writer arbitration per artifact — a concurrent
append+vacuum either SERIALIZES (disjoint conflict domains) or raises
TLogConflictError cleanly and recomputes under run_transaction; no
interleave loses data or tears a read."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.ann import (
    ivf_append,
    ivf_build,
    ivf_delete,
    ivf_probe,
    ivf_vacuum,
    read_cells,
)
from cnc_visionsearch_spark.operators.dedup import (
    minhash_banded,
    minhash_store_append,
    minhash_store_compact,
    minhash_store_init,
    read_minhash_store,
)
from cnc_visionsearch_spark.operators.knn import with_normalized
from cnc_visionsearch_spark.operators.text_index import (
    bm25_probe,
    inverted_append,
    inverted_build,
    inverted_compact,
    inverted_delete,
    inverted_vacuum,
    read_doclens,
    read_postings,
)
from cnc_visionsearch_spark.sources.catalog import load_table
from cnc_visionsearch_spark.sources.tlog import (
    TLog,
    TLogConflictError,
    run_transaction,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def _emb(spark):
    return with_normalized(load_table(spark, SF, "embeddings")).select(
        "vec_id", "nvec"
    )


def _inject_before_first_rewrite(monkeypatch, inject_fn):
    """Deterministic race: the FIRST rewrite commit attempted anywhere
    sees ``inject_fn`` land a racing commit between its snapshot read
    and its version claim — exactly the optimistic-concurrency window
    the protocol arbitrates."""
    orig = TLog.commit
    state = {"armed": True}

    def patched(self, *a, **k):
        if k.get("op") == "rewrite" and state["armed"]:
            state["armed"] = False
            inject_fn()
        return orig(self, *a, **k)

    monkeypatch.setattr(TLog, "commit", patched)
    return state


# ---------------------------------------------------------------- inverted


def test_inverted_tlog_mode_invariant_lifecycle(spark, tmp_path):
    """build -> append -> delete -> vacuum -> compact yields probe
    results byte-identical to a from-scratch build over the final
    corpus (the lifecycle's live documents)."""
    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") < 150)
    day2 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200))
    deleted = [5, 7, 160]

    def probe(path):
        return (
            bm25_probe(spark, path, ["vector", "scan"])
            .orderBy(F.col("score_q").desc(), "doc_id")
            .collect()
        )

    tl = str(tmp_path / "tl")
    inverted_build(base, tl, n_buckets=8)
    inverted_append(day2, tl)
    inverted_delete(spark, tl, deleted)
    pre = probe(tl)
    inverted_vacuum(spark, tl)
    assert probe(tl) == pre  # vacuum never changes results

    ref = str(tmp_path / "ref")
    inverted_build(
        docs.filter(
            (F.col("doc_id") < 200) & ~F.col("doc_id").isin(deleted)
        ),
        ref,
        n_buckets=8,
    )
    assert pre == probe(ref) and pre
    # compact settles to one file per live domain, results unchanged
    inverted_compact(spark, tl)
    assert probe(tl) == pre
    assert read_doclens(spark, tl).count() == 197


def test_inverted_racing_append_vs_vacuum_conflicts_and_recomputes(
    spark, tmp_path, monkeypatch
):
    """An append landing inside the vacuum's read->commit window makes
    the vacuum raise TLogConflictError (it owns the doclens domain
    every append extends); run_transaction recomputes against the new
    snapshot and the final state holds BOTH the append and the
    delete's effect — nothing lost, nothing resurrected."""
    path = str(tmp_path / "inv")
    docs = _docs(spark)
    inverted_build(docs.filter(F.col("doc_id") < 100), path, n_buckets=8)
    inverted_delete(spark, path, [5, 7])
    racing = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: inverted_append(racing, path)
    )
    with pytest.raises(TLogConflictError):
        inverted_vacuum(spark, path)
    assert not state["armed"]  # the race actually fired
    # optimistic retry wins cleanly (the injector is spent)
    run_transaction(lambda: inverted_vacuum(spark, path))
    ids = {
        r[0]
        for r in read_doclens(spark, path).select("doc_id").collect()
    }
    assert 5 not in ids and 7 not in ids  # vacuum applied
    assert 110 in ids  # racing append survived
    assert read_postings(spark, path).filter(
        F.col("doc_id").isin(5, 7)
    ).count() == 0


def _py_bm25(texts: dict, terms, k1: float = 1.2, b: float = 0.75) -> dict:
    """Pure-Python BM25 with bm25_probe's exact double chain and 1e-9
    quantization: {doc_id: (n_terms, score_q)}."""
    import math

    toks = {d: t.split(" ") for d, t in texts.items()}
    n_docs = float(len(toks))
    avgdl = float(sum(len(v) for v in toks.values())) / n_docs
    out: dict = {}
    for term in set(terms):
        tf = {d: v.count(term) for d, v in toks.items() if term in v}
        df = float(len(tf))
        idf = (n_docs - df + 0.5) / (df + 0.5)
        for d, c in tf.items():
            denom = c + k1 * (1.0 - b + b * float(len(toks[d])) / avgdl)
            sq = math.floor(idf * (c * (k1 + 1.0)) / denom * 1e9 + 0.5)
            n, tot = out.get(d, (0, 0))
            out[d] = (n + 1, tot + sq)
    return out


def test_bm25_probe_of_a_bucket_without_files_is_empty(spark, tmp_path):
    """A term whose bucket holds no postings file (64 buckets over a
    40-term vocabulary) probes to 0 rows — the reader hands back a
    typed empty frame, never None."""
    from cnc_visionsearch_spark.operators.text_index import term_bucket

    vocab = [f"t{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(i, " ".join(vocab[(i + j) % 40] for j in range(5))) for i in range(40)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "inv")
    inverted_build(docs, path, n_buckets=64)
    used = {term_bucket(t, 64) for t in vocab}
    oov = next(
        f"x{i}" for i in range(1000) if term_bucket(f"x{i}", 64) not in used
    )
    assert bm25_probe(spark, path, [oov]).collect() == []
    # a mixed probe still ranks the in-vocabulary term alone
    got = {
        r.doc_id: (r.n_terms, r.score_q)
        for r in bm25_probe(spark, path, [oov, "t3"]).collect()
    }
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert got == _py_bm25(texts, [oov, "t3"]) and got


def test_probes_read_n_buckets_from_the_layout(spark, tmp_path):
    """The bucket count comes from the layout's commit meta, not the
    caller: an 8-bucket layout probed with terms whose 16-bucket hash
    is >= 8 matches the pure-Python BM25 answer."""
    from cnc_visionsearch_spark.operators.text_index import term_bucket

    docs = _docs(spark).filter(F.col("doc_id") < 200)
    path = str(tmp_path / "inv")
    inverted_build(docs, path, n_buckets=8)
    texts = {r.doc_id: r.text for r in docs.collect()}
    vocab = sorted({t for v in texts.values() for t in v.split(" ")})
    terms = [t for t in vocab if term_bucket(t, 16) >= 8][:2]
    assert len(terms) == 2
    got = {
        r.doc_id: (r.n_terms, r.score_q)
        for r in bm25_probe(spark, path, terms).collect()
    }
    assert got == _py_bm25(texts, terms) and got


# ensure-builders: the init commit is the "built" marker. Each case is
# (query module, ensure function, a registered query reading it).
_ENSURED = [
    ("queries_analytics", "ensure_inverted_built", "text_inverted_bm25_topk"),
    ("queries_hybrid", "ensure_token_ivf_built", "text_maxsim_ivf_pruned_topk"),
    ("queries_ann_graph", "ensure_nsw_built", "ann_nsw_beam_topk"),
    ("queries_ann_graph", "ensure_hnsw_built", "ann_hnsw_descend_topk"),
    ("queries_dedup", "ensure_minhash_store_built", "dedup_incremental_minhash"),
]


@pytest.mark.parametrize("module,ensure,query", _ENSURED)
def test_ensure_rebuilds_failed_and_legacy_layouts(
    spark, tmp_path, monkeypatch, module, ensure, query
):
    """(a) a build that dies just before its init commit leaves no
    built layout, and (b) a directory holding an old legacy layout
    with its ``_BUILT`` marker is not misread: the next ensure call
    rebuilds both as transaction-log layouts, and the registered query
    then matches its DuckDB oracle."""
    import glob
    import importlib
    import shutil

    import duckdb

    from cnc_visionsearch_spark import queries_ann, queries_ann_graph
    from cnc_visionsearch_spark.registry import all_oracles, all_queries

    root = str(tmp_path / "artifacts")
    monkeypatch.setattr(queries_ann, "_ARTIFACT_ROOT", root)
    monkeypatch.setattr(queries_ann_graph, "_ARTIFACT_ROOT", root)
    fn = getattr(importlib.import_module(f"cnc_visionsearch_spark.{module}"), ensure)

    orig = TLog.commit
    state = {"armed": True}

    def failing_commit(self, *a, **k):
        if state["armed"]:
            state["armed"] = False
            raise RuntimeError("injected crash before the init commit")
        return orig(self, *a, **k)

    monkeypatch.setattr(TLog, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        fn(spark, SF)
    (log_dir,) = glob.glob(f"{root}/*/*/_tlog")
    path = os.path.dirname(log_dir)
    assert TLog(path).latest_version() == 0  # (a): nothing committed
    # (b): the same directory now holds an old legacy layout
    shutil.rmtree(path)
    os.makedirs(os.path.join(path, "graph", "src_bucket=0"))
    for marker in ("_BUILT", "_APPENDED"):
        open(os.path.join(path, marker), "w").close()
    assert fn(spark, SF) == path
    assert TLog(path).latest_version() >= 1
    assert not os.path.exists(os.path.join(path, "graph"))

    df = all_queries()[query](spark, SF)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    res = con.sql(all_oracles()[query])
    cols = [d[0] for d in res.description]

    def canon(names, rows):  # scripts/check_correctness.py's rule
        order = sorted(range(len(names)), key=lambda i: names[i])
        return sorted(
            tuple(
                repr(r[i]) if isinstance(r[i], float) else str(r[i])
                for i in order
            )
            for r in rows
        )

    got = canon(df.columns, [tuple(r) for r in df.collect()])
    assert sorted(df.columns) == sorted(cols)
    assert got == canon(cols, res.fetchall()) and got


# ---------------------------------------------------------------- IVF


def test_ivf_tlog_mode_invariant_lifecycle(spark, tmp_path):
    docs_q = [
        r["nvec"] for r in _emb(spark).filter(F.col("vec_id") == 3).collect()
    ][0]
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)

    def run(path, use_tlog):
        ivf_build(base, path, n_cells=8, use_tlog=use_tlog)
        ivf_append(spark, path, rest)
        ivf_delete(spark, path, [3, 7, 450])
        pre = ivf_probe(spark, path, list(docs_q), k=10, nprobe=4).collect()
        ivf_vacuum(spark, path)
        post = ivf_probe(spark, path, list(docs_q), k=10, nprobe=4).collect()
        assert pre == post
        assert not {r.vec_id for r in post} & {3, 7, 450}
        return post

    assert run(str(tmp_path / "leg"), False) == run(str(tmp_path / "tl"), True)


def test_ivf_racing_append_to_untouched_cells_serializes(
    spark, tmp_path, monkeypatch
):
    """The DISJOINT-domain case: a racing append whose adds land only
    in cells the vacuum did NOT touch commits between the vacuum's
    read and its claim — and the vacuum still commits cleanly (no
    conflict, no retry): bucket-domain arbitration, not a table lock."""
    path = str(tmp_path / "ivf")
    emb = _emb(spark)
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8, use_tlog=True)
    ivf_delete(spark, path, [3])
    t = TLog(path)
    # the vacuum will touch exactly the deleted id's cell — race an
    # append into a DIFFERENT cell (pick a resident row from one)
    cells = read_cells(spark, path)
    del_cell = cells.filter(F.col("vec_id") == 3).collect()[0]["cell_id"]
    other = cells.filter(F.col("cell_id") != del_cell).limit(1).collect()[0]
    racing_df = spark.createDataFrame(
        [(int(9999), [float(x) for x in other["nvec"]], int(other["cell_id"]))],
        "vec_id bigint, nvec array<double>, cell_id int",
    )

    def racing_append():
        adds = t.write_data(racing_df, bucket_expr=F.col("cell_id"))
        t.commit(adds=adds, op="append")

    state = _inject_before_first_rewrite(monkeypatch, racing_append)
    ivf_vacuum(spark, path)  # must NOT raise: disjoint domains
    assert not state["armed"]
    ids = {r[0] for r in read_cells(spark, path).select("vec_id").collect()}
    assert 3 not in ids  # vacuum applied
    assert 9999 in ids  # racing append survived


def test_ivf_racing_delete_vs_vacuum_conflicts(spark, tmp_path, monkeypatch):
    """A racing DELETE (tombstone domain) inside the vacuum window
    conflicts — the vacuum owns the tombstone set it is retiring; the
    retry applies BOTH deletes."""
    path = str(tmp_path / "ivf2")
    emb = _emb(spark)
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=8, use_tlog=True)
    ivf_delete(spark, path, [3])
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: ivf_delete(spark, path, [7])
    )
    with pytest.raises(TLogConflictError):
        ivf_vacuum(spark, path)
    assert not state["armed"]
    run_transaction(lambda: ivf_vacuum(spark, path))
    ids = {r[0] for r in read_cells(spark, path).select("vec_id").collect()}
    assert not ids & {3, 7}


# ----------------------------------------------------- composed codecs


def test_pq_rq_tlog_mode_invariant_lifecycle(spark, tmp_path):
    """r11 (the r10 'last tier' exclusion closed): the composed-codec
    code tables — stride-PQ, trained-PQ and RQ — run build/append/
    delete/vacuum as tlog commits and serve code tables content-equal
    to the legacy layouts at every step; ivf_vacuum rewrites the
    touched CODE domains in the SAME commit as the vector rewrite (the
    no-resurrection rule, now atomic)."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_append,
        ivf_delete,
        ivf_vacuum,
        pq_append,
        pq_build,
        pq_trained_append,
        pq_trained_build,
        read_pq_codes,
        read_pq_trained_codebook,
    )
    from cnc_visionsearch_spark.operators.rq import (
        read_rq_codebooks,
        read_rq_codes,
        rq_build,
        rq_probe_topk,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 9).collect()[0]["nvec"]
    ]

    def by_name(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    out = {}
    for mode, use in (("leg", False), ("tl", True)):
        p = str(tmp_path / mode)
        ivf_build(base, p, n_cells=4, use_tlog=use)
        pq_build(spark, p, m=4)
        pq_trained_build(spark, p, m=4, k_star=8, iters=1)
        ivf_append(spark, p, rest)
        pq_append(spark, p, rest, m=4)
        pq_trained_append(spark, p, rest, m=4)
        rq_build(spark, p, emb, k1=4, k2=8, iters=1)
        ivf_delete(spark, p, [3, 9, 450])
        run_transaction(lambda: ivf_vacuum(spark, p))
        out[mode] = {
            "pq": by_name(
                read_pq_codes(spark, p),
                ["vec_id", "sub_j", "code", "cell_id"],
            ),
            "pqt": by_name(
                read_pq_codes(spark, p, trained=True),
                ["vec_id", "sub_j", "code", "cell_id"],
            ),
            "pqt_model": by_name(
                read_pq_trained_codebook(spark, p),
                ["sub_j", "code", "cv"],
            ),
            "rq": by_name(read_rq_codes(spark, p), ["vec_id", "c1", "c2"]),
            "rq_model": tuple(
                by_name(cb, ["code", "cv"])
                for cb in read_rq_codebooks(spark, p)
            ),
            "probe": rq_probe_topk(spark, p, q, emb, k=5).collect(),
        }
    for key in out["leg"]:
        assert out["leg"][key] == out["tl"][key], f"{key} diverged"
    # the vacuum physically removed deleted ids from EVERY code table
    for key in ("pq", "pqt", "rq"):
        assert not {r[0] for r in out["tl"][key]} & {3, 9, 450}
    # deleted query id 9 cannot be served
    assert 9 not in {r.vec_id for r in out["tl"]["probe"]}


def test_pq_build_racing_cell_append_conflicts_and_recomputes(
    spark, tmp_path, monkeypatch
):
    """pq_build's commit declares ALL cell domains as its read set: a
    cell append landing inside the build window would leave appended
    vectors code-less (breaking codes == re-encode-of-union), so the
    build must conflict and recompute over the union."""
    from cnc_visionsearch_spark.operators.ann import (
        ivf_append,
        pq_build,
        read_pq_codes,
    )

    path = str(tmp_path / "pq")
    emb = _emb(spark)
    ivf_build(emb.filter(F.col("vec_id") < 300), path, n_cells=4, use_tlog=True)
    state = _inject_before_first_rewrite(
        monkeypatch,
        lambda: ivf_append(spark, path, emb.filter(F.col("vec_id") >= 300)),
    )
    with pytest.raises(TLogConflictError):
        pq_build(spark, path, m=4)
    assert not state["armed"]
    run_transaction(lambda: pq_build(spark, path, m=4))
    coded = {r[0] for r in read_pq_codes(spark, path).select("vec_id").collect()}
    full = {r[0] for r in emb.select("vec_id").collect()}
    assert coded == full  # the recompute covered the appended rows


# ----------------------------------------------------------------- shards


def test_shard_tlog_mode_invariant_lifecycle(spark, tmp_path):
    """r10 verdict #3: the shard tier's lifecycle (build -> append ->
    delete -> vacuum -> compact) under tlog commits serves results
    identical to the legacy tmp+rename layout at every step."""
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_append,
        shard_build,
        shard_compact,
        shard_delete,
        shard_vacuum,
        sharded_topk_persisted,
    )

    emb = _emb(spark)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 9).collect()[0]["nvec"]
    ]
    base = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)

    def run(path, use_tlog):
        shard_build(base, path, num_shards=4, use_tlog=use_tlog)
        shard_append(spark, path, rest)
        shard_delete(spark, path, [9, 11])
        pre = sharded_topk_persisted(spark, path, q, k=10).collect()
        shard_vacuum(spark, path)
        post = sharded_topk_persisted(spark, path, q, k=10).collect()
        assert pre == post
        assert not {r.vec_id for r in post} & {9, 11}
        return post

    leg = run(str(tmp_path / "leg"), False)
    tl_path = str(tmp_path / "tl")
    tl = run(tl_path, True)
    assert leg == tl
    # compact settles every build+append two-file domain to one live
    # file with results unchanged
    run_transaction(lambda: shard_compact(spark, tl_path))
    assert sharded_topk_persisted(spark, tl_path, q, k=10).collect() == tl
    from collections import Counter

    cnt = Counter(b for _p, b in TLog(tl_path).snapshot().files)
    assert cnt and max(cnt.values()) == 1
    # and the legacy layout refuses compact loudly
    with pytest.raises(ValueError, match="transactional layout"):
        shard_compact(spark, str(tmp_path / "leg"))
    # snapshot reads prune at the log level: one shard's read lists
    # only that shard's file
    one = read_shards(spark, tl_path, shard_ids=[1])
    assert {r.shard for r in one.select("shard").distinct().collect()} == {1}


def test_shard_tlog_negative_ids_and_empty_domain_vacuum(spark, tmp_path):
    """Review findings pinned: (a) tlog shard assignment is pmod, not
    Java % — a negative id under Java remainder would land in a
    NEGATIVE tag that read_shards' range pruning never lists, making
    the row invisible to every probe; (b) vacuuming a tombstone whose
    shard holds no live files (already emptied, or a never-present id)
    retires the tombstone cleanly instead of crashing on a None read."""
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_build,
        shard_delete,
        shard_vacuum,
        sharded_topk_persisted,
    )

    emb = spark.createDataFrame(
        [(-3, [1.0, 0.0]), (-8, [0.0, 1.0]), (5, [0.6, 0.8])],
        "vec_id bigint, nvec array<double>",
    )
    path = str(tmp_path / "neg")
    shard_build(emb, path, num_shards=4, use_tlog=True)
    ids = {r.vec_id for r in read_shards(spark, path).collect()}
    assert ids == {-3, -8, 5}  # negative ids visible (pmod tags)
    got = sharded_topk_persisted(spark, path, [1.0, 0.0], k=2).collect()
    assert got[0].vec_id == -3 and got[0].distance == 0.0
    # empty shard 0 (sole member -8), then vacuum a tombstone whose
    # domain now holds zero files — must retire, not crash
    shard_delete(spark, path, [-8])
    run_transaction(lambda: shard_vacuum(spark, path))
    assert {r.vec_id for r in read_shards(spark, path).collect()} == {-3, 5}
    shard_delete(spark, path, [4])  # pmod 0: the emptied, file-less shard
    run_transaction(lambda: shard_vacuum(spark, path))  # no AttributeError
    snap = TLog(path).snapshot()
    from cnc_visionsearch_spark.operators.ann import TLOG_IVF_TOMBS_TAG

    assert not snap.files_in([TLOG_IVF_TOMBS_TAG])  # tombstones retired
    assert {r.vec_id for r in read_shards(spark, path).collect()} == {-3, 5}


def test_shard_racing_append_to_untouched_shards_serializes(
    spark, tmp_path, monkeypatch
):
    """Disjoint shard domains: an append racing a vacuum that touches
    OTHER shards commits between the vacuum's read and claim, and the
    vacuum still commits cleanly — the arbitration the mutex-only
    layout resolved by refusal now serializes."""
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_build,
        shard_delete,
        shard_vacuum,
    )

    path = str(tmp_path / "sh")
    emb = _emb(spark)
    shard_build(
        emb.filter(F.col("vec_id") < 300), path, num_shards=4, use_tlog=True
    )
    shard_delete(spark, path, [8])  # shard 0 — vacuum touches only it
    t = TLog(path)
    donor = read_shards(spark, path, shard_ids=[3]).limit(1).collect()[0]
    racing_df = spark.createDataFrame(
        [(9999, [float(x) for x in donor["nvec"]], 3)],
        "vec_id bigint, nvec array<double>, shard int",
    )

    def racing_append():
        t.commit(adds=t.write_data(racing_df, bucket_expr=F.col("shard")))

    state = _inject_before_first_rewrite(monkeypatch, racing_append)
    shard_vacuum(spark, path)  # must NOT raise: disjoint domains
    assert not state["armed"]
    ids = {r[0] for r in read_shards(spark, path).select("vec_id").collect()}
    assert 8 not in ids and 9999 in ids


def test_shard_racing_delete_vs_vacuum_conflicts(spark, tmp_path, monkeypatch):
    """A racing delete (tombstone domain) inside the vacuum window
    conflicts; the run_transaction retry applies BOTH deletes."""
    from cnc_visionsearch_spark.operators.ann import (
        read_shards,
        shard_build,
        shard_delete,
        shard_vacuum,
    )

    path = str(tmp_path / "sh2")
    emb = _emb(spark)
    shard_build(
        emb.filter(F.col("vec_id") < 300), path, num_shards=4, use_tlog=True
    )
    shard_delete(spark, path, [8])
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: shard_delete(spark, path, [9])
    )
    with pytest.raises(TLogConflictError):
        shard_vacuum(spark, path)
    assert not state["armed"]
    run_transaction(lambda: shard_vacuum(spark, path))
    ids = {r[0] for r in read_shards(spark, path).select("vec_id").collect()}
    assert not ids & {8, 9}


# ---------------------------------------------------------------- minhash


def test_minhash_store_racing_append_vs_compact(spark, tmp_path, monkeypatch):
    """compact (rewrite over every band domain) racing an append:
    conflict + clean retry; the final store holds base + both appends
    exactly once per (doc, band, sig) — at-least-once replays and the
    race both collapse to exactly-once content."""
    path = str(tmp_path / "mh")
    docs = _docs(spark)
    banded = lambda lo, hi: minhash_banded(  # noqa: E731
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
        num_hashes=16, bands=4, shingle_n=3,
    )
    minhash_store_init(banded(0, 100), path)
    minhash_store_append(banded(100, 150), path, txn=("d2", 1))
    minhash_store_append(banded(100, 150), path, txn=("d2", 1))  # replay
    racing = banded(150, 170)
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: minhash_store_append(racing, path, txn=("d3", 1))
    )
    with pytest.raises(TLogConflictError):
        minhash_store_compact(spark, path)
    assert not state["armed"]
    run_transaction(lambda: minhash_store_compact(spark, path))
    rows = read_minhash_store(spark, path)
    # exactly-once content: every (doc, band) appears once per band
    assert rows.count() == rows.dropDuplicates(
        ["doc_id", "band_id", "band_sig"]
    ).count()
    ids = {r[0] for r in rows.select("doc_id").distinct().collect()}
    # shingle-less docs (< 3 tokens) legitimately have no signature
    assert 160 in ids and 120 in ids and 50 in ids
    # settled: one file per band
    assert len(TLog(path).snapshot().files) == 4


def test_minhash_store_replayed_append_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "mh2")
    docs = _docs(spark)
    b = minhash_banded(docs.filter(F.col("doc_id") < 50))
    minhash_store_init(b, path)
    d2 = minhash_banded(
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    )
    v1 = minhash_store_append(d2, path, txn=("day", 1))
    n1 = read_minhash_store(spark, path).count()
    v2 = minhash_store_append(d2, path, txn=("day", 1))
    assert v2 == v1
    assert read_minhash_store(spark, path).count() == n1


def test_store_probe_divergent_text_latest_batch_wins(spark):
    """r8 advice: when store docs carry the streaming twin's
    ``_src_batch`` provenance, a doc re-delivered with DIVERGENT text
    verifies against the LATEST delivery's content (max _src_batch),
    matching upsert semantics — never against file-scan order or the
    lexically-max text."""
    from cnc_visionsearch_spark.operators.dedup import (
        minhash_banded,
        minhash_store_probe,
    )

    old_text = "alpha beta gamma delta epsilon zeta"
    new_text = "aaaa bbbb cccc dddd eeee ffff"  # lexically SMALLER
    store_docs = spark.createDataFrame(
        [
            (1, old_text, "run:0001"),
            (1, new_text, "run:0002"),  # latest delivery, changed text
        ],
        "doc_id bigint, text string, _src_batch string",
    )
    # the banded store reflects the latest content (as the streaming
    # appender would have written it)
    store_banded = minhash_banded(
        store_docs.filter(F.col("_src_batch") == "run:0002").select(
            "doc_id", "text"
        )
    )
    batch = spark.createDataFrame(
        [(100, new_text)], "doc_id bigint, text string"
    )
    pairs = minhash_store_probe(
        batch, store_banded, store_docs, jaccard_threshold=0.9
    ).collect()
    # identical to the LATEST text -> jaccard 1.0; had max(text)
    # picked the old row, jaccard would be 0 and no pair would pass
    assert [(r.batch_id, r.store_id) for r in pairs] == [(100, 1)]
    assert pairs[0].jaccard == 1.0


def test_inverted_append_txn_replay_commits_nothing(spark, tmp_path):
    """Exactly-once index ingest: the same batch appended twice under
    one txn key lands ONCE (the replay finds its txn in the log and
    commits nothing)."""
    path = str(tmp_path / "inv")
    docs = _docs(spark)
    inverted_build(docs.filter(F.col("doc_id") < 100), path, n_buckets=8)
    day2 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 130))
    inverted_append(day2, path, txn=("ing", 1))
    n1 = read_doclens(spark, path).count()
    inverted_append(day2, path, txn=("ing", 1))  # at-least-once replay
    assert read_doclens(spark, path).count() == n1 == 130


def test_inverted_append_keeps_postings_unique(spark, tmp_path):
    """The (term, doc_id)-uniqueness invariant of the postings — what
    maxsim_multi_probe's count(*) candidate rule relies on: build,
    append NEW documents, replay one append under the same txn; every
    (term, doc_id) pair appears exactly once."""
    path = str(tmp_path / "inv")
    docs = _docs(spark)
    inverted_build(docs.filter(F.col("doc_id") < 100), path, n_buckets=8)
    inverted_append(
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 130)),
        path,
        txn=("ing", 1),
    )
    day3 = docs.filter((F.col("doc_id") >= 130) & (F.col("doc_id") < 160))
    inverted_append(day3, path, txn=("ing", 2))
    inverted_append(day3, path, txn=("ing", 2))  # replay
    posts = read_postings(spark, path)
    assert posts.select("doc_id").distinct().count() == 160
    assert posts.count() == posts.select("term", "doc_id").distinct().count()


def test_inverted_ingest_stream_exactly_once_on_tlog_layout(
    spark, tmp_path
):
    """The streaming ingest pipeline passes (run id, batch id) txn
    keys on transactional layouts — streamed layout == one-shot batch
    append, and the commit log shows every batch exactly once."""
    from cnc_visionsearch_spark.streaming.pipelines import (
        inverted_ingest_stream,
    )

    docs = _docs(spark)
    path = str(tmp_path / "inv")
    inverted_build(docs.filter(F.col("doc_id") < 100), path, n_buckets=8)
    stream_dir = str(tmp_path / "in")
    docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 160)
    ).coalesce(2).write.parquet(stream_dir)
    q = inverted_ingest_stream(
        spark,
        stream_dir,
        path,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert read_doclens(spark, path).count() == 160
    got = (
        bm25_probe(spark, path, ["vector", "scan"])
        .orderBy(F.col("score_q").desc(), "doc_id")
        .collect()
    )
    # one-shot twin over the same final corpus
    ref = str(tmp_path / "ref")
    inverted_build(docs.filter(F.col("doc_id") < 160), ref, n_buckets=8)
    want = (
        bm25_probe(spark, ref, ["vector", "scan"])
        .orderBy(F.col("score_q").desc(), "doc_id")
        .collect()
    )
    assert got == want
    # every committed append carries its txn (exactly-once evidence)
    txns = [
        h["txn"] for h in TLog(path).history() if h["txn"] is not None
    ]
    assert len(txns) == len({(t["app"], t["seq"]) for t in txns}) >= 1


def test_shard_ingest_stream_exactly_once_on_tlog_layout(spark, tmp_path):
    """r11: the shard tier's streaming ingest twin (shard_ingest_stream)
    passes (run id, batch id) txn keys on transactional layouts —
    streamed layout == one-shot batch build over the same corpus, every
    committed batch appears exactly once in the log, and pre-existing
    data files survive byte-identical."""
    import hashlib

    from cnc_visionsearch_spark.operators.ann import (
        shard_build,
        sharded_topk_persisted,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.streaming.pipelines import shard_ingest_stream

    emb = with_normalized(load_table(spark, SF, "embeddings"))
    path = str(tmp_path / "sh")
    shard_build(
        emb.filter(F.col("vec_id") < 300), path, num_shards=4, use_tlog=True
    )

    def md5s():
        out = {}
        for dp, _d, fs in os.walk(os.path.join(path, "data")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(dp, f)
                    with open(p, "rb") as fh:
                        out[p] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = md5s()
    stream_dir = str(tmp_path / "in")
    load_table(spark, SF, "embeddings").filter(
        F.col("vec_id") >= 300
    ).coalesce(2).write.parquet(stream_dir)
    q = shard_ingest_stream(
        spark,
        stream_dir,
        path,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    after = md5s()
    for p, digest in before.items():
        assert after.get(p) == digest  # resident files byte-identical
    # probe over the streamed-into layout == one-shot build twin
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 301).first()["nvec"]
    ]
    ref = str(tmp_path / "ref")
    shard_build(emb, ref, num_shards=4, use_tlog=True)
    got = sharded_topk_persisted(spark, path, qv, k=10).collect()
    want = sharded_topk_persisted(spark, ref, qv, k=10).collect()
    assert got == want
    assert got[0].vec_id == 301 and got[0].distance == 0.0
    # every committed append carries its txn exactly once
    txns = [h["txn"] for h in TLog(path).history() if h["txn"] is not None]
    assert len(txns) == len({(t["app"], t["seq"]) for t in txns}) >= 1


def test_inverted_concurrent_mixed_workload_serializes(spark, tmp_path):
    """Torture the arbitration with REAL threads: four appenders
    (disjoint doc ranges), two deleters, and a vacuum+compact loop all
    racing on one transactional layout. Whatever the interleave, the
    final state must equal the serial outcome: every appended doc
    present exactly once, every deleted doc gone everywhere, no torn
    reads (the probe at the end equals a from-scratch build over the
    surviving docs)."""
    import threading

    from cnc_visionsearch_spark.sources.tlog import run_transaction

    path = str(tmp_path / "inv")
    docs = _docs(spark)
    inverted_build(docs.filter(F.col("doc_id") < 100), path, n_buckets=8)
    ranges = [(100, 130), (130, 160), (160, 190), (190, 220)]
    deletes = [[3, 17], [105, 42]]
    errs: list = []

    def appender(lo, hi):
        try:
            inverted_append(
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                path,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def deleter(ids):
        try:
            inverted_delete(spark, path, ids)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def maintainer():
        try:
            run_transaction(
                lambda: inverted_vacuum(spark, path), max_retries=20
            )
            run_transaction(
                lambda: inverted_compact(spark, path), max_retries=20
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = (
        [threading.Thread(target=appender, args=r) for r in ranges]
        + [threading.Thread(target=deleter, args=(d,)) for d in deletes]
        + [threading.Thread(target=maintainer)]
    )
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errs
    # final maintenance pass applies any tombstones the racing vacuum
    # legitimately missed (deletes that landed after its snapshot)
    run_transaction(lambda: inverted_vacuum(spark, path), max_retries=20)
    deleted = {i for d in deletes for i in d}
    expect = set(range(220)) - deleted
    ids = {r[0] for r in read_doclens(spark, path).select("doc_id").collect()}
    assert ids == expect
    dl = read_doclens(spark, path)
    assert dl.count() == dl.select("doc_id").distinct().count()
    got = (
        bm25_probe(spark, path, ["vector", "scan"])
        .orderBy(F.col("score_q").desc(), "doc_id")
        .collect()
    )
    ref = str(tmp_path / "ref")
    inverted_build(
        docs.filter(F.col("doc_id") < 220).filter(
            ~F.col("doc_id").isin(sorted(deleted))
        ),
        ref,
        n_buckets=8,
    )
    want = (
        bm25_probe(spark, ref, ["vector", "scan"])
        .orderBy(F.col("score_q").desc(), "doc_id")
        .collect()
    )
    assert got == want


# ---------------------------------------------------------------- NSW graph
# The graph tier under the log: nsw_build lays the edge table down as
# ONE init commit with src_bucket conflict domains, appends are blind
# commits, nsw_compact is a rewrite commit over the touched buckets.
# Searches are checked against a pure-Python replay over the exact
# top-m graph (the same sequential distance fold, so ties break alike).


def _py_graph(vecs: dict, m: int, nodes=None) -> dict:
    """Exact top-``m`` neighbor lists (ties by dst) over ``nodes``."""
    import numpy as np

    from cnc_visionsearch_spark.operators.ann import _seq_l2_sq

    ids = sorted(nodes if nodes is not None else vecs)
    mat = np.array([vecs[i] for i in ids])
    adj = {}
    for n, src in enumerate(ids):
        # numpy preselects, the sequential fold decides (bit-exact)
        approx = ((mat - mat[n]) ** 2).sum(axis=1)
        cand = [ids[j] for j in np.argsort(approx)[: m + 8] if ids[j] != src]
        exact = sorted((_seq_l2_sq(vecs[src], vecs[d]), d) for d in cand)
        adj[src] = [d for _, d in exact[:m]]
    return adj


def _py_beam(dist, adj: dict, seeds: dict, k: int, ef: int, hops: int):
    """nsw_search's beam: expand every beam node, keep the top-ef by
    (distance, id), stop at the fixpoint."""
    beam = dict(sorted(seeds.items(), key=lambda kv: (kv[1], kv[0]))[:ef])
    for _ in range(hops):
        ids = sorted(beam)
        for s in ids:
            for d in adj.get(s, ()):
                beam.setdefault(d, dist(d))
        nxt = dict(sorted(beam.items(), key=lambda kv: (kv[1], kv[0]))[:ef])
        beam = nxt
        if sorted(nxt) == ids:
            break
    return sorted(beam.items(), key=lambda kv: (kv[1], kv[0]))[:k]


def _vec_map(emb) -> dict:
    return {
        int(r["vec_id"]): [float(x) for x in r["nvec"]] for r in emb.collect()
    }


def test_nsw_tlog_mode_invariant_search_and_blind_append(spark, tmp_path):
    """An NSW layout serves beam searches BIT-IDENTICAL to a pure-Python
    replay over the exact top-m graph, and appends land as blind
    commits: resident edge files stay byte-identical, appended nodes
    reachable."""
    import os

    from cnc_visionsearch_spark.operators.ann import _seq_l2_sq
    from cnc_visionsearch_spark.operators.graph_ann import (
        nsw_append,
        nsw_build,
        nsw_search,
    )

    emb = _emb(spark).filter(F.col("vec_id") < 200)
    vecs = _vec_map(emb)
    q = vecs[5]
    tl = str(tmp_path / "tl")
    nsw_build(emb, tl, m=6, n_buckets=8, n_entries=2)
    got = nsw_search(spark, tl, q, k=10, ef=16, hops=4)

    def dist(i):
        return _seq_l2_sq(vecs[i], q)

    entries = {i: dist(i) for i in sorted(vecs)[:2]}
    want = _py_beam(dist, _py_graph(vecs, 6), entries, k=10, ef=16, hops=4)
    assert got == want and got

    def sig(root):
        out = {}
        for r, _d, fs in os.walk(os.path.join(root, "data")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = sig(tl)
    new = spark.createDataFrame(
        [(10_000, q)], "vec_id bigint, nvec array<double>"
    )
    nsw_append(spark, tl, new)
    after = sig(tl)
    assert set(before) <= set(after) and len(after) > len(before)
    for p, s in before.items():
        assert after[p] == s  # resident files byte-untouched
    ids = [i for i, _ in nsw_search(spark, tl, q, k=5, ef=16, hops=4)]
    assert 10_000 in ids
    t = TLog(tl)
    ops = [t._read_commit(v)["op"] for v in t._versions()]
    assert ops.count("append") >= 2  # init commit + the blind append


def test_nsw_tlog_compact_racing_append_conflicts_and_recomputes(
    spark, tmp_path, monkeypatch
):
    """An append landing inside nsw_compact's read->commit window makes
    the compact raise TLogConflictError (overlapping src_bucket
    domains); run_transaction recomputes against the new snapshot and
    the final graph holds the racing edges — nothing lost."""
    from collections import Counter

    from cnc_visionsearch_spark.operators.graph_ann import (
        nsw_append,
        nsw_build,
        nsw_compact,
        nsw_search,
    )

    emb = _emb(spark)
    path = str(tmp_path / "tl")
    nsw_build(
        emb.filter(F.col("vec_id") < 300), path, m=6, n_buckets=8, n_entries=2
    )
    nsw_append(
        spark,
        path,
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 305)),
    )  # buckets now hold >1 file: the compact has work to declare
    racing = emb.filter((F.col("vec_id") >= 305) & (F.col("vec_id") < 308))
    state = _inject_before_first_rewrite(
        monkeypatch, lambda: nsw_append(spark, path, racing)
    )
    with pytest.raises(TLogConflictError):
        nsw_compact(spark, path)
    assert not state["armed"]  # the race actually fired
    run_transaction(lambda: nsw_compact(spark, path))
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 306).first()["nvec"]
    ]
    ids = [i for i, _ in nsw_search(spark, path, qv, k=5, ef=16, hops=4)]
    assert 306 in ids  # racing append survived the recomputed compact
    cnt = Counter(
        b
        for _p, b in TLog(path).snapshot().files
        if b is not None and b < 8
    )
    assert cnt and max(cnt.values()) == 1  # every bucket settled to 1 file


def test_tlog_graph_builds_validate_conflict_domain_bounds(spark, tmp_path):
    """r10 advice: the (layer, bucket) conflict-domain tag is
    layer * TLOG_HNSW_LAYER_STRIDE + bucket, so n_buckets >= STRIDE
    silently aliases tags ACROSS layers (wrong pruning, wrong
    append/compact conflict domains). The invariant was docstring
    prose; it is now a loud ValueError before any file is written.
    Same for NSW's reserved entries tag."""
    from cnc_visionsearch_spark.operators.graph_ann import (
        TLOG_HNSW_LAYER_STRIDE,
        TLOG_NSW_ENTRIES_TAG,
        hnsw_build,
        nsw_build,
    )

    emb = _emb(spark).limit(10)
    hp = str(tmp_path / "h")
    with pytest.raises(ValueError, match="TLOG_HNSW_LAYER_STRIDE"):
        hnsw_build(emb, hp, n_buckets=TLOG_HNSW_LAYER_STRIDE)
    np_ = str(tmp_path / "n")
    with pytest.raises(ValueError, match="entries conflict-domain tag"):
        nsw_build(emb, np_, n_buckets=TLOG_NSW_ENTRIES_TAG)
    from cnc_visionsearch_spark.operators.ann import (
        TLOG_TAG_STRIDE_GAP,
        shard_build,
    )

    sp = str(tmp_path / "s")
    with pytest.raises(ValueError, match="reserved tag stride gap"):
        shard_build(emb, sp, num_shards=TLOG_TAG_STRIDE_GAP, use_tlog=True)
    # the refusal wrote NOTHING: no tlog dir, no partial layout
    import os as _os

    assert not _os.path.exists(_os.path.join(hp, "_tlog"))
    assert not _os.path.exists(_os.path.join(np_, "_tlog"))


def _py_hnsw_search(vecs, q, m, m_upper, mult, max_level, k, ef, hops, upper_hops):
    """Pure-Python hnsw_search over the exact layered graph: hash-level
    pyramid, greedy upper-layer descent from the (max level, min id)
    entry, then the layer-0 beam."""
    import hashlib

    from cnc_visionsearch_spark.operators.ann import _seq_l2_sq

    def level(i):
        u = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return max([0] + [l for l in range(1, max_level + 1) if u % mult**l == 0])

    lv = {i: level(i) for i in vecs}
    adj = {
        l: _py_graph(
            vecs, m if l == 0 else m_upper, [i for i in vecs if lv[i] >= l]
        )
        for l in range(max_level + 1)
    }

    def dist(i):
        return _seq_l2_sq(vecs[i], q)

    cur = min(vecs, key=lambda i: (-lv[i], i))
    cur_d = dist(cur)
    for layer in range(min(max_level, lv[cur]), 0, -1):
        for _ in range(upper_hops):
            best_d, best = min(
                [(cur_d, cur)] + [(dist(d), d) for d in adj[layer].get(cur, ())]
            )
            if best == cur:
                break
            cur, cur_d = best, best_d
    return _py_beam(dist, adj[0], {cur: cur_d}, k=k, ef=ef, hops=hops)


def test_hnsw_tlog_mode_invariant_and_meta_entry_promotion(
    spark, tmp_path
):
    """HNSW descend == a pure-Python replay over the exact layered
    graph bit-for-bit; an append whose node out-levels the entry
    PROMOTES it through a meta-key commit (read-modify-write serialized
    by base_version), and hnsw_compact settles every (layer, bucket)
    domain to one file with results unchanged."""
    from collections import Counter

    from cnc_visionsearch_spark.operators.graph_ann import (
        hnsw_append,
        hnsw_build,
        hnsw_compact,
        hnsw_level_col,
        hnsw_search,
    )

    emb = _emb(spark)
    lv = emb.select(
        "vec_id", "nvec", hnsw_level_col("vec_id", 8, 3).alias("level")
    )
    base = lv.filter((F.col("level") <= 1) & (F.col("vec_id") < 250)).select(
        "vec_id", "nvec"
    )
    hi = (
        lv.filter(F.col("level") >= 2)
        .orderBy("vec_id")
        .limit(1)
        .first()
    )
    assert hi is not None, "fixture has no level>=2 node"
    tl = str(tmp_path / "tl")
    hnsw_build(
        base, tl, m=6, m_upper=4, level_mult=8, max_level=3, n_buckets=8
    )
    vecs = _vec_map(base)
    q = vecs[min(vecs)]
    got = hnsw_search(spark, tl, q, k=10, ef=16, hops=4, upper_hops=2)
    want = _py_hnsw_search(
        vecs, q, m=6, m_upper=4, mult=8, max_level=3,
        k=10, ef=16, hops=4, upper_hops=2,
    )
    assert got == want and got
    hv = [float(x) for x in hi["nvec"]]
    newbie = spark.createDataFrame(
        [(int(hi["vec_id"]), hv)], "vec_id bigint, nvec array<double>"
    )
    hnsw_append(spark, tl, newbie)
    # the promotion landed as commit meta, not a directory swap
    ent = TLog(tl).snapshot().meta["entry"]
    assert int(ent["vec_id"]) == int(hi["vec_id"])
    assert int(ent["level"]) >= 2
    a2 = hnsw_search(spark, tl, hv, k=10, ef=16, hops=4, upper_hops=2)
    assert a2[0] == (int(hi["vec_id"]), 0.0)  # the new entry is found
    # compact: every domain settles to one live file, results unchanged
    run_transaction(lambda: hnsw_compact(spark, tl))
    assert hnsw_search(spark, tl, hv, k=10, ef=16, hops=4, upper_hops=2) == a2
    cnt = Counter(b for _p, b in TLog(tl).snapshot().files if b is not None)
    assert cnt and max(cnt.values()) == 1
