"""The benchmark's workloads, ``serve`` and ``pipeline``. README.md
says why each exists and which layers it reaches.

Each workload makes its inputs from the run's seeded generator (not
timed), sets up (timed into ``setup_s``), measures for ``--seconds``
and checks every answer against perfbench/oracles.py. An exception or
a failed check counts as a failed operation. Engine modules are
imported where they are used, so importing this module needs only
numpy.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, oracles

SIZES = {
    "full": {"serve_vectors": 600, "pipeline_rows": 15000, "pipeline_delta": 150, "pipeline_warm": 400},
    "tiny": {"serve_vectors": 120, "pipeline_rows": 600, "pipeline_delta": 40, "pipeline_warm": 200},
}

N_CELLS = 16
K = 10
SERVE_CLIENTS = 2
# serve's warm-up, in request blocks: CPU per request falls by about a
# third over the first few blocks of a JVM's life, while the JIT
# compiles the request paths
WARM_BLOCKS = 2
# IVF probes sent after serve's measured window, so that recall rests on
# at least this many queries in every run, however few the window held
RECALL_PROBES = 32
MINHASH_THRESHOLD = 0.3  # operators.dedup.minhash_lsh_pairs default
MIN_DEDUP_RECALL = 0.5
EMBED_DIM = gen.DIM


@dataclass
class Run:
    """One process's run: session, tracer, private root, counters."""

    spark: object
    tracer: object
    root: str
    rng: np.random.Generator
    seconds: float
    sizes: dict
    setup_s: float
    attempted: int = 0
    failed: int = 0
    lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def setup(self):
        t0 = time.perf_counter()
        yield
        self.setup_s += time.perf_counter() - t0

    def outcome(self, err: str | None) -> None:
        with self.lock:
            self.attempted += 1
            if err:
                self.failed += 1
                if self.failed <= 5:
                    print(f"perfbench: FAILED {err}", file=sys.stderr)

    def attempt(self, fn):
        """Run ``fn``; an exception counts as a failed operation and
        returns None."""
        try:
            return fn()
        except Exception as exc:  # one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            self.outcome(f"{type(exc).__name__}: {exc}"[:300])
            return None


def du(*paths: str) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def bytes_written_since(t_ns: int, *paths: str) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                st = os.stat(os.path.join(d, f))
                if st.st_mtime_ns >= t_ns:
                    total += st.st_size
    return total


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the JVM and Spark's Python workers), each including its
    reaped children."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:  # exited while listing
                continue
            rest = s[s.rfind(")") + 2 :].split()
            stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s() -> float:
    """CPU seconds of the JVM's JIT compiler threads. The session keeps
    them alive (-XX:-UseDynamicNumberOfCompilerThreads), so a reading
    at the start and one at the end of a window give their share of
    the window."""
    from pyspark import SparkContext

    task_dir = f"/proc/{SparkContext._gateway.proc.pid}/task"
    total = 0
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as f:
                comm = f.read()
            with open(f"{task_dir}/{tid}/stat") as f:
                s = f.read()
        except OSError:  # exited while listing
            continue
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            rest = s[s.rfind(")") + 2 :].split()
            total += int(rest[11]) + int(rest[12])
    return total / os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU spent in a window by the process tree, and the JIT compiler's
    share of it. The JIT keeps compiling while requests run (Spark
    generates classes for each new plan), so its share is part of what
    an operation costs; the traced run reports it on its own."""

    def __init__(self):
        self.tree0, self.jit0 = tree_cpu_s(), jit_cpu_s()

    def read(self) -> tuple[float, float]:
        """(all, JIT) CPU seconds since the meter started."""
        return tree_cpu_s() - self.tree0, jit_cpu_s() - self.jit0


def jobs_started(spark) -> int:
    """Spark jobs submitted so far (the scheduler numbers them 0, 1, 2,
    ... in submit order)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def unit_list(vec) -> list[float]:
    return [float(v) for v in oracles.normalize(vec)]


def tlog_stats(paths: list[str]) -> dict[str, float]:
    """Commits since the last checkpoint and live files, summed over
    the transactional tables at ``paths``."""
    from cnc_visionsearch_spark.sources.tlog import TLog

    commits = files = 0
    for p in paths:
        t = TLog(p)
        commits += t.latest_version() - t._last_checkpoint_version()
        files += len(t.snapshot().files)
    return {"tlog.commits_since_checkpoint": float(commits), "tlog.live_files": float(files)}


# ---------------------------------------------------------------------------
# serve: exact search, IVF, HNSW, BM25 and one registered query
# ---------------------------------------------------------------------------


class Tiers:
    def __init__(self, run: Run, n: int):
        self.run = run
        x, labels = gen.vectors(run.rng, n)
        self.docs = gen.texts(run.rng, n)
        self.stream = gen.request_stream(run.rng, x, 20000)
        self.recall_probes = [gen.Request("ivf_probe", vec=v) for v in gen.noisy_copies(run.rng, x, RECALL_PROBES)]
        self.sf = os.path.join(run.root, "sf")
        gen.write_sf_dir(self.sf, x, labels, self.docs)
        self.user_bytes = x.nbytes + sum(len(t.encode()) for t in self.docs)
        self.vo = oracles.VectorOracle(x)
        self.bo = oracles.Bm25Oracle(self.docs)
        art = os.path.join(run.root, "artifacts")
        self.dirs = [os.path.join(art, d) for d in ("ivf", "hnsw", "inverted")]
        self.registry_fn = None
        self.registry_answer = None
        self.recalls: dict[str, list[float]] = {}
        self.answers: list = []
        self.latencies: dict[str, list[float]] = {}

    def registry_oracle(self):
        """The registered query's DuckDB oracle over the generated
        tables, computed outside set-up."""
        import duckdb

        from cnc_visionsearch_spark.registry import all_oracles

        con = duckdb.connect()
        try:
            for t in ("embeddings", "documents"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            res = con.sql(all_oracles()["knn_search_with_metadata"])
            return [d[0] for d in res.description], res.fetchall()
        finally:
            con.close()

    def build(self) -> None:
        from cnc_visionsearch_spark.operators import ann, graph_ann, text_index
        from cnc_visionsearch_spark.operators.knn import with_normalized
        from cnc_visionsearch_spark.registry import all_queries
        from cnc_visionsearch_spark.sources.catalog import load_table

        spark, tr = self.run.spark, self.run.tracer
        self.registry_fn = all_queries()["knn_search_with_metadata"]
        emb = with_normalized(load_table(spark, self.sf, "embeddings")).select("vec_id", "nvec")
        docs = load_table(spark, self.sf, "documents").select("doc_id", "text")
        ivf, hnsw, inv = self.dirs
        with tr.span("ann.ivf_build"):
            ann.ivf_build(emb, ivf, n_cells=N_CELLS, use_tlog=True)
        with tr.span("text_index.inverted_build"):
            text_index.inverted_build(docs, inv, use_tlog=True)
        with tr.span("graph_ann.hnsw_build"):
            graph_ann.hnsw_build(emb, hnsw, use_tlog=True)

    def call(self, req: gen.Request):
        """One request; returns (answer, executed DataFrame or None)."""
        spark, tr = self.run.spark, self.run.tracer
        ivf, hnsw, inv = self.dirs
        if req.kind == "search_drawing":
            from cnc_visionsearch_spark import service

            with tr.span("service.search_drawing"):
                df = service.search_drawing(spark, self.sf, [float(v) for v in req.vec], top_k=K)
                rows = df.collect()
            return [(int(r["str_id"][4:]), float(r["distance"])) for r in rows], df
        if req.kind == "ivf_probe":
            from cnc_visionsearch_spark.operators import ann

            with tr.span("ann.ivf_probe"):
                with tr.span("ann.ivf_probe.construct"):
                    df = ann.ivf_probe(spark, ivf, unit_list(req.vec), k=K)
                with tr.span("ann.ivf_probe.execute"):
                    rows = df.collect()
            return [(int(r["vec_id"]), float(r["distance"])) for r in rows], df
        if req.kind == "hnsw_search":
            from cnc_visionsearch_spark.operators import graph_ann

            with tr.span("graph_ann.hnsw_search"):
                hits = graph_ann.hnsw_search(spark, hnsw, unit_list(req.vec), k=K)
            return [(int(i), float(d)) for i, d in hits], None
        if req.kind == "bm25_probe":
            from pyspark.sql import functions as F

            from cnc_visionsearch_spark.operators import text_index

            with tr.span("text_index.bm25_probe"):
                with tr.span("text_index.bm25_probe.construct"):
                    df = (
                        text_index.bm25_probe(spark, inv, req.terms)
                        .orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
                        .limit(K)
                    )
                with tr.span("text_index.bm25_probe.execute"):
                    rows = df.collect()
            return [(int(r["doc_id"]), int(r["n_terms"]), int(r["score_q"])) for r in rows], df
        if req.kind == "registry_knn":
            with tr.span("registry.knn_search_with_metadata"):
                df = self.registry_fn(spark, self.sf)
                rows = df.collect()
            return (df.columns, [tuple(r) for r in rows]), df
        raise ValueError(f"unknown request kind {req.kind!r}")

    def check(self, req: gen.Request, ans) -> str | None:
        if req.kind == "search_drawing":
            return oracles.check_exact(ans, self.vo, req.vec, K)
        if req.kind in ("ivf_probe", "hnsw_search"):
            return oracles.check_ann(ans, self.vo, req.vec, K)
        if req.kind == "bm25_probe":
            return oracles.check_bm25(ans, self.bo, req.terms, K)
        return oracles.check_registry(*ans, *self.registry_answer)

    def handle(self, rid: int, req: gen.Request) -> None:
        """One client request, timed from the client. Its answer is
        kept for :meth:`check_answers` after the measured window."""
        run = self.run

        def go():
            with run.tracer.span(f"request.{req.kind}", rid):
                return self.call(req)

        t0 = time.perf_counter()
        out = run.attempt(go)
        ms = (time.perf_counter() - t0) * 1000.0
        if out is None:
            return
        ans, df = out
        if df is not None:
            run.tracer.catalyst(df, rid)
        with run.lock:
            self.latencies.setdefault(req.kind, []).append(ms)
            self.answers.append((req, ans))

    def check_answers(self, answers: list, recalls: bool) -> None:
        """Check each (request, answer); with ``recalls``, also record
        the ANN tiers' recall@10."""
        for req, ans in answers:
            err = self.check(req, ans)
            self.run.outcome(err)
            if recalls and err is None and req.kind in ("ivf_probe", "hnsw_search"):
                self.recalls.setdefault(req.kind, []).append(
                    oracles.recall([i for i, _ in ans], self.vo, req.vec, K)
                )

    def send_all(self, requests) -> list:
        """Send ``requests`` through the serve clients, untimed; returns
        the requests and their answers, to check later."""
        done = []

        def go(rid, req):
            out = self.run.attempt(lambda: self.call(req))
            if out is not None:
                done.append((req, out[0]))

        closed_loop(SERVE_CLIENTS, enumerate(requests), go)
        return done

    def warm(self) -> list:
        """``WARM_BLOCKS`` blocks from the end of the stream, so the
        measured requests find no cold code path."""
        return self.send_all(self.stream[-WARM_BLOCKS * sum(gen.SERVE_BLOCK.values()) :])


def closed_loop(
    n_clients: int, requests, handle, deadline: float = float("inf"), block: int = 1
) -> tuple[float, int]:
    """``n_clients`` threads each send the next of the ``(rid,
    request)`` pairs once their previous one completed, until
    ``deadline`` (or the end of ``requests``), and then on to the end of
    the current block of ``block`` requests, so a run sends whole
    blocks. Returns the wall time from the first send to the last
    completion and the number of requests sent."""
    it = iter(requests)
    lock = threading.Lock()
    errors: list[BaseException] = []
    sent = 0

    def client():
        nonlocal sent
        try:
            while True:
                with lock:
                    if sent % block == 0 and time.perf_counter() >= deadline:
                        return
                    nxt = next(it, None)
                    if nxt is None:
                        return
                    sent += 1
                handle(*nxt)
        except BaseException as exc:  # re-raised after join
            errors.append(exc)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return time.perf_counter() - t0, sent


def serve(run: Run) -> dict:
    tiers = Tiers(run, run.sizes["serve_vectors"])
    with run.setup():
        tiers.build()
    tiers.registry_answer = tiers.registry_oracle()
    with run.setup():
        warm = tiers.warm()
    tiers.check_answers(warm, recalls=False)
    t_measure, meter, jobs0 = time.perf_counter(), CpuMeter(), jobs_started(run.spark)
    wall, sent = closed_loop(
        SERVE_CLIENTS, enumerate(tiers.stream), tiers.handle, t_measure + run.seconds, sum(gen.SERVE_BLOCK.values())
    )
    cpu_s, jit_s = meter.read()
    jobs = jobs_started(run.spark) - jobs0
    t_end = time.perf_counter()
    tiers.check_answers(tiers.answers + tiers.send_all(tiers.recall_probes), recalls=True)
    lat = [ms for v in tiers.latencies.values() for ms in v]
    recall = {k: statistics.fmean(tiers.recalls.get(k) or [0.0]) for k in ("ivf_probe", "hnsw_search")}
    return {
        "wall": {
            "latency_p50_ms": pct(lat, 50),
            "latency_p90_ms": pct(lat, 90),
            "throughput_per_s": len(lat) / wall,
        },
        "e2e": {
            "spark_jobs_per_op": jobs / sent,
            "recall": recall["ivf_probe"],
            "stored_bytes_per_user_byte": du(*tiers.dirs) / tiers.user_bytes,
        },
        "summary": {
            "search_p50_ms": pct(lat, 50),
            "search_p90_ms": pct(lat, 90),
            "searches": len(lat),
            "search_qps": len(lat) / wall,
            "cpu_ms_per_op": cpu_s * 1000.0 / sent,
            "jit_ms_per_op": jit_s * 1000.0 / sent,
            "ivf_recall_at_10": recall["ivf_probe"],
            "hnsw_recall_at_10": recall["hnsw_search"],
            **{f"{k}_p50_ms": pct(v, 50) for k, v in sorted(tiers.latencies.items())},
        },
        "layer": {
            **tlog_stats(tiers.dirs),
            "process.cpu_ms_per_op": cpu_s * 1000.0 / sent,
            "jvm.jit_ms_per_op": jit_s * 1000.0 / sent,
            "ann.ivf_probe.recall_at_10": recall["ivf_probe"],
            "graph_ann.hnsw_search.recall_at_10": recall["hnsw_search"],
        },
        "t_measure": t_measure,
        "t_end": t_end,
        "wall_s": wall,
        "ops": len(lat),
    }


# ---------------------------------------------------------------------------
# pipeline: batch build, then one day's incremental ingest
# ---------------------------------------------------------------------------


class BatchPass:
    """A batch pass over a stored corpus (Arrow-UDF embedding, exact
    dedup, MinHash near-duplicate pairs, IVF and inverted builds, the
    transactional id_mapping), then one delta batch merged and appended
    into those artifacts and compacted."""

    def __init__(self, run: Run, name: str, n: int, n_delta: int):
        import pandas as pd

        self.run = run
        self.corpus = gen.batch_corpus(run.rng, n)
        self.delta = gen.delta_batch(run.rng, n, n_delta)
        self.dir = os.path.join(run.root, name)
        c = self.corpus
        ids = np.arange(n, dtype=np.int64)
        gen.write_split(os.path.join(self.dir, "docs"), pd.DataFrame({"doc_id": ids, "text": c.docs}), 8)
        gen.write_split(os.path.join(self.dir, "media"), pd.DataFrame({"vec_id": ids, "payload": c.payloads}), 8)
        # the merge gives new str_ids dense ids MAX+1.. in str_id order
        # (main.py:129-131); the delta carries the vec_id that implies
        new = sorted(r[0] for r in self.delta if r[2] is not None)
        self.new_ids = {sid: n + i for i, sid in enumerate(new)}
        pd.DataFrame(
            {
                "str_id": [r[0] for r in self.delta],
                "text_content": [r[1] for r in self.delta],
                "vec_id": pd.array([self.new_ids.get(r[0]) for r in self.delta], dtype="Int64"),
                "payload": [r[2] for r in self.delta],
            }
        ).to_parquet(os.path.join(self.dir, "delta.parquet"), index=False)
        self.rows = 2 * n + n_delta
        self.user_bytes = sum(len(p) for p in c.payloads) + sum(len(t.encode()) for t in c.docs)
        self.user_bytes += sum(len(t.encode()) + len(p or b"") for _, t, p in self.delta)
        self.compacted_bytes = 0
        self.cpu_s = self.jit_s = 0.0
        self.jobs = 0
        self.last: str | None = None
        self.recall = float("nan")

    def run_pass(self, seq: int) -> tuple[str, list, list]:
        """One timed pass; returns its output directory, exact-duplicate
        groups and near-duplicate pairs."""
        from pyspark.sql import functions as F

        from cnc_visionsearch_spark.operators import ann, dedup, text_index
        from cnc_visionsearch_spark.operators.ingest import tlog_init_id_mapping, tlog_merge_upsert
        from cnc_visionsearch_spark.operators.knn import with_normalized
        from cnc_visionsearch_spark.operators.multimodal import fake_image_embedding
        from cnc_visionsearch_spark.sources.catalog import derive_id_mapping
        from cnc_visionsearch_spark.sources.tlog import TLog

        spark, tr = self.run.spark, self.run.tracer
        out = os.path.join(self.dir, f"out{seq}")
        embed = fake_image_embedding(EMBED_DIM)
        with tr.span("request.pass", seq):
            docs = spark.read.parquet(os.path.join(self.dir, "docs"))
            media = spark.read.parquet(os.path.join(self.dir, "media"))
            with tr.span("multimodal.fake_image_embedding"):
                media.select("vec_id", embed(F.col("payload")).alias("embedding")).write.parquet(
                    f"{out}/embeddings"
                )
            with tr.span("dedup.exact_dedup"):
                groups = dedup.exact_dedup(docs).filter(F.col("n_copies") > 1).collect()
            with tr.span("dedup.minhash_lsh_pairs"):
                pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=MINHASH_THRESHOLD).collect()
            emb = spark.read.parquet(f"{out}/embeddings")
            with tr.span("ann.ivf_build"):
                ann.ivf_build(
                    with_normalized(emb).select("vec_id", "nvec"), f"{out}/ivf", n_cells=N_CELLS, use_tlog=True
                )
            with tr.span("text_index.inverted_build"):
                text_index.inverted_build(docs, f"{out}/inverted", use_tlog=True)
            idmap = TLog(f"{out}/id_mapping")
            with tr.span("ingest.tlog_init_id_mapping"):
                tlog_init_id_mapping(idmap, derive_id_mapping(emb, docs))

            delta = spark.read.parquet(os.path.join(self.dir, "delta.parquet"))
            with tr.span("ingest.tlog_merge_upsert"):
                tlog_merge_upsert(idmap, delta.select("str_id", "text_content"))
            new = delta.filter(F.col("vec_id").isNotNull())
            with tr.span("ann.ivf_append"):
                new_emb = new.select("vec_id", embed(F.col("payload")).alias("embedding"))
                ann.ivf_append(spark, f"{out}/ivf", with_normalized(new_emb).select("vec_id", "nvec"))
            with tr.span("text_index.inverted_append"):
                text_index.inverted_append(
                    new.select(F.col("vec_id").alias("doc_id"), F.col("text_content").alias("text")),
                    f"{out}/inverted",
                )
            t_ns = time.time_ns()
            with tr.span("ann.ivf_vacuum"):
                ann.ivf_vacuum(spark, f"{out}/ivf")
            with tr.span("text_index.inverted_compact"):
                text_index.inverted_compact(spark, f"{out}/inverted")
        self.compacted_bytes = bytes_written_since(t_ns, f"{out}/ivf", f"{out}/inverted")
        return out, groups, pairs

    def check(self, out: str, groups, pairs) -> tuple[str | None, float]:
        """Outside the timed pass: exact groups, pair Jaccards, planted
        pair recall, a sample of embeddings, the built artifacts' row
        counts, and read-your-writes of the delta."""
        c = self.corpus
        pairs = [(int(r["id_a"]), int(r["id_b"]), float(r["jaccard"])) for r in pairs]
        rec = oracles.pair_recall(pairs, c.planted_pairs)
        groups = [(r["fingerprint"], r["keeper_id"], r["n_copies"]) for r in groups]
        err = (
            oracles.check_exact_dedup(groups, c.docs)
            or oracles.check_pairs(pairs, c.docs, MINHASH_THRESHOLD)
            or (None if rec >= MIN_DEDUP_RECALL else f"minhash: planted-pair recall {rec:.3f}")
            or self._check_artifacts(out)
            or self._read_your_writes(out)
        )
        return err, rec

    def _check_artifacts(self, out: str) -> str | None:
        from pyspark.sql import functions as F

        from cnc_visionsearch_spark.operators.ann import read_cells
        from cnc_visionsearch_spark.operators.text_index import read_doclens

        spark, c = self.run.spark, self.corpus
        sample = spark.read.parquet(f"{out}/embeddings").filter(F.col("vec_id") % 97 == 0).collect()
        err = oracles.check_embeddings(
            [(int(r["vec_id"]), list(r["embedding"])) for r in sample], c.payloads, EMBED_DIM
        )
        if err:
            return err
        n_vec = read_cells(spark, f"{out}/ivf").count()
        n_doc = read_doclens(spark, f"{out}/inverted").count()
        want = len(c.docs) + len(self.new_ids)
        if (n_vec, n_doc) != (want, want):
            return f"pipeline: artifacts hold {n_vec} vectors / {n_doc} docs, want {want}"
        return None

    def _read_your_writes(self, out: str) -> str | None:
        """The delta must be visible: merged id_mapping rows, its new
        vectors in their own IVF probe, its drawing numbers in BM25."""
        from pyspark.sql import functions as F

        from cnc_visionsearch_spark.operators import ann, text_index
        from cnc_visionsearch_spark.operators.ingest import ID_MAPPING_SCHEMA
        from cnc_visionsearch_spark.sources.tlog import TLog

        spark, tr = self.run.spark, self.run.tracer
        idmap = TLog(f"{out}/id_mapping")
        with tr.span("tlog.snapshot"):
            snap = idmap.snapshot()
        sids = [r[0] for r in self.delta]
        rows = idmap.read(spark, snap, schema=ID_MAPPING_SCHEMA).filter(F.col("str_id").isin(sids)).collect()
        got = {r["str_id"]: (int(r["faiss_id"]), r["text_content"]) for r in rows}
        want = {
            sid: (self.new_ids[sid] + 1 if sid in self.new_ids else int(sid[4:]) + 1, text)
            for sid, text, _ in self.delta
        }
        err = oracles.check_id_mapping(got, want)
        if err:
            return err
        sid, _, payload = next(r for r in self.delta if r[2] is not None)
        vec = oracles.fake_embedding(payload, EMBED_DIM)
        hits = [int(r["vec_id"]) for r in ann.ivf_probe(spark, f"{out}/ivf", unit_list(vec), k=K).collect()]
        if self.new_ids[sid] not in hits:
            return f"read-your-writes: vector {self.new_ids[sid]} not in its own IVF probe"
        news = [(s, t) for s, t, p in self.delta if p is not None][:16]
        terms = [t.rsplit(" ", 1)[1] for _, t in news]
        found = {int(r["doc_id"]) for r in text_index.bm25_probe(spark, f"{out}/inverted", terms).collect()}
        if found != {self.new_ids[s] for s, _ in news}:
            return f"read-your-writes: drawing numbers matched docs {sorted(found)[:5]}"
        return None

    def timed_pass(self, seq: int) -> tuple | None:
        """Run and time one pass; sets its CPU seconds and job count and
        returns its wall seconds and output, or None when it raised."""
        t0, meter, jobs0 = time.perf_counter(), CpuMeter(), jobs_started(self.run.spark)
        done = self.run.attempt(lambda: self.run_pass(seq))
        wall = time.perf_counter() - t0
        self.cpu_s, self.jit_s = meter.read()
        self.jobs = jobs_started(self.run.spark) - jobs0
        return None if done is None else (wall, done)

    def check_pass(self, done: tuple) -> None:
        """Check a pass's output, untimed; it becomes the last output."""
        checked = self.run.attempt(lambda: self.check(*done))
        if checked is not None:
            err, self.recall = checked
            self.run.outcome(err)
        if self.last is not None:
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = done[0]


def pipeline(run: Run) -> dict:
    sz = run.sizes
    warm = BatchPass(run, "warm", sz["pipeline_warm"], sz["pipeline_delta"] // 4)
    main = BatchPass(run, "main", sz["pipeline_rows"], sz["pipeline_delta"])
    with run.setup():
        warmed = warm.timed_pass(0)
    if warmed is not None:
        warm.check_pass(warmed[1])
    shutil.rmtree(warm.dir, ignore_errors=True)
    walls, cpus, jits, jobs, recalls, compacted, seq, took = [], [], [], [], [], [], 0, 0.0
    t_measure = time.perf_counter()
    # whole passes only: another starts if the last one's time still fits
    while seq == 0 or time.perf_counter() + took <= t_measure + run.seconds:
        t0 = time.perf_counter()
        timed = main.timed_pass(seq)
        if timed is not None:
            wall, done = timed
            main.check_pass(done)
            walls.append(wall)
            cpus.append(main.cpu_s)
            jits.append(main.jit_s)
            jobs.append(main.jobs)
            recalls.append(main.recall)
            compacted.append(main.compacted_bytes)
        took = time.perf_counter() - t0
        seq += 1
    rate = main.rows * len(walls) / sum(walls) if walls else float("nan")
    return {
        "wall": {
            "latency_p50_ms": pct(walls, 50) * 1000.0 if walls else float("nan"),
            "latency_p90_ms": pct(walls, 90) * 1000.0 if walls else float("nan"),
            "throughput_per_s": rate,
        },
        "e2e": {
            "spark_jobs_per_op": float(statistics.median(jobs)) if jobs else float("nan"),
            "recall": statistics.fmean(recalls) if recalls else float("nan"),
            "stored_bytes_per_user_byte": du(main.last) / main.user_bytes if walls else float("nan"),
        },
        "summary": {
            "pass_ms": pct(walls, 50) * 1000.0 if walls else float("nan"),
            "pipeline_rows_per_s": rate,
            "cpu_ms_per_op": statistics.median(cpus) * 1000.0 if cpus else float("nan"),
            "jit_ms_per_op": statistics.median(jits) * 1000.0 if jits else float("nan"),
            "pipeline_input_rows": main.rows,
            "passes": len(walls),
            "dedup_recall": statistics.fmean(recalls) if recalls else float("nan"),
            "planted_pairs": len(main.corpus.planted_pairs),
        },
        "layer": {
            **(tlog_stats([f"{main.last}/{d}" for d in ("ivf", "inverted", "id_mapping")]) if walls else {}),
            "compaction.bytes_rewritten": float(statistics.median(compacted)) if compacted else 0.0,
            "process.cpu_ms_per_op": statistics.median(cpus) * 1000.0 if cpus else 0.0,
            "jvm.jit_ms_per_op": statistics.median(jits) * 1000.0 if jits else 0.0,
        },
        "t_measure": t_measure,
        "wall_s": sum(walls),
        "ops": len(walls),
    }


WORKLOADS = {"serve": serve, "pipeline": pipeline}
