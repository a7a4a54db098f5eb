"""Independent output checks. Each ``check_*`` returns ``None`` when
the program's answer is right and a one-line reason when it is not;
the workloads count a reason as a failed operation.

The references here share no code with the program: numpy brute
force for the vector tiers, a pure-Python BM25 over the same
whitespace tokenization, Python shingle sets for MinHash pairs, and
hashlib for fingerprints and the fake embedding.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

DIST_TOL = 1e-5


def normalize(x: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization in float64 (reference main.py:87)."""
    x = np.asarray(x, dtype=np.float64)
    n = np.linalg.norm(x, axis=-1, keepdims=True)
    return x / n


class VectorOracle:
    """Exact squared-L2 top-k over the normalized corpus."""

    def __init__(self, x: np.ndarray):
        self.ids = np.arange(len(x), dtype=np.int64)
        self.nx = normalize(x)

    def distances(self, q) -> np.ndarray:
        d = self.nx - normalize(q)
        return np.einsum("ij,ij->i", d, d)

    def topk(self, q, k: int = 10) -> tuple[np.ndarray, np.ndarray]:
        d = self.distances(q)
        order = np.lexsort((self.ids, d))[:k]
        return self.ids[order], d[order]


def check_exact(hits: list[tuple[int, float]], oracle: VectorOracle, q, k: int = 10):
    """Exact tier: the k distances must be the brute-force top-k
    distances (so ids may differ only across a tie), and every hit must
    pass :func:`check_ann`."""
    want_ids, want_d = oracle.topk(q, k)
    if len(hits) != len(want_ids):
        return f"exact: {len(hits)} hits, want {len(want_ids)}"
    got_d = np.array([d for _, d in hits])
    if not np.allclose(got_d, want_d, atol=DIST_TOL, rtol=0):
        return f"exact: distances {got_d[:3]} != {want_d[:3]}"
    return check_ann(hits, oracle, q, k)


def check_ann(hits: list[tuple[int, float]], oracle: VectorOracle, q, k: int = 10):
    """ANN tier: 1..k distinct corpus ids, ascending, each with its
    true distance. Recall is measured separately."""
    if not hits or len(hits) > k:
        return f"ann: {len(hits)} hits for k={k}"
    ids = [i for i, _ in hits]
    if len(set(ids)) != len(ids):
        return "ann: duplicate ids"
    if any(not 0 <= i < len(oracle.ids) for i in ids):
        return "ann: id not in the corpus"
    got_d = np.array([d for _, d in hits])
    if not np.allclose(got_d, oracle.distances(q)[ids], atol=DIST_TOL, rtol=0):
        return "ann: reported distance is not the true distance"
    if np.any(np.diff(got_d) < -DIST_TOL):
        return "ann: hits not in ascending distance order"
    return None


def recall(hit_ids, oracle: VectorOracle, q, k: int = 10) -> float:
    want = set(oracle.topk(q, k)[0].tolist())
    return len(want & set(int(i) for i in hit_ids)) / len(want)


class Bm25Oracle:
    """Pure-Python BM25 with the program's conventions (operators/
    text_index.bm25_probe): whitespace tokens, rational idf
    (N - df + 0.5) / (df + 0.5), k1 = 1.2, b = 0.75, each per-term
    score quantized as floor(x * 1e9 + 0.5) and summed as integers."""

    K1, B = 1.2, 0.75

    def __init__(self, docs: list[str]):
        self.tf: dict[str, dict[int, int]] = {}
        self.dl = [len(t.split(" ")) for t in docs]
        for doc_id, text in enumerate(docs):
            for tok in text.split(" "):
                per = self.tf.setdefault(tok, {})
                per[doc_id] = per.get(doc_id, 0) + 1
        self.avgdl = float(sum(self.dl)) / len(self.dl)

    def scores(self, terms: list[str]) -> dict[int, tuple[int, int]]:
        """{doc_id: (matched terms, quantized score)} of every doc that
        holds at least one term."""
        n_docs, k1, b = float(len(self.dl)), self.K1, self.B
        out: dict[int, tuple[int, int]] = {}
        for t in set(terms):
            post = self.tf.get(t, {})
            df = float(len(post))
            idf = (n_docs - df + 0.5) / (df + 0.5)
            for doc_id, tf in post.items():
                tf = float(tf)
                denom = tf + k1 * (1.0 - b + b * float(self.dl[doc_id]) / self.avgdl)
                sq = math.floor(idf * (tf * (k1 + 1.0)) / denom * 1e9 + 0.5)
                n, s = out.get(doc_id, (0, 0))
                out[doc_id] = (n + 1, s + sq)
        return out


def check_bm25(rows: list[tuple[int, int, int]], oracle: Bm25Oracle, terms, k: int = 10):
    """BM25: each returned (doc_id, n_terms, score_q) must carry the
    reference score (quantization slack of 2), and the list must be
    the reference top-k up to ties."""
    ref = oracle.scores(terms)
    want = sorted(ref.items(), key=lambda kv: (-kv[1][1], kv[0]))[:k]
    if len(rows) != len(want):
        return f"bm25: {len(rows)} rows, want {len(want)}"
    if len({r[0] for r in rows}) != len(rows):
        return "bm25: duplicate doc ids"
    for doc_id, n_terms, score_q in rows:
        if doc_id not in ref:
            return f"bm25: doc {doc_id} matches no query term"
        rn, rs = ref[doc_id]
        if n_terms != rn or abs(score_q - rs) > 2:
            return f"bm25: doc {doc_id} scored ({n_terms}, {score_q}), want ({rn}, {rs})"
    if rows and rows[-1][2] < want[-1][1][1] - 2:
        return "bm25: a higher-scoring document is missing from the top-k"
    return None


def fingerprint(text: str) -> str:
    """md5 of whitespace-collapsed lowercase text (exact-dedup key)."""
    return hashlib.md5(re.sub(r"\s+", " ", text).lower().encode()).hexdigest()


def check_exact_dedup(groups: list[tuple[str, int, int]], docs: list[str]):
    """exact_dedup: the (fingerprint, keeper_id, n_copies) groups with
    more than one copy must equal the hashlib grouping."""
    ref: dict[str, list[int]] = {}
    for i, t in enumerate(docs):
        ref.setdefault(fingerprint(t), []).append(i)
    want = sorted((fp, min(ids), len(ids)) for fp, ids in ref.items() if len(ids) > 1)
    got = sorted((fp, int(k), int(n)) for fp, k, n in groups if n > 1)
    if got != want:
        return f"exact_dedup: {len(got)} duplicate groups, want {len(want)}"
    return None


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}


def check_pairs(pairs: list[tuple[int, int, float]], docs: list[str], threshold: float):
    """MinHash pairs: every pair must be ordered, distinct, and carry
    its true token-3-shingle Jaccard, which must meet the threshold."""
    seen = set()
    for a, b, jac in pairs:
        if a >= b or (a, b) in seen:
            return f"minhash: bad pair ({a}, {b})"
        seen.add((a, b))
        sa, sb = shingles(docs[a]), shingles(docs[b])
        true = len(sa & sb) / len(sa | sb)
        if abs(true - jac) > 1e-9 or true < threshold:
            return f"minhash: pair ({a}, {b}) jaccard {jac}, true {true}"
    return None


def pair_recall(pairs, planted: set[tuple[int, int]]) -> float:
    found = {(int(a), int(b)) for a, b, _ in pairs}
    return len(found & planted) / len(planted)


def fake_embedding(payload: bytes, dim: int) -> list[float]:
    """Reference for operators.multimodal.fake_image_embedding."""
    return [
        int(hashlib.md5(payload + f":{j}".encode()).hexdigest()[:8], 16) / 4294967296.0 * 2.0 - 1.0
        for j in range(dim)
    ]


def check_embeddings(rows: list[tuple[int, list[float]]], payloads: list[bytes], dim: int):
    for vec_id, emb in rows:
        if len(emb) != dim or not np.allclose(emb, fake_embedding(payloads[vec_id], dim), atol=1e-12):
            return f"embedding: row {vec_id} differs from the md5 reference"
    return None


def _rows_by_name(cols, rows) -> list[tuple]:
    """Rows with columns in name order, sorted by their non-float
    values (so a last-bit difference in a distance cannot reorder them)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    return sorted(out, key=lambda r: tuple(str(v) for v in r if not isinstance(v, float)))


def check_registry(spark_cols, spark_rows, duck_cols, duck_rows):
    """Registered query vs its DuckDB oracle: same columns, same rows,
    floats equal to 1e-12 relative. (The repo's oracle gate compares
    exact reprs, which holds on the fixtures; on generated data the two
    engines can differ in the last bit of a distance.)"""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"registry: columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    got, want = _rows_by_name(spark_cols, spark_rows), _rows_by_name(duck_cols, duck_rows)
    if len(got) != len(want):
        return f"registry: {len(got)} rows, oracle has {len(want)}"
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            same = math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-15) if isinstance(a, float) else a == b
            if not same:
                return f"registry: row {g} differs from the DuckDB oracle's {w}"
    return None


def check_id_mapping(got: dict[str, tuple[int, str]], want: dict[str, tuple[int, str]]):
    """After a merge, each touched str_id must carry its expected dense
    faiss_id and its latest text (reference main.py:119-134)."""
    if got != want:
        bad = sorted(s for s in want if got.get(s) != want[s])[:3]
        return f"id_mapping: rows {bad} differ from the expected merge"
    return None
