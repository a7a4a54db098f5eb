"""Seeded input generators. Everything the program sees is made here
from one ``numpy.random.Generator``, so the same seed gives the same
inputs byte for byte.

Shapes follow the fixtures (FIXTURES.md): 64-d float32 vectors with an
integer label, and whitespace-tokenized documents on a shared id space
(``doc_id == vec_id``). Vectors are drawn around 16 overlapping cluster
centres (within-cluster spread about equal to the distance between
centres), so IVF cells and HNSW neighbourhoods are meaningful but no
cluster is an island the graph cannot leave; document
words follow a Zipf popularity so BM25 sees common and rare terms.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

DIM = 64
N_CLUSTERS = 16
CLUSTER_SPREAD = 1.0
QUERY_NOISE = 0.3
VOCAB = 3000
ZIPF_S = 1.1


def vectors(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` clustered 64-d float32 vectors and their cluster labels."""
    centres = rng.normal(size=(N_CLUSTERS, DIM))
    labels = rng.integers(0, N_CLUSTERS, n)
    x = centres[labels] + CLUSTER_SPREAD * rng.normal(size=(n, DIM))
    return x.astype(np.float32), labels.astype(np.int32)


def _zipf_p(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def texts(rng: np.random.Generator, n: int, lo: int = 8, hi: int = 48) -> list[str]:
    """``n`` documents of ``lo``..``hi`` single-space-separated words
    drawn by Zipf popularity from a ``VOCAB``-word vocabulary."""
    lens = rng.integers(lo, hi + 1, n)
    words = rng.choice(VOCAB, size=int(lens.sum()), p=_zipf_p(VOCAB))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(f"w{w}" for w in words[at : at + ln]))
        at += ln
    return out


def term_queries(rng: np.random.Generator, n: int) -> list[list[str]]:
    """``n`` BM25 queries of 1-4 distinct terms, each term drawn by the
    same Zipf popularity as the corpus."""
    p = _zipf_p(VOCAB)
    return [
        [f"w{w}" for w in rng.choice(VOCAB, size=int(k), replace=False, p=p)]
        for k in rng.integers(1, 5, n)
    ]


def noisy_copies(rng: np.random.Generator, x: np.ndarray, n: int) -> np.ndarray:
    """``n`` query vectors, each a corpus vector plus small noise."""
    src = rng.integers(0, len(x), n)
    return (x[src] + QUERY_NOISE * rng.normal(size=(n, x.shape[1]))).astype(np.float32)


def zipf_picks(rng: np.random.Generator, pool: int, n: int) -> np.ndarray:
    """``n`` indices into a pool of ``pool`` items by Zipf popularity,
    so a share of requests repeats an earlier one."""
    return rng.choice(pool, size=n, p=_zipf_p(pool))


def write_sf_dir(path: str, x: np.ndarray, labels: np.ndarray, docs: list[str]) -> None:
    """Write ``embeddings.parquet`` and ``documents.parquet`` in the
    fixture schema, so catalog.load_table and service.search_drawing
    read the directory unchanged."""
    os.makedirs(path, exist_ok=True)
    n = len(x)
    pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": labels,
        }
    ).to_parquet(os.path.join(path, "embeddings.parquet"), index=False)
    pd.DataFrame(
        {
            "doc_id": np.arange(len(docs), dtype=np.int64),
            "text": docs,
            "lang": "en",
            "source": [f"src{i % 5}" for i in range(len(docs))],
            "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
        }
    ).to_parquet(os.path.join(path, "documents.parquet"), index=False)


@dataclass
class Request:
    kind: str
    vec: np.ndarray | None = None
    terms: list[str] | None = None


# Requests per block: one of each kind the benchmark sends. No traffic
# record weights them (the reference serves only /search_drawing and
# publishes no mix), so equal shares are an assumption, not a
# measurement. Each block is shuffled, and a run measures whole blocks,
# so every run sends the same mix.
SERVE_BLOCK = {
    "search_drawing": 1,
    "ivf_probe": 1,
    "hnsw_search": 1,
    "bm25_probe": 1,
    "registry_knn": 1,
}


def request_stream(
    rng: np.random.Generator, x: np.ndarray, n: int, pool: int = 256
) -> list[Request]:
    """The serve request mix: ``n`` requests in shuffled blocks of
    ``SERVE_BLOCK``, whose inputs are Zipf picks from pools of ``pool``
    noisy query vectors and ``pool`` term queries."""
    block = [k for k, c in SERVE_BLOCK.items() for _ in range(c)]
    qvecs = noisy_copies(rng, x, pool)
    tqs = term_queries(rng, pool)
    picks = zipf_picks(rng, pool, n)
    out = []
    for i, p in enumerate(picks):
        if i % len(block) == 0:
            kinds = list(rng.permutation(block))
        kind = kinds[i % len(block)]
        if kind == "bm25_probe":
            out.append(Request(kind, terms=tqs[p]))
        elif kind == "registry_knn":
            out.append(Request(kind))
        else:
            out.append(Request(kind, vec=qvecs[p]))
    return out


def delta_batch(
    rng: np.random.Generator, n_base: int, n: int, repeat_share: float = 0.25
) -> list[tuple[str, str, bytes | None]]:
    """A day's ingest on top of a corpus of ``n_base`` items, as
    (str_id, text, payload) records in /add_drawing shape. A
    ``repeat_share`` reuse an existing str_id with no payload, which
    the reference turns into a text-only update; the rest are new
    drawings whose text holds a drawing number (``dwg<seq>``) no other
    document has, for the read-your-writes check."""
    repeats = rng.choice(n_base, size=int(n * repeat_share), replace=False)
    out: list[tuple[str, str, bytes | None]] = [(f"img_{int(i)}", t, None) for i, t in zip(repeats, texts(rng, len(repeats)))]
    n_new = n - len(repeats)
    payloads = rng.integers(0, 256, size=(n_new, 256), dtype=np.uint8)
    for seq, (t, p) in enumerate(zip(texts(rng, n_new), payloads)):
        out.append((f"new_{seq:06d}", f"{t} dwg{seq}", bytes(p)))
    return out


@dataclass
class BatchCorpus:
    docs: list[str]
    payloads: list[bytes]
    planted_pairs: set[tuple[int, int]]


def batch_corpus(
    rng: np.random.Generator,
    n: int,
    near_dup_share: float = 0.10,
    exact_dup_share: float = 0.03,
) -> BatchCorpus:
    """Pipeline input: ``n`` documents and ``n`` 256-byte media
    payloads on one id space. A ``near_dup_share`` of the documents
    are planted near-duplicates (a copy of an earlier document with one
    word replaced) and an ``exact_dup_share`` exact copies."""
    docs = texts(rng, n, lo=16, hi=48)
    planted: set[tuple[int, int]] = set()
    n_near = int(n * near_dup_share)
    n_exact = int(n * exact_dup_share)
    targets = rng.choice(np.arange(n // 2, n), size=n_near + n_exact, replace=False)
    for j, dst in enumerate(targets):
        src = int(rng.integers(0, n // 2))
        toks = docs[src].split(" ")
        if j < n_near:
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = f"x{int(rng.integers(0, 10**6))}"
            planted.add((src, int(dst)))
        docs[int(dst)] = " ".join(toks)
    payloads = [bytes(b) for b in rng.integers(0, 256, size=(n, 256), dtype=np.uint8)]
    return BatchCorpus(docs, payloads, planted)


def write_split(path: str, df: pd.DataFrame, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files under ``path`` so that
    scans split across cores."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        df.iloc[part].to_parquet(os.path.join(path, f"part-{i:03d}.parquet"), index=False)
