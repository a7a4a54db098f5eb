"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests start Spark at the tiny input size (about a minute per
run); the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen, oracles
from perfbench.metrics import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def test_benchmark_json_mirrors_metrics_module():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["serve", "pipeline"]


def _inputs(seed: int):
    rng = np.random.default_rng(seed)
    x, _ = gen.vectors(rng, 50)
    docs = gen.texts(rng, 20)
    stream = gen.request_stream(rng, x, 30)
    corpus = gen.batch_corpus(rng, 100)
    delta = gen.delta_batch(rng, 100, 12)
    return x, docs, stream, corpus, delta


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _inputs(1), _inputs(1), _inputs(2)
    assert np.array_equal(a[0], b[0]) and a[1] == b[1] and a[3].docs == b[3].docs and a[4] == b[4]
    assert [r.kind for r in a[2]] == [r.kind for r in b[2]]
    assert not np.array_equal(a[0], c[0]) and a[1] != c[1] and a[3].docs != c[3].docs


# ---- each output check rejects a deliberately wrong answer ----------------


@pytest.fixture(scope="module")
def vo():
    x, _ = gen.vectors(np.random.default_rng(3), 200)
    return oracles.VectorOracle(x), x


def test_exact_check(vo):
    oracle, x = vo
    q = x[7] + 0.01
    ids, d = oracle.topk(q, 10)
    right = list(zip(ids.tolist(), d.tolist()))
    assert oracles.check_exact(right, oracle, q) is None
    swapped = right[:9] + [(int(oracle.topk(q, 11)[0][10]), right[9][1])]
    assert oracles.check_exact(swapped, oracle, q) is not None  # wrong id
    assert oracles.check_exact(right[:9], oracle, q) is not None  # too few
    off = [(i, dd + 1e-3) for i, dd in right]
    assert oracles.check_exact(off, oracle, q) is not None  # wrong distances


def test_ann_check_and_recall(vo):
    oracle, x = vo
    q = x[11]
    ids, d = oracle.topk(q, 10)
    right = list(zip(ids.tolist(), d.tolist()))
    assert oracles.check_ann(right, oracle, q) is None
    assert oracles.recall(ids, oracle, q) == 1.0
    assert oracles.recall(ids[:5], oracle, q) == 0.5
    assert oracles.check_ann(right[::-1], oracle, q) is not None  # not ascending
    assert oracles.check_ann(right[:9] + [right[0]], oracle, q) is not None  # duplicate
    assert oracles.check_ann([(10_000, 0.0)], oracle, q) is not None  # unknown id
    assert oracles.check_ann([(right[0][0], right[1][1])], oracle, q) is not None  # wrong distance


def test_bm25_check():
    docs = gen.texts(np.random.default_rng(4), 300)
    bo = oracles.Bm25Oracle(docs)
    terms = ["w1", "w40"]
    ref = bo.scores(terms)
    top = sorted(ref.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10]
    right = [(d, n, s) for d, (n, s) in top]
    assert oracles.check_bm25(right, bo, terms) is None
    assert oracles.check_bm25([(d, n, s + 1) for d, n, s in right], bo, terms) is None  # slack
    assert oracles.check_bm25([(d, n, s + 100) for d, n, s in right], bo, terms) is not None
    assert oracles.check_bm25(right[1:], bo, terms) is not None  # one missing
    lower = sorted(ref.items(), key=lambda kv: (-kv[1][1], kv[0]))[10:11]
    assert oracles.check_bm25(right[:9] + [(d, n, s) for d, (n, s) in lower], bo, terms) is not None


def test_bm25_oracle_formula():
    bo = oracles.Bm25Oracle(["a b", "a c c", "d"])
    n_docs, avgdl = 3.0, 2.0
    idf = (n_docs - 2 + 0.5) / (2 + 0.5)
    want = int(np.floor(idf * (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / avgdl)) * 1e9 + 0.5))
    assert bo.scores(["a"])[0] == (1, want)


def test_dedup_checks():
    c = gen.batch_corpus(np.random.default_rng(5), 200)
    ref: dict[str, list[int]] = {}
    for i, t in enumerate(c.docs):
        ref.setdefault(oracles.fingerprint(t), []).append(i)
    groups = [(fp, min(ids), len(ids)) for fp, ids in ref.items() if len(ids) > 1]
    assert groups and oracles.check_exact_dedup(groups, c.docs) is None
    fp, keeper, n = groups[0]
    assert oracles.check_exact_dedup([(fp, keeper, n + 1)] + groups[1:], c.docs) is not None
    assert oracles.check_exact_dedup(groups[1:], c.docs) is not None

    pairs = []
    for a, b in sorted(c.planted_pairs):
        sa, sb = oracles.shingles(c.docs[a]), oracles.shingles(c.docs[b])
        pairs.append((a, b, len(sa & sb) / len(sa | sb)))
    assert oracles.check_pairs(pairs, c.docs, 0.3) is None
    assert oracles.pair_recall(pairs, c.planted_pairs) == 1.0
    assert oracles.pair_recall(pairs[: len(pairs) // 2], c.planted_pairs) < 0.6
    a, b, j = pairs[0]
    assert oracles.check_pairs([(a, b, j - 0.01)], c.docs, 0.3) is not None  # wrong jaccard
    assert oracles.check_pairs([(b, a, j)], c.docs, 0.3) is not None  # unordered


def test_embedding_registry_and_id_mapping_checks():
    payloads = [bytes([i]) * 8 for i in range(3)]
    rows = [(i, oracles.fake_embedding(p, 4)) for i, p in enumerate(payloads)]
    assert oracles.check_embeddings(rows, payloads, 4) is None
    assert oracles.check_embeddings([(0, rows[1][1])], payloads, 4) is not None

    cols, good = ["str_id", "distance"], [("img_1", 0.0), ("img_2", 0.5)]
    assert oracles.check_registry(cols, good, cols[::-1], [(d, s) for s, d in good]) is None
    assert oracles.check_registry(cols, good[:1], cols, good) is not None
    assert oracles.check_registry(cols, [("img_1", 0.0), ("img_2", 0.25)], cols, good) is not None
    last_bit = [("img_1", 0.0), ("img_2", 0.5990782983372313)]
    assert oracles.check_registry(cols, last_bit, cols, [("img_1", 0.0), ("img_2", 0.5990782983372314)]) is None
    assert oracles.check_registry(cols, [("img_1", 0.0), ("img_3", 0.5)], cols, good) is not None

    want = {"img_1": (2, "a"), "new_000000": (11, "b")}
    assert oracles.check_id_mapping(dict(want), want) is None
    assert oracles.check_id_mapping({"img_1": (2, "old"), "new_000000": (11, "b")}, want) is not None


# ---- tiny-size smoke runs: every metric named, with its unit ---------------


def _run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "3", "--trace", str(trace), "--size", "tiny"]
    out = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["serve", "pipeline"])
def test_smoke_emits_every_metric_with_its_unit(workload):
    untraced = _run(workload, 1, 0)
    assert set(untraced) == {"correct", "attempted", "failed", "metrics"}
    assert untraced["correct"] and untraced["failed"] == 0 and untraced["attempted"] >= 1
    assert {k: v["unit"] for k, v in untraced["metrics"].items()} == {n: u for n, u, _, _ in END_TO_END}
    assert all(v["value"] > 0 for v in untraced["metrics"].values())

    traced = _run(workload, 2, 1)  # another seed: other inputs, same names
    assert traced["correct"]
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == {n: u for n, u, _ in PER_LAYER}


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f)) as src, open(tmp_path / "perfbench" / f, "w") as dst:
                dst.write(src.read())
    cmd = [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
