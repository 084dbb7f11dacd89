"""Self-tests of the benchmark's own code; no Spark needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.trace import Span, Tracer, self_times


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


GENERATORS = {
    "household": lambda seed, d: gen.gen_household(seed, d, 2000),
    "vectors": lambda seed, d: gen.gen_vectors(seed, d, 500),
    "stream": lambda seed, d: gen.gen_stream(seed, d, 200, 3, 50),
}


def test_generators_are_byte_identical_per_seed(tmp_path):
    for name, fn in GENERATORS.items():
        a, b, c = (str(tmp_path / f"{name}-{k}") for k in "abc")
        fn(7, a)
        fn(7, b)
        fn(8, c)
        da, db, dc = _digests(a), _digests(b), _digests(c)
        assert da == db, name
        assert da.keys() == dc.keys() and da != dc, name


def test_stream_batches_are_id_ordered_oldest_first(tmp_path):
    truth = gen.gen_stream(3, str(tmp_path), 100, 3, 40)
    files = sorted((tmp_path / "staged").iterdir())
    assert [os.path.getmtime(f) for f in files] == sorted(os.path.getmtime(f) for f in files)
    ranges = [pq.read_table(f).column("doc_id").to_pylist() for f in files]
    assert all(max(x) < min(y) for x, y in itertools.pairwise(ranges))
    # every planted partner precedes its duplicate
    assert all(a < b for a, b in truth["near_pairs"])


def test_planted_near_dups_clear_the_thresholds(tmp_path):
    truth = gen.gen_stream(5, str(tmp_path), 200, 2, 100)
    t = pa.concat_tables(pq.read_table(f) for f in sorted(tmp_path.glob("**/*.parquet")))
    sh = dict(zip(t.column("doc_id").to_pylist(),
                  map(oracle.word_shingles, t.column("text").to_pylist())))
    assert truth["near_pairs"]
    assert all(oracle.jaccard(sh[a], sh[b]) >= 0.8 for a, b in truth["near_pairs"])

    truth = gen.gen_vectors(5, str(tmp_path / "v"), 600)
    v = np.asarray(pq.read_table(tmp_path / "v" / "embeddings.parquet")
                   .column("embedding").to_pylist())
    assert all(oracle.cosine(v[a], v[b]) >= 0.97 for a, b in truth["near_pairs"])


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 5.0, parent=0),  # overlaps a: union is 1..5
        Span("c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        Span("a1", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == [10.0 - 4.0 - 2.0, 3.0 - 1.0, 2.0, 4.0, 1.0]


def test_tracer_nests_spans_and_restores_wrapped_functions():
    tracer = Tracer()
    tracer.wrap("perfbench.oracle", "jaccard", "oracle.jaccard")
    idx = tracer.begin("outer")
    assert oracle.jaccard({1, 2}, {2, 3}) == 1 / 3
    tracer.end(idx)
    tracer.close()
    assert [(s.name, s.parent) for s in tracer.spans] == [("outer", None), ("oracle.jaccard", 0)]
    assert oracle.jaccard.__module__ == "perfbench.oracle"
    assert not tracer.wrap("perfbench.oracle", "no_such_function", "x")


def test_recall_against_brute_force_on_a_tiny_corpus(tmp_path):
    truth = gen.gen_vectors(11, str(tmp_path), 300, pair_rate=0.1)
    v = np.asarray(pq.read_table(tmp_path / "embeddings.parquet")
                   .column("embedding").to_pylist())
    brute = {
        (a, b) for a in range(len(v)) for b in range(a + 1, len(v))
        if oracle.cosine(v[a], v[b]) >= 0.95
    }
    planted = {tuple(p) for p in truth["near_pairs"]}
    assert planted <= brute
    assert oracle.recall(brute, truth["near_pairs"]) == 1.0
    half = set(sorted(planted)[: len(planted) // 2])
    assert oracle.recall(half, truth["near_pairs"]) == len(half) / len(planted)
    assert oracle.recall(set(), []) == 1.0

