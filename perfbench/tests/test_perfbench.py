"""Tests of the benchmark itself: seeded inputs, the tail rule, and the
arithmetic behind fail_ratio / recall_at_10 / neardup_recall. None of these
start Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402


def tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def fake_encode(texts):
    """Deterministic stand-in for the text encoder (no engine import)."""
    out = np.zeros((len(texts), 8), dtype=np.float32)
    for i, t in enumerate(texts):
        out[i, len(t) % 8] = 1.0
    return out


WRITERS = {
    "markdown": lambda seed, path: gen.write_markdown_batch(
        np.random.default_rng([seed, 1]), path, 40),
    "dataprep": lambda seed, path: gen.write_dataprep_batch(
        np.random.default_rng([seed, 4]), path, 200, 4),
    "corpus": lambda seed, path: gen.write_corpus_table(
        np.random.default_rng([seed, 2]), path, 300, 4, fake_encode),
}


@pytest.mark.parametrize("kind", sorted(WRITERS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, kind):
    write = WRITERS[kind]
    write(7, str(tmp_path / "a"))
    write(7, str(tmp_path / "b"))
    write(8, str(tmp_path / "c"))
    a, b, c = (tree_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_questions_are_seeded():
    q = lambda s: gen.questions(np.random.default_rng([s, 3]), 5)  # noqa: E731
    assert q(1) == q(1)
    assert q(1) != q(2)


def test_dataprep_plants_are_consistent(tmp_path):
    b = gen.write_dataprep_batch(np.random.default_rng(3), str(tmp_path), 300, 4)
    copies = [x for _, x in b.exact_pairs + b.near_pairs]
    assert len(set(copies)) == len(copies)
    assert all(base < copy for base, copy in b.exact_pairs + b.near_pairs)
    assert not (set(copies) & b.bases) and not (b.low_quality & b.bases)
    assert len(b.bases) + len(copies) + len(b.low_quality) == b.n_docs
    assert len(os.listdir(tmp_path)) == 4


def test_markdown_batch_counts_and_sparse_codes(tmp_path):
    b = gen.write_markdown_batch(np.random.default_rng(5), str(tmp_path), 60)
    assert b.n_docs == 60
    assert 8 not in b.docs_per_code
    for name, code in gen.INGEST_COMPONENTS:
        n = len(os.listdir(b.component_dir(name))) if code in b.docs_per_code else 0
        assert n == b.docs_per_code.get(code, 0)


@pytest.mark.parametrize("n,rank,pct", [
    (11, 1, 100 / 11), (20, 10, 50.0), (40, 30, 75.0), (100, 90, 90.0), (1000, 990, 99.0),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, rank, pct):
    values = list(np.random.default_rng(n).permutation(np.arange(1, n + 1)).astype(float))
    value, got_pct = stats.tail(values)
    assert value == rank  # values are 1..n, so the value is its own rank
    assert sum(v > value for v in values) == stats.TAIL_MIN_BEYOND
    assert got_pct == pytest.approx(pct)


def test_tail_with_ten_or_fewer_samples_falls_back_to_median():
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)
    assert stats.tail([float(x) for x in range(10)]) == (4.5, 50.0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_fail_ratio():
    assert stats.fail_ratio(4, 0) == 0.0
    assert stats.fail_ratio(4, 1) == 0.25
    assert stats.fail_ratio(3, 3) == 1.0
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)


def test_recall_at_k():
    truth = {0: list(range(10)), 1: list(range(10, 20))}
    perfect = {0: list(range(10)), 1: list(range(19, 9, -1))}  # order does not matter
    assert stats.recall_at_k(perfect, truth) == 1.0
    half = {0: list(range(5)) + [90, 91, 92, 93, 94], 1: list(range(10, 20))}
    assert stats.recall_at_k(half, truth) == pytest.approx(0.75)
    assert stats.recall_at_k({0: list(range(10))}, truth) == pytest.approx(0.5)
    # only the first k answers count
    assert stats.recall_at_k({0: [90] + list(range(10))}, {0: list(range(10))}) == 0.9


def test_cluster_pairs_found():
    canonical = {1: 1, 5: 1, 7: 1, 2: 2, 9: 2}
    planted = [(1, 5), (2, 9), (3, 4), (1, 9)]
    assert stats.cluster_pairs_found(canonical, planted) == 2
    assert stats.cluster_pairs_found({}, planted) == 0


def test_iqr_share():
    assert stats.iqr_share([1.0] * 10) == 0.0
    v = [float(x) for x in range(1, 11)]
    q1, q2, q3 = __import__("statistics").quantiles(v, n=4)
    assert stats.iqr_share(v) == pytest.approx((q3 - q1) / q2)


def test_benchmark_json_names_the_metrics_run_prints():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == {"ingest", "retrieve", "dataprep"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


class FakeFrame:
    """Just enough of a DataFrame for Tracer.layer: persist, count, unpersist."""

    def __init__(self, rows: int):
        self.rows = rows

    def persist(self):
        return self

    def count(self) -> int:
        return self.rows

    def unpersist(self):
        return self


class FakeContext:
    def setJobGroup(self, *args, **kwargs):
        pass

    def setLocalProperty(self, *args):
        pass


def fake_tracer(enabled: bool):
    from types import SimpleNamespace

    from perfbench.trace import Tracer

    return Tracer(SimpleNamespace(sparkContext=FakeContext()), enabled)


def test_wrap_runs_the_engine_call_in_a_layer_span_and_restores_it():
    from types import SimpleNamespace

    def split(n):
        return FakeFrame(n)

    engine = SimpleNamespace(split=split)
    tr = fake_tracer(enabled=False)
    with tr.wrap([(engine, "split", tr.as_layer("chunking.split"))]):
        assert engine.split is split  # untraced: nothing is patched
    tr.enabled = True
    with tr.op(0):
        with pytest.raises(RuntimeError):
            with tr.wrap([(engine, "split", tr.as_layer("chunking.split"))]):
                assert engine.split(7).rows == 7
                raise RuntimeError
    assert engine.split is split
    [action] = [s for s in tr.op_spans(0) if s.kind == "action"]
    assert (action.name, action.counts) == ("chunking.split", {"rows": 7})


def test_layer_time_excludes_nested_spans():
    from perfbench.run import op_layer_metrics
    from perfbench.trace import Span

    spans = [
        Span(0, "op", "op", 0, None, 0.0, 10.0),
        Span(1, "io.write", "action", 0, 0, 1.0, 6.0),
        Span(2, "chunking.split", "build", 0, 1, 1.5, 2.0),
        Span(3, "chunking.split", "action", 0, 1, 2.0, 4.0),
        Span(4, "hnsw.write", "action", 0, 0, 7.0, 8.0),
    ]
    m = op_layer_metrics(spans, op_seconds=10.0, ncpu=4)
    assert m["io.write_s"] == pytest.approx(2.5)
    assert m["chunking.split_s"] == pytest.approx(2.5)
    assert m["hnsw.write_s"] == pytest.approx(1.0)
    assert m["driver.build_s"] == pytest.approx(0.5)
    assert m["driver.action_s"] == pytest.approx(5.5)
