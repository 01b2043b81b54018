"""Tests of the benchmark's own helpers (no Spark needed).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.measure import median, percentile
from perfbench.trace import Span, self_times, union_length

SIZES = dict(n_base=120, n_requests=30, n_batches=3, batch_adds=4,
             batch_deletes=2)


def test_generator_same_seed_same_inputs():
    a = gen.generate(7, **SIZES)
    b = gen.generate(7, **SIZES)
    assert (a.base, a.requests, a.batches) == (b.base, b.requests, b.batches)


def test_generator_other_seed_other_inputs():
    a = gen.generate(7, **SIZES)
    b = gen.generate(8, **SIZES)
    assert a.base != b.base
    assert a.requests != b.requests
    assert a.batches != b.batches


def test_generator_mix_shape():
    inp = gen.generate(3, **SIZES)
    kinds = [r.kind for r in inp.requests]
    assert kinds[:len(gen.ROTATION)] == [k for k, _ in gen.ROTATION]
    ids = [d for d, _ in inp.base] + [d for b in inp.batches for d, _ in b.adds]
    assert len(ids) == len(set(ids))
    deleted = [d for b in inp.batches for d in b.deletes]
    assert len(deleted) == len(set(deleted)) and set(deleted) <= set(range(120))
    for b in inp.batches:
        assert b.probe_hit in {d for d, _ in b.adds} and b.probe_miss in b.deletes
    for r in inp.requests:
        if r.kind == "near":
            assert len(set(r.terms)) == len(r.terms) >= 2


def test_percentile_refuses_thin_tail():
    xs = [float(i) for i in range(1, 100)]       # 99 samples
    with pytest.raises(ValueError):
        percentile(xs, 90)                        # 9 beyond it
    assert percentile(xs + [100.0], 90) == 90.0   # 10 beyond it
    assert percentile(xs[:20], 50) == 10.0
    with pytest.raises(ValueError):
        percentile(xs[:19], 50)
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_is_span_minus_union_of_children():
    root = Span(0, "bench.request", None, 1, start=0.0, end=10.0)
    kids = [Span(1, "a.x", 0, 1, start=1.0, end=4.0),
            Span(2, "a.y", 0, 1, start=3.0, end=5.0),   # overlaps a.x
            Span(3, "a.z", 0, 1, start=9.0, end=12.0)]  # runs past the root
    grandchild = Span(4, "b.w", 1, 1, start=2.0, end=3.0)
    st = self_times([root, *kids, grandchild])
    assert st[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
