"""Bounded-footprint fill: the query blocks, the budgeted strips and the lean
tree build leave every fill bit-identical to the dense oracle (compute_fills)
or to one tree that answers every query in one block.

No Spark session needed: the fill is a pure numpy kernel.
"""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest

from ioverlay_spark.kernel import fill
from ioverlay_spark.kernel.fill import (
    _windings_segtree,
    _windings_segtree_strips,
    compute_fills,
    compute_fills_windowed,
)
from ioverlay_spark.kernel.segments import Segments, build_segments, sort_and_merge
from ioverlay_spark.kernel.split import split_segments
from ioverlay_spark.options import FillRule


def _rects(rng, n, span, base=0):
    pts = base + rng.integers(0, span, size=(n, 4)).astype(np.int64)
    return [
        np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.int64)
        for x0, y0, x1, y1 in pts
        if x0 != x1 and y0 != y1
    ]


def _soup(n_rows: int, seed: int, span: int = 200_000, base: int = 0, extra=()) -> Segments:
    """Seeded subject and clip rectangles (both orientations), split: a
    post-split set with shared nodes, verticals and negative windings."""
    rng = np.random.default_rng(seed)
    segs = Segments.concat(
        [
            build_segments(_rects(rng, n_rows, span, base) + list(extra), True),
            build_segments(_rects(rng, n_rows, span, base), False),
        ]
    )
    return split_segments(sort_and_merge(segs))


def _same(a, b) -> bool:
    return np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])


@pytest.fixture
def below_calls(monkeypatch):
    """Query counts of the segtree_below calls the fill makes."""
    calls = []
    real = fill.segtree_below

    def spy(tree, Xi, Ti, threads=None):
        calls.append(len(Xi))
        return real(tree, Xi, Ti, threads)

    monkeypatch.setattr(fill, "segtree_below", spy)
    return calls


@pytest.mark.parametrize("threads", [1, 4])
def test_query_blocks_match_dense(monkeypatch, below_calls, threads):
    """Queries answered in many small blocks, on the calling thread and on a
    pool, give the dense ray-cast's fills under every rule."""
    monkeypatch.setattr(fill, "_PAIR_BLOCK", 4_096)
    segs = _soup(40, seed=7, span=5_000)
    for fr in FillRule:
        below_calls.clear()
        assert np.array_equal(
            compute_fills(segs, fr), compute_fills_windowed(segs, fr, threads=threads)
        )
        assert len(below_calls) >= 3


@pytest.mark.parametrize("threads", [1, 4])
def test_query_blocks_match_one_block(monkeypatch, below_calls, threads):
    """At the module's block size, a set spanning several blocks matches one
    tree that answers every query in a single block."""
    segs = _soup(150, seed=11)
    blocks = _windings_segtree(segs, threads=threads)
    assert len(below_calls) >= 3
    monkeypatch.setattr(fill, "_PAIR_BLOCK", 1 << 60)
    below_calls.clear()
    assert _same(blocks, _windings_segtree(segs, threads=1))
    assert len(below_calls) == 1


def test_more_strips_than_threads(monkeypatch):
    """A strip budget below n / threads cuts more strips than the pool has
    threads; long segments under the soup cross every strip. Each strip's
    tree keeps only its home queries, so the result matches the single tree."""
    long_rects = [
        np.array(
            [[i * 7_000, y], [200_000 - i * 3_000, y], [200_000 - i * 3_000, y + 20], [i * 7_000, y + 20]],
            dtype=np.int64,
        )
        for i, y in enumerate(range(-40, -1_000, -40))
    ]
    segs = _soup(200, seed=5, extra=long_rects)
    n = len(segs)
    assert n >= 48_000
    single = _windings_segtree(segs, threads=1)
    monkeypatch.setattr(fill, "_STRIP_TARGET", 4_096)
    calls = []
    real = fill._windings_segtree

    def spy(sub, threads=None):
        calls.append(len(sub))
        return real(sub, threads=threads)

    monkeypatch.setattr(fill, "_windings_segtree", spy)
    strips = _windings_segtree_strips(segs, 2)
    assert strips is not None and _same(single, strips)
    assert len(calls) >= n // 4_096 > 2
    assert max(calls) < n // 4
    monkeypatch.setattr(fill, "_windings_segtree", real)
    for fr in (FillRule.NON_ZERO, FillRule.EVEN_ODD):
        assert np.array_equal(
            compute_fills_windowed(segs, fr, threads=2),
            compute_fills_windowed(segs, fr, threads=1),
        )


@pytest.mark.parametrize("target", [1 << 16, 4_096])
def test_strip_duplication_fallback(monkeypatch, target):
    """Parallel chords 2^20 long, each over every strip: the copies pass
    2.5 n, so the strips give way to the single tree (int64 operands, so it
    is the guard and not the width gate that refuses), and the fill matches
    the single tree."""
    monkeypatch.setattr(fill, "_STRIP_TARGET", target)
    n = 50_000
    ii = np.arange(n, dtype=np.int64)
    segs = Segments(
        ii, ii, ii + (1 << 20), ii + 1,
        np.where(ii % 3 == 0, -1, 1).astype(np.int64), np.zeros(n, dtype=np.int64),
    )
    assert fill._local_operands(segs)[0].dtype == np.int64
    assert _windings_segtree_strips(segs, 4) is None
    assert np.array_equal(
        compute_fills_windowed(segs, FillRule.NON_ZERO, threads=4),
        compute_fills_windowed(segs, FillRule.NON_ZERO, threads=1),
    )


@pytest.mark.parametrize("threads", [1, 2])
def test_query_blocks_past_int64_gate(monkeypatch, below_calls, threads):
    """Sets whose own extents are 2^41 and 2^59 run the tree on python-int
    operands; their blocks match the dense oracle too."""
    monkeypatch.setattr(fill, "_PAIR_BLOCK", 32)
    rng = np.random.default_rng(23)
    for e in (41, 59):
        base, span = -(1 << (e - 2)), 1 << (e - 1)
        mk = lambda: base + rng.integers(0, span, (int(rng.integers(5, 9)), 2)).astype(np.int64)
        segs = split_segments(
            Segments.concat(
                [
                    build_segments([mk() for _ in range(3)], True),
                    build_segments([mk() for _ in range(3)], False),
                ]
            )
        )
        assert fill._local_operands(segs)[0].dtype == object
        for fr in FillRule:
            below_calls.clear()
            assert np.array_equal(
                compute_fills(segs, fr), compute_fills_windowed(segs, fr, threads=threads)
            )
            assert len(below_calls) >= 3


def test_float_ambiguous_order_is_repaired(monkeypatch):
    """A stack of 2-wide horizontal segments 1 apart near y = 2^56, with
    one segment at 0 and one at 2^57 stretching the y span: the packed float
    keys cannot tell the stack apart, the index tiebreak puts it upside down,
    and the exact verification's vectorized repair restores the order."""
    lexsorts = []

    class NpSpy:
        def __getattr__(self, name):
            return getattr(np, name)

        def lexsort(self, keys, *a, **k):
            lexsorts.append(len(keys[0]))
            return np.lexsort(keys, *a, **k)

    monkeypatch.setattr(fill, "np", NpSpy())
    k = 200
    y = np.concatenate([[0, 1 << 57], (1 << 56) + np.arange(k, dtype=np.int64)[::-1]])
    n = len(y)
    w = np.where(np.arange(n) % 2 == 0, 1, -1).astype(np.int64)
    segs = Segments(
        np.zeros(n, dtype=np.int64), y, np.full(n, 2, dtype=np.int64), y, w, w[::-1].copy()
    )
    assert fill._local_operands(segs)[0].dtype == np.int64
    for fr in FillRule:
        assert np.array_equal(compute_fills(segs, fr), compute_fills_windowed(segs, fr))
    assert lexsorts and max(lexsorts) >= k


def test_fill_footprint_per_segment():
    """tracemalloc peak of the one-tree fill on a seeded 56,412-segment soup.
    The base is the fill before query blocks and the lean build, which held
    every (query, node) pair and every full-size build temporary at once:
    913 B per segment (same input, numpy 1.26). The bounded fill reads
    195 B; the bound is half the base."""
    rng_rows, seed = 240, 5
    rng = np.random.default_rng(seed)
    pts = rng.integers(0, 200_000, size=(rng_rows, 4)).astype(np.int64)
    rings = [
        np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.int64)
        for x0, y0, x1, y1 in pts
        if x0 != x1 and y0 != y1
    ]
    segs = split_segments(sort_and_merge(build_segments(rings, True)))
    assert len(segs) == 56_412
    compute_fills_windowed(segs, FillRule.NON_ZERO, threads=1)
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        compute_fills_windowed(segs, FillRule.NON_ZERO, threads=1)
        peak = tracemalloc.get_traced_memory()[1] - base
    finally:
        tracemalloc.stop()
    assert peak / len(segs) <= 913 / 2
