"""Thread-count invariance of the chunked/threaded kernel paths.

The scalar one-shot fill (segtree bisection) and the fused extract's
component walk split work across a thread pool on large inputs (the
bbox-overlap enumerator's threads are checked in tests/test_overlap_pairs.py). These tests force the threaded paths on inputs big enough to
cross the auto-engage thresholds and assert BIT-IDENTICAL output vs the
single-threaded run — the chunk boundaries must be invisible.

No Spark session needed: the kernels are pure numpy/Arrow functions.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from ioverlay_spark.kernel.fill import (
    FillRule,
    _windings_segtree,
    compute_fills,
    compute_fills_windowed,
)
from ioverlay_spark.kernel.segments import Segments, build_segments, sort_and_merge
from ioverlay_spark.kernel.split import split_segments
from ioverlay_spark.options import OverlayOptions, OverlayRule


def _dense_soup(n_rows: int, seed: int) -> Segments:
    """Overlapping long chords: est/n large enough to engage the segtree and
    >1.5M query-node pairs so the auto thread policy kicks in."""
    rng = np.random.default_rng(seed)
    pts = rng.integers(0, 200_000, size=(n_rows, 4)).astype(np.int64)
    rings = [
        np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
            dtype=np.int64,
        )
        for x0, y0, x1, y1 in pts
        if x0 != x1 and y0 != y1
    ]
    segs = sort_and_merge(build_segments(rings, True))
    return split_segments(segs)


def test_segtree_threaded_matches_single():
    segs = _dense_soup(900, seed=3)
    assert len(segs) > 10_000
    w1 = _windings_segtree(segs, threads=1)
    w8 = _windings_segtree(segs, threads=8)
    assert np.array_equal(w1[0], w8[0]) and np.array_equal(w1[1], w8[1])
    # and the segtree agrees with the dense ray-cast (exact oracle). The set
    # has ~740k segments, so the O(n^2) oracle runs on narrow x-windows: a
    # row whose doubled midpoint x lies in [lo, hi) meets only segments with
    # 2*ax < hi and 2*bx > lo, all kept in the window's subset
    f_tree = compute_fills_windowed(segs, FillRule.NON_ZERO, threads=8)
    X2 = segs.ax + segs.bx
    for lo in np.quantile(X2, [0.2, 0.5, 0.8]).astype(np.int64):
        hi = lo + 2_000
        sub = np.flatnonzero((2 * segs.bx > lo) & (2 * segs.ax < hi))
        home = (X2[sub] >= lo) & (X2[sub] < hi)
        assert home.sum() > 1_000
        dense = compute_fills(segs.take(sub), FillRule.NON_ZERO)
        assert np.array_equal(f_tree[sub[home]], dense[home])


@pytest.mark.parametrize("rule", [OverlayRule.INTERSECT, OverlayRule.UNION])
def test_extract_core_threaded_matches_single(rule):
    from ioverlay_spark.operators.distributed_extract import _extract_rings_core

    # 60k disjoint unit squares -> 240k boundary rows (over the 200k chunking
    # floor), each its own component; fills: subj-only interiors
    k = 60_000
    ii = np.arange(k, dtype=np.int64)
    gx = (ii % 300) * 4
    gy = (ii // 300) * 4
    ax = np.concatenate([gx, gx + 2, gx, gx + 2])
    ay = np.concatenate([gy, gy, gy, gy])
    bx = np.concatenate([gx + 2, gx + 2, gx, gx])
    by = np.concatenate([gy, gy + 2, gy + 2, gy + 2])
    # vertical/horizontal edges of each square, SUBJ_TOP set on the bottom,
    # matching the fill convention closely enough for a walk differential
    fills = np.full(4 * k, 0, dtype=np.uint8)
    fills[:k] = 1  # bottom edges: subject above
    fills[k : 2 * k] = 0
    comp = np.concatenate([ii, ii, ii, ii])

    def canon(tbl: pa.Table):
        d = tbl.to_pandas()
        return sorted(
            (int(c), bool(h), int(a), tuple(sorted(zip(x, y))))
            for c, h, a, x, y in zip(
                d["component"], d["is_hole"], d["area2"], d["pts_x"], d["pts_y"]
            )
        )

    opts = OverlayOptions()
    t1 = _extract_rings_core(
        rule, opts, comp.copy(), ax.copy(), ay.copy(), bx.copy(), by.copy(),
        fills.copy(), 0, threads=1,
    )
    t8 = _extract_rings_core(
        rule, opts, comp.copy(), ax.copy(), ay.copy(), bx.copy(), by.copy(),
        fills.copy(), 0, threads=8,
    )
    assert canon(t1) == canon(t8)


def _spiralish(n: int) -> Segments:
    """Spiral-band-like input: short mixed-length chords spread over x, big
    enough to engage the strip-parallel paths (n >= 48k segments)."""
    import math

    pts = []
    a, r = 0.0, 100.0
    p0 = (0.0, 0.0)
    for i in range(n):
        rr = r * (1.2 if i % 2 == 0 else 0.8)
        p = (rr * math.cos(a), rr * math.sin(a))
        pts.append(p0)
        pts.append(p)
        a += 100.0 / r
        r = 100.0 * (1.0 + a / (2 * math.pi))
        p0 = p
    arr = np.asarray(pts)
    arr = ((arr - arr.min()) * 1000).astype(np.int64)
    ring = arr.reshape(-1, 2)
    segs = sort_and_merge(build_segments([ring], True))
    return split_segments(segs)


def test_segtree_strips_matches_single_tree():
    """The x-strip-parallel segtree fill (one independent tree per strip,
    borrowed members, in-strip results kept) is bit-identical to the single
    tree — subset-safety of the midpoint-ray semantics."""
    from ioverlay_spark.kernel.fill import _windings_segtree_strips

    segs = _spiralish(30_000)
    assert len(segs) >= 48_000
    w1 = _windings_segtree(segs, threads=1)
    for k in (2, 5, 8):
        ws = _windings_segtree_strips(segs, k)
        assert ws is not None
        assert np.array_equal(w1[0], ws[0]) and np.array_equal(w1[1], ws[1])


def test_segtree_strips_duplication_fallback():
    """Long horizontal chords overlap every strip — the duplication guard must
    return None (caller falls back to the single tree) instead of multiplying
    the work."""
    from ioverlay_spark.kernel.fill import _windings_segtree_strips

    n = 50_000
    ii = np.arange(n, dtype=np.int64)
    segs = Segments(
        ii, ii, ii + (1 << 30), ii + 1,
        np.ones(n, dtype=np.int64), np.zeros(n, dtype=np.int64),
    )
    assert _windings_segtree_strips(segs, 8) is None


def _canon_pairs(p: np.ndarray) -> np.ndarray:
    if not len(p):
        return p
    return p[np.lexsort((p[:, 1], p[:, 0]))]


def _random_soup(n: int) -> Segments:
    """Randomized mixed-length segments (verticals, duplicates, skew), sorted."""
    rng = np.random.default_rng(11)
    ax = rng.integers(0, 1 << 20, n)
    ln = rng.integers(0, 1 << 12, n)
    ay = rng.integers(0, 1 << 20, n)
    s = Segments(
        ax, ay, ax + ln, ay + rng.integers(-(1 << 8), 1 << 8, n),
        np.ones(n, dtype=np.int64), np.zeros(n, dtype=np.int64),
    )
    return s.take(np.lexsort((s.by, s.bx, s.ay, s.ax)))


def test_candidate_pairs_single_thread_starts_no_pool(monkeypatch):
    """threads=1 (the setting for callers inside a Spark task, where every
    executor core already runs a task) enumerates on the calling thread only,
    and returns exactly the pair set of the default dispatch."""
    import concurrent.futures

    from ioverlay_spark.kernel import overlap as ov

    s = _random_soup(80_000)
    assert len(s) > ov._CHUNK  # large enough for the default to split into tasks
    boxes = (s.ax, s.bx, np.minimum(s.ay, s.by), np.maximum(s.ay, s.by))
    want = ov.overlap_pairs(*boxes)

    def no_pool(*args, **kwargs):
        raise AssertionError("threads=1 started a thread pool")

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", no_pool)
    monkeypatch.setattr(ov, "ThreadPoolExecutor", no_pool)
    got = ov.overlap_pairs(*boxes, threads=1)
    assert want.shape == got.shape
    assert np.array_equal(_canon_pairs(want), _canon_pairs(got))
