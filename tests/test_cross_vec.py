"""Differential test: vectorized cross solver vs the scalar ground truth.

`cross_pairs_batch` must emit exactly the marks (as a multiset per pair, with
is_round flags) that per-pair `split.cross_pair` emits, over every pair class:
proper crosses (exact + rounded), T-junctions, collinear overlays, snap cases,
and long skewed segments near 2^29 that exercise the i128 scalar fallback.
"""

from __future__ import annotations

import numpy as np
import pytest

from ioverlay_spark.kernel.cross_vec import cross_pairs_batch
from ioverlay_spark.kernel.split import cross_pair


def _norm(ax, ay, bx, by):
    return (ax, ay, bx, by) if (ax, ay) < (bx, by) else (bx, by, ax, ay)


def _run_both(pairs, radius):
    tax = np.array([p[0][0] for p in pairs], dtype=np.int64)
    tay = np.array([p[0][1] for p in pairs], dtype=np.int64)
    tbx = np.array([p[0][2] for p in pairs], dtype=np.int64)
    tby = np.array([p[0][3] for p in pairs], dtype=np.int64)
    oax = np.array([p[1][0] for p in pairs], dtype=np.int64)
    oay = np.array([p[1][1] for p in pairs], dtype=np.int64)
    obx = np.array([p[1][2] for p in pairs], dtype=np.int64)
    oby = np.array([p[1][3] for p in pairs], dtype=np.int64)
    idx, which, mx, my, rnd = cross_pairs_batch(
        tax, tay, tbx, tby, oax, oay, obx, oby, radius
    )
    got = {}
    for k in range(len(idx)):
        got.setdefault(int(idx[k]), []).append(
            (int(which[k]), int(mx[k]), int(my[k]), bool(rnd[k]))
        )
    for p in range(len(pairs)):
        marks, is_round = cross_pair(pairs[p][0], pairs[p][1], radius)
        want = [(w, x, y, is_round if is_round else False) for (w, x, y) in marks]
        # scalar attaches one is_round to the whole pair; vectorized attaches it
        # per mark — for a single pair they agree (all marks share the flag)
        assert sorted(got.get(p, [])) == sorted(want), (
            f"pair {p}: {pairs[p]} got {sorted(got.get(p, []))} want {sorted(want)}"
        )


def _rand_pairs(rng, n, span, grid):
    pairs = []
    while len(pairs) < n:
        pts = rng.integers(-span, span, size=8) // grid * grid
        t = _norm(*pts[:4])
        o = _norm(*pts[4:])
        if (t[0], t[1]) == (t[2], t[3]) or (o[0], o[1]) == (o[2], o[3]):
            continue
        pairs.append((tuple(int(v) for v in t), tuple(int(v) for v in o)))
    return pairs


@pytest.mark.parametrize("span,grid", [(50, 1), (1000, 1), (10, 1), (1 << 29, 1)])
def test_random_pairs_match_scalar(span, grid):
    rng = np.random.default_rng(span % 997)
    _run_both(_rand_pairs(rng, 800, span, grid), radius=2)


def test_dense_small_grid_all_classes():
    # a 6x6 lattice: exhaustively many T-junctions / collinear overlays / crosses
    pts = [(x, y) for x in range(4) for y in range(4)]
    segs = []
    for a in pts:
        for b in pts:
            if a < b:
                segs.append((a[0], a[1], b[0], b[1]))
    rng = np.random.default_rng(7)
    pairs = []
    for _ in range(1500):
        i, j = rng.integers(0, len(segs), size=2)
        pairs.append((segs[int(i)], segs[int(j)]))
    _run_both(pairs, radius=2)


def test_snap_radius_paths():
    # engineered near-miss crossings where the rounded point lands within radius
    # of an endpoint (exercises snapA / snapB / both branches)
    pairs = [
        ((0, 0, 10, 1), (0, 1, 10, 0)),
        ((0, 0, 3, 7), (0, 7, 3, 0)),
        ((0, 0, 1001, 3), (1, 3, 1000, 0)),
        ((0, 0, 7, 3), (0, 3, 7, 0)),
    ]
    for r in (0, 2, 8, 1 << 20):
        _run_both(pairs, radius=r)


def test_overflow_fallback_rows_match():
    # coordinates near 2^29 with long skewed segments: the general-case
    # kx = |a1x|*|xy_b| overflows int64 and must route through python-int math
    c = (1 << 29) - 1
    pairs = [
        ((-c, -c, c, c - 1), (-c, c, c, -c + 1)),
        ((-c, -c + 3, c, c), (-c, c - 5, c, -c)),
        ((-c, 0, c, 1), (0, -c, 1, c)),
    ]
    _run_both(pairs, radius=2)


def test_collinear_overlap_marks():
    pairs = [
        ((0, 0, 10, 0), (2, 0, 8, 0)),     # containment: two marks on target
        ((0, 0, 10, 0), (5, 0, 15, 0)),    # partial overlap: one mark each
        ((0, 0, 10, 10), (5, 5, 15, 15)),  # diagonal overlap
        ((0, 0, 10, 0), (10, 0, 20, 0)),   # endpoint touch only: no marks
    ]
    _run_both(pairs, radius=2)
