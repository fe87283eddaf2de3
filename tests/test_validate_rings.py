"""Differential test: the segmented numpy ring validator (extract.validate_rings)
against the scalar reference validation of one ring (extract._validate_ring),
on seeded adversarial rings — duplicate vertices, collinear runs, spikes,
1/2/3-point and zero-area rings, coordinates near +-2^30 and +-2^31, rings whose
area2 does not fit int64, and one 300k-point ring whose running shoelace sum
leaves int64 — under every output option the validator reads."""

from __future__ import annotations

import numpy as np
import pytest

from ioverlay_spark.kernel import extract
from ioverlay_spark.kernel.extract import _validate_ring, pack_rings, validate_rings
from ioverlay_spark.options import OverlayOptions

OPTION_SETS = [
    OverlayOptions(),
    OverlayOptions(min_output_area=40),
    OverlayOptions(preserve_output_collinear=True),
    OverlayOptions(preserve_output_collinear=True, min_output_area=40),
]


def _adversarial_ring(rng: np.random.Generator) -> list[tuple[int, int]]:
    kind = int(rng.integers(0, 11))
    n = int(rng.integers(1, 4)) if kind == 0 else int(rng.integers(3, 12))
    if kind >= 9:  # spread over +-2^30 (inside the int64 guard) or +-2^31
        lim = (1 << 30) - 1 if kind == 9 else 1 << 31
        return [tuple(p) for p in rng.integers(-lim, lim, (n, 2)).tolist()]
    if kind == 1:  # every point on one line: zero area
        t = rng.integers(-20, 20, n)
        pts = np.stack([3 * t, 2 * t + 5], axis=1)
    elif kind == 2:  # convex polygon with collinear runs along its edges
        sq = [(0, 0), (4, 0), (8, 0), (8, 4), (8, 8), (4, 8), (0, 8), (0, 4)]
        pts = np.array(sq, dtype=np.int64) * int(rng.integers(1, 30))
    elif kind == 3:  # spike: out and straight back
        pts = np.array([(0, 0), (10, 0), (10, 10), (20, 20), (10, 10), (0, 10)])
    else:  # tiny grid: duplicates and collinear triples are frequent
        span = int(rng.integers(2, 40))
        pts = rng.integers(-span, span, (n, 2))
        if kind == 4 and n > 1:  # repeat a vertex
            k = int(rng.integers(0, n))
            pts = np.insert(pts, k, pts[k], axis=0)
    pts = np.asarray(pts, dtype=np.int64)
    shift = int(rng.integers(0, 5))
    if shift:
        # offsets straddling the int64 guard (|coord| < 2^30) and 2^31
        base = [(1 << 29) + 12345, (1 << 30) - 64, 1 << 30, (1 << 31) - 64, -(1 << 31)][
            shift - 1
        ]
        pts = pts + np.array([base, -base], dtype=np.int64)
    return [tuple(p) for p in pts.tolist()]


def _wound_ring(turns: int, radius: int, n: int) -> list[tuple[int, int]]:
    """A ring circling the origin `turns` times: its area2 is ~turns x the
    circle's, which leaves int64 near radius 2^30."""
    t = 2 * np.pi * turns * np.arange(n) / n
    pts = np.stack([np.round(radius * np.cos(t)), np.round(radius * np.sin(t))], axis=1)
    return [tuple(p) for p in pts.astype(np.int64).tolist()]


def _check(contours, options):
    rings, a2 = validate_rings(pack_rings(contours, range(len(contours))), options)
    pos = np.concatenate([[0], np.cumsum(rings.lens)]).tolist()
    xs, ys = rings.x.tolist(), rings.y.tolist()
    got = {
        s: (list(zip(xs[pos[k]:pos[k + 1]], ys[pos[k]:pos[k + 1]])), a)
        for k, (s, a) in enumerate(zip(rings.slot.tolist(), list(a2)))
    }
    assert rings.slot.tolist() == sorted(got), "kept rings must stay in input order"
    for i, (ring, hole) in enumerate(contours):
        want = _validate_ring(ring, options)
        if want is None:
            assert i not in got, i
            continue
        assert got[i][0] == [tuple(p) for p in want[0]], i
        assert int(got[i][1]) == want[1], i
        assert bool(rings.hole[rings.slot.tolist().index(i)]) == hole


@pytest.mark.parametrize(
    "options", OPTION_SETS, ids=lambda o: f"{o.preserve_output_collinear}-{o.min_output_area}"
)
def test_validate_rings_matches_scalar(options):
    rng = np.random.default_rng(20261017)
    contours = [(_adversarial_ring(rng), bool(rng.integers(0, 2))) for _ in range(3000)]
    contours += [
        (_wound_ring(3, (1 << 30) - 1000, 90), False),  # area2 beyond int64
        (_wound_ring(2, 1 << 29, 64), True),
        (_wound_ring(1, 1 << 29, 64)[::-1], True),
    ]
    _check(contours, options)


def test_validate_rings_long_ring_hi_lo_sum(monkeypatch):
    """300k points near 2^29: an out-and-back spiral winding 8 times each way.
    The running shoelace sum passes 2^63 halfway (a plain int64 accumulator
    would wrap), the final area2 fits; the numpy pass must give it exactly,
    without the scalar fallback."""
    m, turns = 150_000, 8
    t = 2 * np.pi * turns * np.arange(m) / m
    r_out, r_back = (1 << 29) + (1 << 27), (1 << 29) + (1 << 27) - (1 << 20)
    xs = np.concatenate([np.round(r_out * np.cos(t)), np.round(r_back * np.cos(t[::-1]))])
    ys = np.concatenate([np.round(r_out * np.sin(t)), np.round(r_back * np.sin(t[::-1]))])
    x, y = xs.astype(np.int64), ys.astype(np.int64)
    ring = list(zip(x.tolist(), y.tolist()))
    terms = x * np.roll(y, -1) - np.roll(x, -1) * y
    assert np.abs(np.cumsum(terms.astype(np.float64))).max() > 2.0**63
    ref = _validate_ring(ring, OverlayOptions(preserve_output_collinear=True))
    assert ref is not None and abs(ref[1]) < 1 << 63

    calls = []
    monkeypatch.setattr(
        extract, "_validate_ring", lambda r, o: calls.append(1) or _validate_ring(r, o)
    )
    rings, a2 = validate_rings(
        pack_rings([(ring, False)]), OverlayOptions(preserve_output_collinear=True)
    )
    assert not calls
    assert a2.tolist() == [ref[1]]
    assert np.array_equal(rings.x, x) and np.array_equal(rings.y, y)
    monkeypatch.undo()
    _check([(ring, False)], OverlayOptions())
