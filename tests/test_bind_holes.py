"""Differential of kernel.extract.bind_holes (the vectorized ray shot on the
fill's segment tree) against the python scan it replaced (bind_oracle): every
ring's (shape, contour index) must equal the scan's on seeded ring sets with
nested holes, islands inside holes, holes touching a hull at a vertex, anchors
directly above a vertex shared by two rings, exact ties between edges that
start at one vertex or overlap, a k x k hole grid, a 2^53 offset and extents
past 2^30 (the python-int path), one slot or many."""

from __future__ import annotations

import random

import pytest
from bind_oracle import bind_holes_scan

from ioverlay_spark.kernel.extract import bind_holes, bind_ring_lists, pack_rings, ring_area2


def _orient(ring, hole):
    """Hulls CCW, holes CW (the walk's default output direction)."""
    return ring[::-1] if (ring_area2(ring) > 0) == hole else ring


def _cell(rnd, x0, y0, s, hole):
    """The square [x0, x0+s]^2 with each corner either kept (so diagonal
    neighbours share it) or cut by up to s/4 (sloped edges)."""
    pts = []
    for cx, cy, dx, dy in ((x0, y0, 1, 1), (x0 + s, y0, -1, 1),
                           (x0 + s, y0 + s, -1, -1), (x0, y0 + s, 1, -1)):
        if rnd.random() < 0.5:
            pts.append((cx, cy))
        else:
            a, b = rnd.randint(1, s // 4), rnd.randint(1, s // 4)
            # leave the corner along the incoming side, return along the next
            if dx * dy > 0:
                pts += [(cx, cy + dy * a), (cx + dx * b, cy)]
            else:
                pts += [(cx + dx * a, cy), (cx, cy + dy * b)]
    return _orient(pts, hole)


def _nest(rnd, x0, y0, s, depth, out):
    """A ring on the cell, then a checkerboard of children (the other kind)
    inside the part of the cell no corner cut reaches; diagonal children touch
    at shared corners."""
    hole = depth % 2 == 1
    out.append((_cell(rnd, x0, y0, s, hole), hole))
    m = rnd.randint(1, 4)
    c = (s // 2) // m
    if depth >= 3 or c < 8:
        return
    for i in range(m):
        for j in range(m):
            if (i + j) % 2 == 0 and rnd.random() < 0.8:
                _nest(rnd, x0 + s // 4 + i * c, y0 + s // 4 + j * c, c, depth + 1, out)


def _ring_set(seed):
    """Several nested stacks side by side, rings in shuffled order."""
    rnd = random.Random(seed)
    out = []
    for k in range(rnd.randint(2, 4)):
        _nest(rnd, k * 1200 + rnd.randint(0, 100), rnd.randint(0, 300), 1024, 0, out)
    rnd.shuffle(out)
    return out


def _transform(rings, scale=1, shift=0):
    return [([(x * scale + shift, y * scale + shift) for x, y in r], h) for r, h in rings]


def _assert_matches_scan(rings):
    """bind_holes' (shape, contour) per ring == the scan's, rings given as
    [(points, is_hole)] of one slot."""
    hulls = [r for r, h in rings if not h]
    holes = [r for r, h in rings if h]
    want = {}
    for s, shape in enumerate(bind_holes_scan(hulls, holes)):
        for c, r in enumerate(shape):
            want[id(r)] = (s, c)
    shape, contour = bind_holes(pack_rings(rings))
    got = {id(r): (s, c) for (r, _), s, c in zip(rings, shape.tolist(), contour.tolist())}
    assert got == {id(r): want.get(id(r), (-1, -1)) for r, _ in rings}
    assert bind_ring_lists(hulls, holes) == bind_holes_scan(hulls, holes)


@pytest.mark.parametrize("seed", range(12))
def test_nested_ring_sets_match_scan(seed):
    rings = _ring_set(seed)
    assert sum(h for _, h in rings) > 0
    _assert_matches_scan(rings)


@pytest.mark.parametrize("scale, shift", [(1, 1 << 53), (1, -(1 << 53)), (1 << 31, 0),
                                          (1 << 40, -(1 << 61))])
def test_far_and_wide_ring_sets_match_scan(scale, shift):
    """A 2^53 offset stays on int64 local coordinates; extents of 2^41 and
    more take the python-int operands."""
    for seed in (3, 7):
        _assert_matches_scan(_transform(_ring_set(seed), scale, shift))


def test_hole_grid_matches_scan():
    """One hull, a k x k hole grid and a second hull (so the ray shot runs):
    every hole but the bottom row binds through the hole below it."""
    k = 16
    rings = [(_orient([(0, 0), (20 * k + 10, 0), (20 * k + 10, 20 * k + 10),
                       (0, 20 * k + 10)], False), False)]
    rings += [(_orient([(10 + 20 * i, 10 + 20 * j), (20 + 20 * i, 10 + 20 * j),
                        (20 + 20 * i, 20 + 20 * j), (10 + 20 * i, 20 + 20 * j)], True), True)
              for i in range(k) for j in range(k)]
    rings.append(([(1000, 0), (1010, 0), (1010, 10)], False))
    _assert_matches_scan(rings)
    shape, contour = bind_holes(pack_rings(rings))
    assert shape[1:-1].tolist() == [0] * k * k
    assert contour[1:-1].tolist() == list(range(1, k * k + 1))


@pytest.mark.parametrize("hull_first", [False, True])
def test_exact_ties_take_the_first_edge(hull_first):
    """Anchors straight above a vertex that several rings' edges start from,
    and a hole edge overlapping a hull edge: every tie at the anchor's x goes
    to the first tied edge in (hulls, holes; ring order; edge order)."""
    v = (100, 100)
    low = [v, (120, 80), (120, 90)]  # CCW triangles all starting at v
    high = [v, (120, 110), (120, 120)]
    far = [v, (400, 60), (400, 70)]  # long edges: other tree nodes
    rings = [(low, False), (high, False), (far, False)]
    if not hull_first:
        rings = rings[::-1]
    rings += [([(x, 500), (x + 5, 500), (x + 5, 505)], False) for x in range(130, 400, 10)]
    rings += [
        ([(100, 130), (100, 140), (110, 140)][::-1], True),  # anchor over v
        (_orient(low, True), True),  # a hole on the same edges as a hull
        ([(0, 40), (60, 40), (60, 60), (0, 60)], False),
        ([(0, 0), (0, 40), (60, 40), (60, 0)], True),  # shares y=40 with it
        ([(10, 70), (10, 80), (20, 80)][::-1], True),  # anchor over both
    ]
    _assert_matches_scan(rings)


def test_touching_holes_match_scan():
    """Holes touching their hull at a vertex (on the left edge, where the
    anchor sits over the bottom edge's first vertex, and on the top and right
    edges) and touching each other at corners."""
    hull = _orient([(0, 0), (100, 0), (100, 100), (0, 100)], False)
    rings = [
        (hull, False),
        (_orient([(0, 50), (20, 40), (30, 50), (20, 60)], True), True),
        (_orient([(40, 90), (50, 80), (60, 90), (50, 100)], True), True),
        (_orient([(80, 20), (90, 10), (100, 20), (90, 30)], True), True),
        (_orient([(30, 10), (40, 10), (40, 20), (30, 20)], True), True),
        (_orient([(40, 20), (50, 20), (50, 30), (40, 30)], True), True),
        (_orient([(40, 40), (50, 40), (50, 50), (40, 50)], True), True),
        (_orient([(200, 0), (210, 0), (210, 10)], False), False),
    ]
    _assert_matches_scan(rings)


def test_slots_are_independent():
    """Many slots' rings interleaved in one RingSet: each slot binds as if
    alone, and a slot with one hull takes all its holes."""
    rnd = random.Random(5)
    per_slot = [_transform(_ring_set(s), 1, rnd.randint(-50, 50)) for s in range(6)]
    per_slot.append([([(0, 0), (100, 0), (100, 100), (0, 100)], False),
                     ([(10, 10), (10, 20), (20, 20), (20, 10)], True),
                     ([(30, 10), (30, 20), (40, 20), (40, 10)], True)])
    per_slot.append([([(10, 10), (10, 20), (20, 20), (20, 10)], True)])  # no hull
    tagged = [(s * 7 + 3, r, h) for s, rings in enumerate(per_slot) for r, h in rings]
    rnd.shuffle(tagged)
    shape, contour = bind_holes(
        pack_rings([(r, h) for _, r, h in tagged], [s for s, _, _ in tagged])
    )
    got = {id(r): (s, c) for (_, r, _), s, c in zip(tagged, shape.tolist(), contour.tolist())}
    for s, rings in enumerate(per_slot):
        mine = [(r, h) for t, r, h in tagged if t == s * 7 + 3]
        hulls = [r for r, h in mine if not h]
        want = {}
        for k, sh in enumerate(bind_holes_scan(hulls, [r for r, h in mine if h])):
            for c, r in enumerate(sh):
                want[id(r)] = (k, c)
        assert {id(r): got[id(r)] for r, _ in mine} == {
            id(r): want.get(id(r), (-1, -1)) for r, _ in mine
        }
    assert [got[id(r)] for r, _ in per_slot[-2]] == [(0, 0), (0, 1), (0, 2)]
    assert got[id(per_slot[-1][0][0])] == (-1, -1)
