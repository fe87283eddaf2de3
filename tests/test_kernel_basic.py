"""Kernel unit + property tests (mirrors the reference's inline unit suites,
iOverlay/src/segm/build.rs:148-434, iOverlay/src/split/cross_solver.rs:314-409)."""

import numpy as np
import pytest

from ioverlay_spark.kernel import (
    build_graph,
    build_segments,
    overlay,
    ring_area2,
    simplify,
    sort_and_merge,
    split_segments,
)
from ioverlay_spark.options import FillRule, OverlayOptions, OverlayRule


def sq(x0, y0, s):
    return np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]], dtype=np.int64)


def shapes_area2(shapes):
    # hull area + hole areas (holes have opposite sign)
    return sum(ring_area2(ring) for shape in shapes for ring in shape)


class TestSegments:
    def test_build_counts(self):
        segs = build_segments([sq(0, 0, 10)], True)
        assert len(segs) == 4
        # CCW square: bottom edge is left-to-right => +1
        assert set(segs.subj.tolist()) == {1, -1}
        assert segs.clip.tolist() == [0, 0, 0, 0]

    def test_degenerate_contour_dropped(self):
        segs = build_segments([np.array([[0, 0], [5, 0], [10, 0]])], True)
        segs = sort_and_merge(segs)
        assert len(segs) == 0

    def test_merge_opposite_cancels(self):
        a = build_segments([sq(0, 0, 10)], True)
        b = build_segments([sq(0, 0, 10)[::-1]], True)  # reversed ring cancels
        merged = sort_and_merge(type(a).concat([a, b]))
        assert len(merged) == 0

    def test_drop_collinear_gates_on_extent(self, monkeypatch):
        """The dirty-ring cleanup works on offsets from the ring's own min
        corner: a far copy of a ring cleans to the same ring, shifted, on int64
        crosses; only an extent of 2^31 or more takes python ints."""
        from ioverlay_spark.kernel import segments

        rolled = []

        class NpSpy:
            def __getattr__(self, name):
                return getattr(np, name)

            def roll(self, a, *args, **kw):
                rolled.append(a.dtype)
                return np.roll(a, *args, **kw)

        monkeypatch.setattr(segments, "np", NpSpy())
        t = np.linspace(0.0, 2 * np.pi, 20_000, endpoint=False)
        ring = np.round(np.stack([np.cos(t), np.sin(t)], axis=1) * 1e7).astype(np.int64)
        ring = np.insert(ring, 7, ring[7], axis=0)  # one duplicate vertex
        near = segments._drop_collinear(ring)
        assert 0 < len(near) < len(ring)
        shift = np.array([1 << 40, -(1 << 40)], dtype=np.int64)
        rolled.clear()
        far = segments._drop_collinear(ring + shift)
        assert np.array_equal(far, near + shift)
        assert rolled and np.dtype(object) not in rolled
        # a 2^40-wide square with a collinear vertex: python-int crosses
        big = np.array([[0, 0], [1 << 39, 0], [1 << 40, 0], [1 << 40, 1 << 40], [0, 1 << 40]])
        rolled.clear()
        assert segments._drop_collinear(big).tolist() == [
            [0, 0], [1 << 40, 0], [1 << 40, 1 << 40], [0, 1 << 40]
        ]
        assert set(rolled) == {np.dtype(object)}


class TestSplit:
    def test_crossing_squares_split(self):
        segs = sort_and_merge(
            type(build_segments([], True)).concat(
                [build_segments([sq(0, 0, 10)], True), build_segments([sq(5, 5, 10)], False)]
            )
        )
        out = split_segments(segs)
        # 2 crossings add 2 segments each
        assert len(out) == 12

    def test_exact_midpoint_cross(self):
        # X crossing at integer point
        a = np.array([[0, 0], [10, 10], [0, 10], [10, 0]])
        res = simplify([a], FillRule.NON_ZERO)
        assert len(res) > 0


class TestOverlayBasics:
    def test_disjoint(self):
        res = overlay([sq(0, 0, 4)], [sq(100, 100, 4)], OverlayRule.INTERSECT)
        assert res == []
        res = overlay([sq(0, 0, 4)], [sq(100, 100, 4)], OverlayRule.UNION)
        assert len(res) == 2

    def test_identical(self):
        res = overlay([sq(0, 0, 8)], [sq(0, 0, 8)], OverlayRule.XOR)
        assert res == []
        res = overlay([sq(0, 0, 8)], [sq(0, 0, 8)], OverlayRule.INTERSECT)
        assert shapes_area2(res) == 2 * 64

    def test_hole_created(self):
        res = overlay([sq(0, 0, 100)], [sq(25, 25, 50)], OverlayRule.DIFFERENCE)
        assert len(res) == 1
        assert len(res[0]) == 2  # hull + hole
        assert shapes_area2(res) == 2 * (100 * 100 - 50 * 50)

    def test_empty_subject(self):
        assert overlay([], [sq(0, 0, 4)], OverlayRule.INTERSECT) == []
        assert shapes_area2(overlay([], [sq(0, 0, 4)], OverlayRule.UNION)) == 2 * 16

    @pytest.mark.parametrize("fill", list(FillRule))
    def test_area_identities(self, fill):
        subj = [sq(0, 0, 60), sq(30, 30, 60)]
        clip = [sq(15, 15, 60)]
        g = build_graph(subj, clip, fill)
        a = {r: shapes_area2(g.extract(r)) for r in OverlayRule}
        assert a[OverlayRule.UNION] == a[OverlayRule.INTERSECT] + a[OverlayRule.XOR]
        assert a[OverlayRule.SUBJECT] == a[OverlayRule.DIFFERENCE] + a[OverlayRule.INTERSECT]
        assert a[OverlayRule.CLIP] == a[OverlayRule.INVERSE_DIFFERENCE] + a[OverlayRule.INTERSECT]
        assert a[OverlayRule.XOR] == a[OverlayRule.DIFFERENCE] + a[OverlayRule.INVERSE_DIFFERENCE]

    def test_self_intersecting_simplify(self):
        # bowtie resolves into two triangles under even-odd
        bow = np.array([[0, 0], [10, 10], [10, 0], [0, 10]])
        res = simplify([bow], FillRule.EVEN_ODD)
        assert shapes_area2(res) == 2 * 50  # two triangles, 25 each


class TestBigCoordinates:
    def test_large_coords_exact(self):
        s = 1 << 29
        res = overlay([sq(-s, -s, 2 * s)], [sq(0, 0, 2 * s)], OverlayRule.INTERSECT)
        assert shapes_area2(res) == 2 * s * s


def test_windowed_fills_match_dense():
    """compute_fills_windowed must be bit-identical to compute_fills on
    intersection-free sets (random stars, all four fill rules)."""
    import numpy as np

    from ioverlay_spark.kernel.fill import compute_fills, compute_fills_windowed
    from ioverlay_spark.kernel.segments import Segments, build_segments, sort_and_merge
    from ioverlay_spark.kernel.split import split_segments
    from ioverlay_spark.options import FillRule

    rng = np.random.default_rng(7)
    for _ in range(20):
        rings = [
            rng.integers(-200, 200, size=(int(rng.integers(3, 10)), 2))
            for _ in range(int(rng.integers(1, 6)))
        ]
        segs = split_segments(
            sort_and_merge(
                Segments.concat(
                    [
                        build_segments([np.asarray(r, dtype=np.int64) for r in rings[:2]], True),
                        build_segments([np.asarray(r, dtype=np.int64) for r in rings[2:]], False),
                    ]
                )
            )
        )
        for fr in FillRule:
            assert np.array_equal(
                compute_fills(segs, fr), compute_fills_windowed(segs, fr)
            )


def test_segtree_fills_match_dense():
    """compute_fills_windowed (the vectorized segment-tree ray-shoot) must be
    bit-identical to compute_fills on post-split sets — shared-node soups,
    verticals, negative windings — AND on strip SUBSETS (ray-at-midpoint
    semantics, so the answer needs only the segments a ray can meet)."""
    import numpy as np

    from ioverlay_spark.kernel.fill import compute_fills, compute_fills_windowed
    from ioverlay_spark.kernel.segments import Segments, build_segments
    from ioverlay_spark.kernel.split import split_segments
    from ioverlay_spark.options import FillRule

    rng = np.random.default_rng(17)
    for trial in range(30):
        base = 0 if trial % 3 else int(rng.integers(1, 1 << 28))
        span = 40 if trial % 3 else 50
        nring = int(rng.integers(1, 5))
        mk = lambda: base + rng.integers(-span, span, (int(rng.integers(3, 9)), 2)).astype(
            np.int64
        )
        segs = split_segments(
            Segments.concat(
                [
                    build_segments([mk() for _ in range(nring)], True),
                    build_segments([mk() for _ in range(nring)], False),
                ]
            )
        )
        for fr in FillRule:
            assert np.array_equal(compute_fills(segs, fr), compute_fills_windowed(segs, fr))
        # subset safety: an arbitrary x-slice of the set (the distributed
        # strip kernel's shape) must still match the dense fill ON THE SUBSET
        if len(segs) >= 4:
            mid = int(np.median(segs.ax))
            keep = np.flatnonzero((segs.bx >= mid) | (segs.ax <= mid))
            sub = Segments(
                segs.ax[keep], segs.ay[keep], segs.bx[keep], segs.by[keep],
                segs.subj[keep], segs.clip[keep],
            )
            assert np.array_equal(
                compute_fills(sub, FillRule.NON_ZERO),
                compute_fills_windowed(sub, FillRule.NON_ZERO),
            )

    # grid-like x-strip subsets (few distinct ray x positions per strip), then
    # a set whose true extent is >= 2^30, past the int64 gate
    def lines_net(n, a=20):
        w, s = a // 2, a * n // 2
        at = -s + w // 2 + a * np.arange(n)
        subj = [np.array([[x, -s], [x + w, -s], [x + w, s], [x, s]]) for x in at]
        clip = [np.array([[-s, y], [s, y], [s, y + w], [-s, y + w]]) for y in at]
        return split_segments(
            Segments.concat([build_segments(subj, True), build_segments(clip, False)])
        )

    net = lines_net(32)
    X2 = net.ax + net.bx
    edges = np.quantile(X2, np.linspace(0, 1, 9)[1:-1]).astype(np.int64)
    strip = np.searchsorted(edges, X2, side="right")
    lo_e = np.concatenate([[X2.min() - 1], edges])
    hi_e = np.concatenate([edges, [X2.max() + 1]])
    for k in range(len(lo_e)):
        keep = np.flatnonzero(
            ((2 * net.bx > lo_e[k]) & (2 * net.ax < hi_e[k])) | (strip == k)
        )
        sub = net.take(keep)
        for fr in (FillRule.EVEN_ODD, FillRule.NON_ZERO):
            dense = compute_fills(sub, fr)
            assert np.array_equal(dense, compute_fills_windowed(sub, fr))
            assert np.array_equal(dense, compute_fills_windowed(sub, fr, threads=1))
    net = lines_net(8)
    wide = Segments(
        net.ax << 30, net.ay << 30, net.bx << 30, net.by << 30, net.subj, net.clip
    )
    for fr in FillRule:
        assert np.array_equal(compute_fills(wide, fr), compute_fills_windowed(wide, fr))


def test_split_vec_gate_is_pair_local(monkeypatch):
    """The mark finder's vectorized solver gate (split.find_marks) is the
    pair-local bound (every segment's x/y extent < 2^30), not an
    absolute-coordinate cap: a small soup translated to 2^40 or 2^59 - 2^20
    splits to exactly the translated result of the untranslated soup, with no
    python-int cross_pair call — through split_segments and, as a body+wall
    string soup, through the string split fixpoint."""
    import ioverlay_spark.kernel.split as sp
    from ioverlay_spark.kernel.segments import Segments
    from ioverlay_spark.kernel.string_slice import build_string_segments, split_segments_string

    # every python-int cross_pair call runs split._orient, whichever module
    # bound the name cross_pair
    calls = [0]
    scalar = sp._orient

    def counted(*a):
        calls[0] += 1
        return scalar(*a)

    monkeypatch.setattr(sp, "_orient", counted)
    rng = np.random.default_rng(29)
    for span in (50, 5_000, 1 << 20):
        for _ in range(6):
            mk = lambda: rng.integers(-span, span, (int(rng.integers(3, 13)), 2))
            nring = int(rng.integers(2, 6))
            body = [mk() for _ in range(nring)]
            walls = [mk() for _ in range(nring)]
            soup = Segments.concat([build_segments(body, True), build_segments(walls, False)])
            strings = build_string_segments(body, walls)
            for split, segs in ((split_segments, soup), (split_segments_string, strings)):
                base = split(segs)
                for t in (1 << 40, (1 << 59) - (1 << 20)):
                    moved = Segments(
                        segs.ax + t, segs.ay + t, segs.bx + t, segs.by + t,
                        segs.subj, segs.clip,
                    )
                    got = split(moved)
                    for g, b in zip(
                        (got.ax, got.ay, got.bx, got.by), (base.ax, base.ay, base.bx, base.by)
                    ):
                        assert np.array_equal(g, b + t)
                    assert np.array_equal(got.subj, base.subj)
                    assert np.array_equal(got.clip, base.clip)
    assert calls[0] == 0


def _x_strip_subsets(segs, k=4):
    """The distributed strip fill's subsets: per x-strip on midpoint quantiles,
    every segment whose doubled x-span meets the strip, plus its home rows."""
    X2 = segs.ax + segs.bx
    edges = np.unique(np.quantile(X2, np.linspace(0, 1, k + 1)[1:-1], method="lower"))
    strip = np.searchsorted(edges, X2, side="right")
    lo_e = np.concatenate([[X2.min() - 1], edges])
    hi_e = np.concatenate([edges, [X2.max() + 1]])
    for s in range(len(lo_e)):
        meet = (2 * segs.bx > lo_e[s]) & (2 * segs.ax < hi_e[s])
        yield segs.take(np.flatnonzero(meet | (strip == s)))


def test_wide_fills_match_dense():
    """compute_fills_windowed must be bit-identical to the dense compute_fills
    on post-split sets — dense shared-node soups, verticals, negative
    windings, small sets translated up to 2^58, and sets whose OWN extents are
    2^31, 2^41 and 2^59 (past the int64 gate: python-int operands) — on whole
    sets and on x-strip subsets."""
    from ioverlay_spark.kernel.fill import compute_fills, compute_fills_windowed
    from ioverlay_spark.kernel.segments import Segments, build_segments
    from ioverlay_spark.kernel.split import split_segments
    from ioverlay_spark.options import FillRule

    rng = np.random.default_rng(3)
    sets = []
    for trial in range(30):
        base = 0 if trial % 3 else int(rng.integers(1, 1 << 58))
        span = 40 if trial % 3 else 50
        sets.append((base, span, int(rng.integers(1, 5))))
    for e in (31, 41, 59):
        sets += [(0, 1 << (e - 1), 2), (-(1 << (e - 2)), 1 << (e - 1), 3)]
    for base, span, nring in sets:
        mk = lambda: base + rng.integers(-span, span, (int(rng.integers(3, 9)), 2)).astype(
            np.int64
        )
        segs = split_segments(
            Segments.concat(
                [
                    build_segments([mk() for _ in range(nring)], True),
                    build_segments([mk() for _ in range(nring)], False),
                ]
            )
        )
        for fr in FillRule:
            assert np.array_equal(compute_fills(segs, fr), compute_fills_windowed(segs, fr))
        if len(segs) >= 4:
            for sub in _x_strip_subsets(segs):
                for fr in (FillRule.EVEN_ODD, FillRule.NON_ZERO):
                    assert np.array_equal(
                        compute_fills(sub, fr), compute_fills_windowed(sub, fr, threads=1)
                    )


def test_fill_gate_boundary(monkeypatch):
    """int64_operands' constants (x extent < 2^61, max(H, Dx) * Dx < 2^60) are
    where int64 stops, and both sides of the boundary equal the dense oracle.
    A tiled batch whose x extent is >= 2^31 but whose H * Dx is small stays on
    int64 operands."""
    import ioverlay_spark.kernel.fill as fill
    from ioverlay_spark.kernel.batch import (
        _flatten_jobs,
        _placed_chunks,
        _tiled_graph,
        vectorized_ring_segments_flat,
    )
    from ioverlay_spark.kernel.segments import Segments
    from ioverlay_spark.options import DEFAULT_OPTIONS, FillRule

    assert fill.int64_operands((1 << 61) - 1, 1 << 29, (1 << 30) - 1)
    assert not fill.int64_operands(1 << 61, 1, 1)
    assert fill.int64_operands(1 << 50, (1 << 40) - 1, 1 << 20)
    assert not fill.int64_operands(1 << 50, 1 << 40, 1 << 20)
    assert fill.int64_operands(1 << 50, 1, (1 << 30) - 1)
    assert not fill.int64_operands(1 << 50, 1, 1 << 30)

    dtypes = []
    build = fill.segtree_build

    def spy(tax, *rest):
        dtypes.append(tax.dtype)
        return build(tax, *rest)

    monkeypatch.setattr(fill, "segtree_build", spy)

    # a stack of sloped chords of x-length Dx = 2^20 over a y extent H of
    # 2^40 - 1, then 2^40: H * Dx is just under, then at 2^60
    def chords(h):
        k = np.arange(8, dtype=np.int64)
        ay = k * (h - 7) // 7
        return Segments(
            k * 3, ay, k * 3 + (1 << 20), ay + k, np.ones(8, np.int64), np.zeros(8, np.int64)
        )

    for h, want in (((1 << 40) - 1, np.int64), (1 << 40, object)):
        segs = chords(h)
        assert int(segs.by.max()) - int(segs.ay.min()) == h
        dtypes.clear()
        for fr in FillRule:
            assert np.array_equal(fill.compute_fills(segs, fr), fill.compute_fills_windowed(segs, fr))
        assert set(dtypes) == {np.dtype(want)}

    # 16 jobs of thin 2^28-wide rectangles: tiled x extent ~2^32, H <= 145
    def rect(x, y, w, h):
        return np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]], dtype=np.int64)

    w = 1 << 28
    jobs = [([rect(0, 0, w, 100)], [rect(w // 2, 30 + j, w // 3, 100)]) for j in range(16)]
    dtypes.clear()
    t = vectorized_ring_segments_flat(*_flatten_jobs(jobs), DEFAULT_OPTIONS)
    ((_, raw, xoff, _, W),) = _placed_chunks(t, len(jobs))
    segs, fills, _ = _tiled_graph(raw, len(xoff), W, FillRule.EVEN_ODD)
    assert int(segs.bx.max()) - int(segs.ax.min()) >= 1 << 31
    assert dtypes == [np.dtype(np.int64)]
    assert np.array_equal(fills, fill.compute_fills(segs, FillRule.EVEN_ODD))


def test_apply_marks_matches_scalar_reference():
    """Vectorized _apply_marks must produce the same multiset of sub-segments
    as the scalar walk (endpoint marks, duplicates, reversed sub-directions)."""
    import numpy as np

    from ioverlay_spark.kernel.segments import Segments
    from ioverlay_spark.kernel.split import _apply_marks, _apply_marks_ref

    rng = np.random.default_rng(13)

    def canon(s):
        a = np.stack([s.ax, s.ay, s.bx, s.by, s.subj, s.clip], axis=1)
        return sorted(map(tuple, a.tolist()))

    for _ in range(60):
        n = int(rng.integers(2, 40))
        ax = rng.integers(-50, 50, n)
        bx = ax + rng.integers(0, 30, n)
        ay = rng.integers(-50, 50, n)
        by = ay + rng.integers(-30, 30, n)
        by = np.where((ax == bx) & (ay == by), ay + 1, by)
        swap = (bx < ax) | ((bx == ax) & (by < ay))
        s = Segments(
            np.where(swap, bx, ax).astype(np.int64),
            np.where(swap, by, ay).astype(np.int64),
            np.where(swap, ax, bx).astype(np.int64),
            np.where(swap, ay, by).astype(np.int64),
            rng.integers(-3, 4, n).astype(np.int64),
            rng.integers(-3, 4, n).astype(np.int64),
        )
        marks = []
        for _ in range(int(rng.integers(0, 60))):
            i = int(rng.integers(0, n))
            if rng.random() < 0.25:
                marks.append(
                    (i, int(s.ax[i]), int(s.ay[i]))
                    if rng.random() < 0.5
                    else (i, int(s.bx[i]), int(s.by[i]))
                )
            else:
                t = rng.random()
                marks.append(
                    (
                        i,
                        int(round(s.ax[i] + t * (s.bx[i] - s.ax[i]))),
                        int(round(s.ay[i] + t * (s.by[i] - s.ay[i]))),
                    )
                )
            if rng.random() < 0.3 and marks:
                marks.append(marks[-1])
        assert canon(_apply_marks(s, marks)) == canon(_apply_marks_ref(s, marks))


def test_fast_walk_contours_matches_scalar():
    """walk_rings' vectorized degree-2 walk (incl. the list-ranking long-ring
    branch, rings > 64 points) and its trigger loop (pinch nodes of random
    soups) are contour-for-contour identical to the oracle walk of
    tests/walk_oracle.py, alone and as slots of one batch, on both graph
    builds (test_walk_rings._check). Fills come from
    the segment tree (test_wide_fills_match_dense pins tree = dense)."""
    from test_walk_rings import _cases, _check, _graph

    # one long ring (> 64 points: exercises the list-ranking branch)
    t = np.linspace(0, 2 * np.pi, 300, endpoint=False)
    ring = np.stack(
        [np.round(10000 * np.cos(t)), np.round(10000 * np.sin(t))], axis=1
    ).astype(np.int64)
    # hull + hole
    sq = lambda s: np.array([[-s, -s], [s, -s], [s, s], [-s, s]], dtype=np.int64)
    _check(_cases([_graph([ring], []), _graph([sq(100), sq(50)[::-1]], [])],
                  OverlayRule.SUBJECT), OverlayRule.SUBJECT)

    # degree-4 pinch (XOR corner touch): the trigger loop serves it
    a = np.array([[0, 0], [100, 0], [100, 100], [0, 100]], dtype=np.int64)
    b = np.array([[100, 100], [200, 100], [200, 200], [100, 200]], dtype=np.int64)
    _check(_cases([_graph([a], [b], FillRule.EVEN_ODD)], OverlayRule.XOR), OverlayRule.XOR)

    # random soups across rules and both output orientations
    rng = np.random.default_rng(31)
    mk = lambda npts, span: rng.integers(-span, span, (npts, 2)).astype(np.int64)
    graphs = [
        _graph([mk(int(rng.integers(3, 80)), 300) for _ in range(3)],
               [mk(int(rng.integers(3, 80)), 300) for _ in range(2)])
        for _ in range(15)
    ]
    for rule in (OverlayRule.UNION, OverlayRule.INTERSECT, OverlayRule.XOR):
        for cw in (False, True):
            _check(_cases(graphs, rule), rule, cw)


def test_fast_walk_pinch_dense_matches_scalar():
    """Adversarial differential for walk_rings' trigger loop: grid-aligned
    rect soups (shared corners => degree-4/6/8 pinch nodes) and fans of
    triangles through one point (a single very-high-degree node) walk
    bit-identical to the oracle walk (reference trigger order included),
    alone and as slots of one batch."""
    from test_walk_rings import _cases, _check, _graph

    rng = np.random.default_rng(20260818)
    rects = []
    for trial in range(60):
        nr = int(rng.integers(2, 7))
        rs, rc = [], []
        for i in range(nr):
            x0, y0 = (rng.integers(0, 8, 2) * 25).astype(np.int64)
            w, h = (rng.integers(1, 5, 2) * 25).astype(np.int64)
            r = np.array(
                [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]],
                dtype=np.int64,
            )
            (rs if i % 2 == 0 else rc).append(r)
        if not rc:
            rc.append(np.array([[0, 0], [25, 0], [25, 25], [0, 25]], dtype=np.int64))
        rects += [_graph(rs, rc, fr) for fr in (FillRule.EVEN_ODD, FillRule.NON_ZERO)]
    for rule in (OverlayRule.XOR, OverlayRule.UNION, OverlayRule.INTERSECT,
                 OverlayRule.DIFFERENCE):
        _check(_cases(rects, rule), rule)

    fans = []
    for trial in range(20):
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        tris = []
        for a0 in ang:
            p1 = np.round(200 * np.array([np.cos(a0), np.sin(a0)])).astype(np.int64)
            p2 = np.round(
                200 * np.array([np.cos(a0 + 0.3), np.sin(a0 + 0.3)])
            ).astype(np.int64)
            tris.append(np.array([[0, 0], list(p1), list(p2)], dtype=np.int64))
        fans += [_graph(tris[::2], tris[1::2] or [tris[0]], fr)
                 for fr in (FillRule.EVEN_ODD, FillRule.NON_ZERO)]
    for rule in (OverlayRule.XOR, OverlayRule.UNION):
        _check(_cases(fans, rule), rule)
