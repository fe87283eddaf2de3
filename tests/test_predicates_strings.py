"""Kernel tests for spatial predicates (P1-P7) and polyline clip/slice (L1-L4),
mirroring the reference's unit suites (iOverlay/src/core/predicate.rs:324-605,
iOverlay/tests/string/*)."""

import numpy as np

from ioverlay_spark.kernel.extract import ring_area2
from ioverlay_spark.kernel.predicates import covers, relate
from ioverlay_spark.kernel.string_ops import clip_path, slice_shape


def sq(x0, y0, s):
    return [np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]], dtype=np.int64)]


class TestPredicates:
    def test_overlapping(self):
        r = relate(sq(0, 0, 10), sq(5, 5, 10))
        assert r.intersects and r.interiors_intersect
        assert not r.touches and not r.disjoint and not r.within

    def test_disjoint(self):
        r = relate(sq(0, 0, 10), sq(100, 100, 10))
        assert r.disjoint and not r.intersects and not r.touches

    def test_edge_touch(self):
        r = relate(sq(0, 0, 10), sq(10, 0, 10))
        assert r.intersects and r.touches
        assert not r.interiors_intersect and not r.point_intersects

    def test_corner_touch(self):
        r = relate(sq(0, 0, 10), sq(10, 10, 10))
        assert r.intersects and r.touches and r.point_intersects
        assert not r.interiors_intersect

    def test_within(self):
        r = relate(sq(2, 2, 4), sq(0, 0, 10))
        assert r.within and r.intersects and r.interiors_intersect
        r = relate(sq(0, 0, 10), sq(2, 2, 4))
        assert not r.within

    def test_identical(self):
        r = relate(sq(0, 0, 8), sq(0, 0, 8))
        assert r.within and r.intersects and not r.touches

    def test_covers(self):
        assert covers(sq(0, 0, 10), sq(2, 2, 4))
        assert not covers(sq(2, 2, 4), sq(0, 0, 10))

    def test_empty_subject_not_within(self):
        r = relate([], sq(0, 0, 10))
        assert not r.within and r.disjoint

    def test_large_pair_starts_no_thread_pool(self, monkeypatch):
        """relate runs once per pair inside relate_df tasks, so a pair past
        the fill's strip threshold (48k segments) must still start no pool."""
        import concurrent.futures

        from ioverlay_spark.kernel import fill, predicates

        pools, strips, sizes = [], [], []
        real_pool = concurrent.futures.ThreadPoolExecutor
        real_strips = fill._windings_segtree_strips
        real_fill = predicates.compute_fills_windowed

        def fill_spy(segs, *a, **k):
            sizes.append(len(segs))
            return real_fill(segs, *a, **k)

        def pool_spy(*a, **k):
            pools.append(a)
            return real_pool(*a, **k)

        def strips_spy(*a, **k):
            strips.append(a[1:])
            return real_strips(*a, **k)

        monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", pool_spy)
        monkeypatch.setattr(fill, "_windings_segtree_strips", strips_spy)
        monkeypatch.setattr(predicates, "compute_fills_windowed", fill_spy)
        # two 25,000-vertex circles overlapping by half a radius
        t = np.linspace(0.0, 2 * np.pi, 25_000, endpoint=False)
        ring = np.stack([np.cos(t), np.sin(t)], axis=1) * 100_000_000
        a = np.round(ring).astype(np.int64)
        r = relate([a], [a + np.array([50_000_000, 0])])
        assert sizes and sizes[0] >= 50_000
        assert r.interiors_intersect and not r.within
        assert pools == [] and strips == []


class TestClip:
    def test_cross_clip(self):
        body = sq(0, 0, 100)
        path = np.array([[-50, 50], [150, 50]])
        direct = clip_path(body, path)
        assert [p.tolist() for p in direct] == [[[0, 50], [100, 50]]]
        invert = clip_path(body, path, invert=True)
        assert [p.tolist() for p in invert] == [[[-50, 50], [0, 50]], [[100, 50], [150, 50]]]

    def test_boundary_rule(self):
        body = sq(0, 0, 100)
        edge = np.array([[0, 0], [100, 0]])
        assert len(clip_path(body, edge, boundary_included=True)) == 1
        assert clip_path(body, edge, boundary_included=False) == []

    def test_zigzag(self):
        body = sq(0, 0, 100)
        path = np.array([[-10, 10], [50, 10], [50, -10], [80, -10], [80, 50]])
        parts = clip_path(body, path)
        # two interior runs: (0,10)->(50,10)->(50,0) and (80,0)->(80,50)
        assert len(parts) == 2
        assert parts[0].tolist() == [[0, 10], [50, 10], [50, 0]]
        assert parts[1].tolist() == [[80, 0], [80, 50]]


class TestSlice:
    def body(self):
        return sq(0, 0, 100)

    def areas(self, shapes):
        return sorted(sum(ring_area2(r) for r in s) // 2 for s in shapes)

    def test_full_cut(self):
        shapes = slice_shape(self.body(), [np.array([[50, -10], [50, 110]])])
        assert self.areas(shapes) == [5000, 5000]

    def test_cross_cut(self):
        shapes = slice_shape(
            self.body(),
            [np.array([[50, -10], [50, 110]]), np.array([[-10, 50], [110, 50]])],
        )
        assert self.areas(shapes) == [2500, 2500, 2500, 2500]

    def test_l_cut(self):
        shapes = slice_shape(self.body(), [np.array([[50, -10], [50, 50], [110, 50]])])
        assert self.areas(shapes) == [2500, 7500]

    def test_dangling_cut_no_split(self):
        shapes = slice_shape(self.body(), [np.array([[50, 50], [60, 60]])])
        assert self.areas(shapes) == [10000]

    def test_donut_cut(self):
        donut = [
            np.array([[0, 0], [100, 0], [100, 100], [0, 100]]),
            np.array([[40, 40], [40, 60], [60, 60], [60, 40]]),  # CW hole
        ]
        shapes = slice_shape(donut, [np.array([[50, -10], [50, 110]])])
        assert self.areas(shapes) == [4800, 4800]
