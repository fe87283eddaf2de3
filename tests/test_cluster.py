"""Differential tests for the spatial cluster decomposition
(kernel/cluster.py): the clustered one-shot path must be exactly equivalent to
the monolithic pipeline (canonical ring compare), per the separability proof in
the module docstring."""

import numpy as np
import pytest

from ioverlay_spark import scenarios
from ioverlay_spark.kernel import build_graph, overlay
from ioverlay_spark.kernel.cluster import cluster_labels
from ioverlay_spark.options import FillRule, OverlayRule


def ring_bboxes(rings):
    """(minx, miny, maxx, maxy) of each ring."""
    return tuple(
        np.array([f(np.asarray(r)[:, c]) for r in rings], dtype=np.int64)
        for f, c in ((np.min, 0), (np.min, 1), (np.max, 0), (np.max, 1))
    )


def canon(shapes):
    out = []
    for shape in shapes:
        rings = []
        for ring in shape:
            pts = [tuple(map(int, p)) for p in ring]
            k = min(range(len(pts)), key=lambda i: pts[i])
            rings.append(tuple(pts[k:] + pts[:k]))
        out.append(tuple(sorted(rings)))
    return sorted(out)


def monolithic(subj, clip, rule, fill):
    return build_graph(subj, clip, fill).extract(rule)


def sq(x0, y0, s):
    return np.array([[x0, y0], [x0, y0 + s], [x0 + s, y0 + s], [x0 + s, y0]], dtype=np.int64)


class TestClusterLabels:
    def test_disjoint_squares_are_singletons(self):
        rings = [sq(30 * i, 0, 10) for i in range(50)]
        labels = cluster_labels(*ring_bboxes(rings))
        assert labels.tolist() == list(range(50))

    def test_overlapping_chain_merges(self):
        # each square overlaps the next: one cluster => None (k == 1)
        rings = [sq(5 * i, 0, 10) for i in range(50)]
        assert cluster_labels(*ring_bboxes(rings)) is None

    def test_touching_bboxes_merge(self):
        # closed-interval overlap: squares sharing only an edge coordinate
        # must land in one cluster (snap/coincident safety)
        rings = [sq(0, 0, 10), sq(10, 0, 10), sq(40, 0, 10)]
        labels = cluster_labels(*ring_bboxes(rings))
        assert labels[0] == labels[1] != labels[2]

    def test_containment_merges(self):
        # a ring inside another ring's bbox must share its cluster (fill
        # correctness depends on it)
        rings = [sq(0, 0, 100), sq(40, 40, 10), sq(300, 0, 10)]
        labels = cluster_labels(*ring_bboxes(rings))
        assert labels[0] == labels[1] != labels[2]

    def test_mutually_overlapping_is_one_component(self):
        # 64 nested squares, every pair overlapping: one component => None
        rings = [sq(0, 0, 10 + i) for i in range(64)]
        assert cluster_labels(*ring_bboxes(rings)) is None

    def test_windows_frames_are_separate_components(self):
        # windows(10): 100 frames with one hole each; each frame+hole pair is
        # its own component, numbered in input order
        subj, clip = scenarios.windows(10)
        labels = cluster_labels(*ring_bboxes(subj + clip))
        assert labels is not None and labels.max() == 99
        assert labels[: len(subj)].tolist() == list(range(100))
        assert np.array_equal(np.sort(labels[len(subj) :]), np.arange(100))
        assert np.array_equal(np.bincount(labels), np.full(100, 2))

    def test_labels_deterministic_dense(self):
        rng = np.random.default_rng(7)
        rings = [sq(int(x), int(y), 5) for x, y in rng.integers(0, 2000, size=(300, 2))]
        a = cluster_labels(*ring_bboxes(rings))
        b = cluster_labels(*ring_bboxes(rings))
        assert a is not None and np.array_equal(a, b)
        # dense 0..k-1, first-appearance order
        k = a.max() + 1
        assert set(a.tolist()) == set(range(k))
        firsts = [a.tolist().index(c) for c in range(k)]
        assert firsts == sorted(firsts)


RULES = [OverlayRule.UNION, OverlayRule.INTERSECT, OverlayRule.DIFFERENCE, OverlayRule.XOR]


class TestClusteredOverlayEquivalence:
    @pytest.mark.parametrize("rule", RULES)
    def test_random_island_soup(self, rule):
        # islands of overlapping subj/clip squares, islands far apart; the
        # one-shot overlay (>= CLUSTER_MIN_RINGS rings -> clustered path) must
        # equal the monolithic graph pipeline exactly.
        rng = np.random.default_rng(42)
        subj, clip = [], []
        for isl in range(60):
            ox, oy = int(rng.integers(0, 40)) * 1000, int(rng.integers(0, 40)) * 1000
            for _ in range(3):
                subj.append(sq(ox + int(rng.integers(0, 50)), oy + int(rng.integers(0, 50)),
                               int(rng.integers(10, 40))))
            for _ in range(2):
                clip.append(sq(ox + int(rng.integers(0, 50)), oy + int(rng.integers(0, 50)),
                               int(rng.integers(10, 40))))
        assert len(subj) + len(clip) >= 256  # clustered path engages
        got = overlay(subj, clip, rule, FillRule.NON_ZERO)
        exp = monolithic(subj, clip, rule, FillRule.NON_ZERO)
        assert canon(got) == canon(exp)

    @pytest.mark.parametrize("fill", [FillRule.EVEN_ODD, FillRule.NON_ZERO])
    def test_nested_holes_across_islands(self, fill):
        # islands whose shapes have holes; hole binding must stay intra-cluster
        subj, clip = [], []
        for isl in range(100):
            ox = isl * 500
            subj.append(sq(ox, 0, 100))          # hull
            clip.append(sq(ox + 30, 30, 40))     # punch a hole
            subj.append(sq(ox + 45, 45, 10))     # island inside the hole
        got = overlay(subj, clip, OverlayRule.DIFFERENCE, fill)
        exp = monolithic(subj, clip, OverlayRule.DIFFERENCE, fill)
        assert canon(got) == canon(exp)

    @pytest.mark.parametrize(
        "gen,n,rule",
        [
            ("not_overlap", 12, OverlayRule.UNION),
            ("windows", 9, OverlayRule.DIFFERENCE),
            ("wind_mill", 7, OverlayRule.INTERSECT),
            ("nested_squares", 40, OverlayRule.XOR),
        ],
    )
    def test_scenarios_match_monolithic(self, gen, n, rule):
        subj, clip = getattr(scenarios, gen)(n)
        got = overlay(subj, clip, rule, FillRule.NON_ZERO)
        exp = monolithic(subj, clip, rule, FillRule.NON_ZERO)
        assert canon(got) == canon(exp)


def test_clustered_overlay_imports_no_spark():
    """The clustered one-shot path is pure numpy: a fresh interpreter running
    overlay() on >= CLUSTER_MIN_RINGS rings must not import pyspark or pandas."""
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import numpy as np\n"
        "from ioverlay_spark.kernel import overlay\n"
        "from ioverlay_spark.kernel.overlay import CLUSTER_MIN_RINGS\n"
        "from ioverlay_spark.options import OverlayRule\n"
        "sq = lambda x, y: np.array([[x, y], [x + 10, y], [x + 10, y + 10], [x, y + 10]])\n"
        "subj = [sq(20 * i, 20 * j) for i in range(16) for j in range(10)]\n"
        "clip = [sq(20 * i + 5, 20 * j + 5) for i in range(16) for j in range(10)]\n"
        "assert len(subj) + len(clip) >= CLUSTER_MIN_RINGS\n"
        "assert len(overlay(subj, clip, OverlayRule.UNION)) == 160\n"
        "print(sorted(m for m in ('pyspark', 'pandas') if m in sys.modules))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"
