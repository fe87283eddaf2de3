"""Differential tests: batched tile kernel (kernel/batch.py) vs the scalar per-pair
kernel — results must be BIT-IDENTICAL (the batch is an execution strategy, not an
approximation), across random stars (crossings + snap rounding), holes, degenerate
inputs, all 7 rules, both common fill rules, and the reference's executed golden
fixtures run as one batch per fill-rule group."""

import math
import random
from pathlib import Path

import numpy as np
import pytest

from ioverlay_spark.kernel.batch import overlay_batch
from ioverlay_spark.kernel.overlay import build_graph
from ioverlay_spark.kernel.fixtures import FIXTURE_DIR, load_fixture, shapes_match_any
from ioverlay_spark.options import ALL_RULES, FillRule, OverlayOptions

RULES = list(ALL_RULES)


def rect(x, y, w, h):
    return np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]], dtype=np.int64)


def star(cx, cy, r1, r2, n, rot=0.0):
    pts = []
    for k in range(2 * n):
        r = r1 if k % 2 == 0 else r2
        a = rot + math.pi * k / n
        pts.append([int(cx + r * math.cos(a)), int(cy + r * math.sin(a))])
    return np.array(pts, dtype=np.int64)


def assert_batch_equals_scalar(jobs, fill_rule):
    batch = overlay_batch(jobs, RULES, fill_rule)
    for k, ((subj, clip), b) in enumerate(zip(jobs, batch)):
        g = build_graph(subj, clip, fill_rule)
        for rule in RULES:
            sl = [[r.tolist() for r in s] for s in g.extract(rule)]
            bl = [[r.tolist() for r in s] for s in b[rule]]
            assert sl == bl, f"job {k} rule {rule.value}"


@pytest.mark.parametrize("fill_rule", [FillRule.EVEN_ODD, FillRule.NON_ZERO])
def test_batch_random_stars(fill_rule):
    rnd = random.Random(11)
    jobs = []
    for _ in range(120):
        cx, cy = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        subj = [star(cx, cy, rnd.randrange(50, 4000), rnd.randrange(10, 2000), rnd.randrange(3, 9), rnd.random())]
        clip = [
            star(
                cx + rnd.randrange(-500, 500),
                cy + rnd.randrange(-500, 500),
                rnd.randrange(50, 4000),
                rnd.randrange(10, 2000),
                rnd.randrange(3, 9),
                rnd.random(),
            )
        ]
        jobs.append((subj, clip))
    assert_batch_equals_scalar(jobs, fill_rule)


def test_batch_holes_and_degenerates():
    rnd = random.Random(13)
    jobs = []
    for _ in range(40):
        x, y = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        outer = rect(x, y, 2000, 2000)
        hole = rect(x + 500, y + 500, 800, 800)[::-1].copy()
        jobs.append(([outer, hole], [rect(x + 300, y + 300, 1500, 1500)]))
    jobs += [
        ([], [rect(0, 0, 10, 10)]),
        ([rect(0, 0, 10, 10)], []),
        ([np.array([[0, 0], [5, 0], [10, 0]], dtype=np.int64)], [rect(0, 0, 4, 4)]),
        (
            [np.array([[0, 0], [5, 0], [10, 0], [10, 10], [5, 10], [0, 10]], dtype=np.int64)],
            [rect(2, 2, 4, 4)],
        ),
        ([], []),
        ([rect(0, 0, 100, 100)], [rect(0, 0, 100, 100)]),
    ]
    rnd.shuffle(jobs)
    assert_batch_equals_scalar(jobs, FillRule.EVEN_ODD)


def test_batch_result_independent_of_batch_composition():
    """A job's result must not depend on its batch mates or slot position."""
    jobs = [([rect(i * 7, i * 3, 100 + i, 80 + i)], [rect(i * 7 + 30, i * 3 + 20, 90, 70)]) for i in range(20)]
    full = overlay_batch(jobs, RULES, FillRule.EVEN_ODD)
    rev = overlay_batch(jobs[::-1], RULES, FillRule.EVEN_ODD)[::-1]
    for a, b in zip(full, rev):
        for rule in RULES:
            assert [[r.tolist() for r in s] for s in a[rule]] == [
                [r.tolist() for r in s] for s in b[rule]
            ]


@pytest.mark.skipif(
    not Path(FIXTURE_DIR).exists(), reason=f"fixture corpus {FIXTURE_DIR} not available"
)
def test_batch_passes_executed_golden_fixtures():
    """All reference-executed fixtures, grouped by fill rule, run as batches."""
    executed = list(range(144)) + [150, 151, 152]
    opts = OverlayOptions.fixture_defaults()
    by_rule: dict = {}
    for i in executed:
        fx = load_fixture(i)
        by_rule.setdefault(fx["fill_rule"], []).append((i, fx))
    for fill_rule, items in by_rule.items():
        jobs = [(fx["subj"], fx["clip"]) for _, fx in items]
        res = overlay_batch(jobs, RULES, fill_rule, opts)
        for (i, fx), r in zip(items, res):
            for rule, variants in fx["expected"].items():
                assert shapes_match_any(r[rule], variants), f"fixture {i} rule {rule.value}"


def test_batch_shifted_rects_with_holes():
    """Shifted rect pairs, every fifth subject with a hole: the vectorized
    degree-2 walk serves the INTERSECT/UNION/DIFFERENCE tiles, XOR's crossing
    tiles take the exact scalar-trigger replay, and hole-bearing tiles the
    hole binding — all bit-identical to the per-job scalar kernel."""
    rng = np.random.default_rng(23)
    jobs = []
    for k in range(250):
        x1, y1 = int(rng.integers(0, 1 << 18)), int(rng.integers(0, 1 << 18))
        w, h = int(rng.integers(64, 2048)), int(rng.integers(64, 2048))
        subj = [rect(x1, y1, w, h)]
        if k % 5 == 0:  # nested: union has a hole
            subj.append(
                np.array(
                    [
                        [x1 + w // 4, y1 + h // 4],
                        [x1 + w // 4, y1 + 3 * h // 4],
                        [x1 + 3 * w // 4, y1 + 3 * h // 4],
                        [x1 + 3 * w // 4, y1 + h // 4],
                    ],
                    np.int64,
                )
            )
        jobs.append((subj, [rect(x1 + w // 3, y1 + h // 3, w, h)]))
    assert_batch_equals_scalar(jobs, FillRule.EVEN_ODD)


def test_overlay_hull_holes_far_hull_through_batch(monkeypatch):
    """overlay() of one hull with 16^2 holes plus a far disjoint hull clusters
    into two jobs and runs through the batch kernel; its shapes equal
    build_graph's extract of the whole input (rings compared from their
    lexmin vertex, shapes order-free)."""
    import ioverlay_spark.kernel.batch as batch
    from ioverlay_spark.kernel.overlay import overlay
    from ioverlay_spark.options import OverlayRule
    from ioverlay_spark.scenarios import hull_holes

    subj, clip = hull_holes(16)
    subj = subj + [rect(1 << 20, 0, 330, 330)]
    calls = []
    flat_out = batch.overlay_batch_flat_out

    def spy(P, counts, ring_job, ring_subj, nj, *rest):
        calls.append(nj)
        return flat_out(P, counts, ring_job, ring_subj, nj, *rest)

    monkeypatch.setattr(batch, "overlay_batch_flat_out", spy)

    def canon(shapes):
        def ring(r):
            r = np.asarray(r).tolist()
            k = r.index(min(r))
            return tuple(map(tuple, r[k:] + r[:k]))

        return sorted((ring(s[0]), tuple(sorted(ring(h) for h in s[1:]))) for s in shapes)

    got = overlay(subj, clip, OverlayRule.DIFFERENCE)
    assert calls == [2]
    want = build_graph(subj, clip).extract(OverlayRule.DIFFERENCE)
    assert canon(got) == canon(want)
    assert len(got) == 2 and sorted(len(s) for s in got) == [1, 257]
