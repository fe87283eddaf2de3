"""Output options across the three extract consumers: the batch tail
(overlay_batch_flat_out), the scalar kernel (build_graph + extract_shapes) and
the distributed fused walk (distributed_extract._fused_extract_arrays on the
boundary). Every ring goes through the one validator, so min_output_area and
preserve_output_collinear must give one answer — the same rings, start
vertices and area2 — on all three."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from ioverlay_spark.kernel.batch import overlay_batch_flat_out
from ioverlay_spark.kernel.extract import boundary_mask, extract_shapes
from ioverlay_spark.kernel.overlay import build_graph
from ioverlay_spark.operators.distributed_extract import _fused_extract_arrays
from ioverlay_spark.options import ALL_RULES, FillRule, OverlayOptions

OPTION_SETS = [
    OverlayOptions(min_output_area=50_000),
    OverlayOptions(preserve_output_collinear=True),
    OverlayOptions(preserve_output_collinear=True, min_output_area=50_000),
]


def _rect(x, y, w, h):
    return np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]], dtype=np.int64)


def _star(cx, cy, r1, r2, n, rot):
    return np.array(
        [
            [
                int(cx + (r1 if k % 2 == 0 else r2) * math.cos(rot + math.pi * k / n)),
                int(cy + (r1 if k % 2 == 0 else r2) * math.sin(rot + math.pi * k / n)),
            ]
            for k in range(2 * n)
        ],
        dtype=np.int64,
    )


def _jobs(seed: int, n: int):
    """Stars, donuts, and rect pairs sharing an edge line (the split leaves
    collinear vertices on the output boundary)."""
    rnd = random.Random(seed)
    jobs = []
    for j in range(n):
        x, y = rnd.randrange(0, 100_000), rnd.randrange(0, 100_000)
        kind = j % 3
        if kind == 0:
            subj = [_star(x, y, rnd.randrange(60, 600), rnd.randrange(20, 300),
                          rnd.randrange(3, 8), rnd.random())]
            clip = [_star(x + rnd.randrange(-200, 200), y + rnd.randrange(-200, 200),
                          rnd.randrange(60, 600), rnd.randrange(20, 300),
                          rnd.randrange(3, 8), rnd.random())]
        elif kind == 1:
            w = rnd.randrange(200, 900)
            t = rnd.randrange(20, w // 3)
            subj = [_rect(x, y, w, w), _rect(x + t, y + t, w - 2 * t, w - 2 * t)[::-1].copy()]
            clip = [_rect(x + rnd.randrange(-100, w), y + rnd.randrange(-100, w),
                          rnd.randrange(50, 500), rnd.randrange(50, 500))]
        else:
            w, h = rnd.randrange(100, 700), rnd.randrange(100, 700)
            dx = rnd.randrange(10, w)
            subj = [_rect(x, y, w, h)]
            clip = [_rect(x + dx, y, rnd.randrange(50, 700), rnd.randrange(50, 700))]
        jobs.append((subj, clip))
    return jobs


def _flatten(jobs):
    rings, ring_job, ring_subj = [], [], []
    for j, (subj, clip) in enumerate(jobs):
        for rs, is_subj in ((subj, True), (clip, False)):
            rings += rs
            ring_job += [j] * len(rs)
            ring_subj += [is_subj] * len(rs)
    counts = np.array([len(r) for r in rings], dtype=np.int64)
    return (np.concatenate(rings), counts, np.array(ring_job, dtype=np.int64),
            np.array(ring_subj, dtype=bool), len(jobs))


@pytest.mark.parametrize(
    "options", OPTION_SETS, ids=lambda o: f"{o.preserve_output_collinear}-{o.min_output_area}"
)
def test_options_one_answer_across_consumers(options):
    fill_rule = FillRule.NON_ZERO
    jobs = _jobs(7, 100)
    flat = overlay_batch_flat_out(*_flatten(jobs), list(ALL_RULES), fill_rule, options)
    dropped = collinear = 0
    for j, (subj, clip) in enumerate(jobs):
        g = build_graph(subj, clip, fill_rule, options)
        for rule in ALL_RULES:
            shapes, areas = extract_shapes(g.segments, g.fills, rule, options, with_areas=True)
            want = [
                (s, c, ring.tolist(), int(a))
                for s, (shape, s_areas) in enumerate(zip(shapes, areas))
                for c, (ring, a) in enumerate(zip(shape, s_areas))
            ]
            # batch tail: same rings, same order
            job, sid, cidx, lens, pts, a2 = flat[rule]
            sel = np.flatnonzero(job == j)
            offs = np.concatenate([[0], np.cumsum(lens)])
            got = [
                (int(sid[i]), int(cidx[i]), pts[offs[i]:offs[i + 1]].tolist(), int(a2[i]))
                for i in sel
            ]
            assert got == want, f"batch job {j} rule {rule.value}"

            # distributed fused walk over the boundary: same ring multiset
            b = boundary_mask(g.fills, rule)
            s = g.segments
            if not b.any():
                assert want == []
                continue
            tbl = _fused_extract_arrays(
                rule, options, s.ax[b], s.ay[b], s.bx[b], s.by[b], g.fills[b]
            ).to_pydict()
            got_d = sorted(
                (h, list(map(list, zip(px, py))), a)
                for h, px, py, a in zip(
                    tbl["is_hole"], tbl["pts_x"], tbl["pts_y"], tbl["area2"]
                )
            )
            assert got_d == sorted((c > 0, r, a) for _, c, r, a in want), (
                f"distributed job {j} rule {rule.value}"
            )
            # the option must bite somewhere in the run
            dropped += int(len(want) < _ring_count(g, rule))
            collinear += sum(_has_collinear(r) for _, _, r, _ in want)
    if options.min_output_area:
        assert dropped > 0
    if options.preserve_output_collinear:
        assert collinear > 0


def _ring_count(g, rule) -> int:
    shapes = extract_shapes(
        g.segments, g.fills, rule, OverlayOptions(preserve_output_collinear=True)
    )
    return sum(len(shape) for shape in shapes)


def _has_collinear(ring) -> bool:
    n = len(ring)
    for i in range(n):
        (ax, ay), (bx, by), (cx, cy) = ring[i - 1], ring[i], ring[(i + 1) % n]
        if (bx - ax) * (cy - by) == (by - ay) * (cx - bx):
            return True
    return False


def test_area2_past_int64_raises_value_error():
    """A ring whose doubled area does not fit the LONG area2 column (a 2^40-side
    square with a 2^39 hole: area2 ~2^81) raises a ValueError that names
    area2, from the distributed fused extract and from the batch output
    writer alike."""
    from ioverlay_spark.operators.overlay_df import _shapes_batch
    from ioverlay_spark.options import OverlayRule

    s = 1 << 40
    hull = _rect(0, 0, s, s)
    hole = _rect(s // 4, s // 4, s // 2, s // 2)[::-1]
    g = build_graph([hull, hole], [], FillRule.NON_ZERO)
    rule = OverlayRule.SUBJECT
    b = boundary_mask(g.fills, rule)
    seg = g.segments
    with pytest.raises(ValueError, match="area2.*int64"):
        _fused_extract_arrays(
            rule, OverlayOptions(), seg.ax[b], seg.ay[b], seg.bx[b], seg.by[b], g.fills[b]
        )
    res = overlay_batch_flat_out(
        np.concatenate([hull, hole]), np.array([4, 4]), np.array([0, 0]),
        np.array([True, True]), 1, [rule], FillRule.NON_ZERO,
    )
    with pytest.raises(ValueError, match="area2.*int64"):
        _shapes_batch(res, [rule], np.array([7], dtype=np.int64))
