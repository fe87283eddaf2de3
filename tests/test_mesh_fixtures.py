"""Port of the reference stroke/outline fixture corpora
(/root/reference/iOverlay/tests/stroke/*.json, tests/outline/*.json — consumed
by the reference's overlay_editor example; the corpus ships inputs only, no
golden outputs, so the port asserts exact structural invariants instead):

stroke fixtures (open polylines, every cap/join style):
  - output rings are valid (>= 3 points, nonzero area), hulls positive;
  - the stroke band COVERS every input edge midpoint and EXCLUDES points far
    from the path (exact integer point-in-shape tests);
  - total area is bounded by the analytic band area +- cap/join slack and is
    monotone in width.

outline fixtures (closed contours):
  - dilation contains every original boundary vertex, erosion stays inside;
  - area is monotone in the offset;
  - rings stay valid through both directions.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest
from bind_oracle import point_in_ring

from ioverlay_spark.kernel.buffering import LineCap, LineJoin, outline, stroke
from ioverlay_spark.kernel.extract import ring_area2

STROKE_DIR = Path("/root/reference/iOverlay/tests/stroke")
OUTLINE_DIR = Path("/root/reference/iOverlay/tests/outline")

pytestmark = pytest.mark.skipif(
    not STROKE_DIR.exists(), reason="reference fixture corpus not available"
)


def _load(path: Path, key: str) -> list[np.ndarray]:
    d = json.loads(path.read_text())
    scale = float(d.get("scale", 1.0))
    return [
        np.round(np.asarray(p, dtype=np.float64) * scale).astype(np.int64)
        for p in d[key]
    ]


def _in_shapes(x: int, y: int, shapes) -> bool:
    for shape in shapes:
        if point_in_ring(x, y, shape[0]) and not any(
            point_in_ring(x, y, hole) for hole in shape[1:]
        ):
            return True
    return False


def _total_area2(shapes) -> int:
    return sum(abs(ring_area2(shape[0])) - sum(abs(ring_area2(h)) for h in shape[1:])
               for shape in shapes)


def _check_rings_valid(shapes):
    for shape in shapes:
        assert len(shape) >= 1
        assert ring_area2(shape[0]) != 0
        for ring in shape:
            assert len(ring) >= 3


def _path_length(path: np.ndarray) -> float:
    d = np.diff(path, axis=0)
    return float(np.hypot(d[:, 0], d[:, 1]).sum())


@pytest.mark.parametrize("fx", sorted(STROKE_DIR.glob("*.json"), key=lambda p: p.name))
@pytest.mark.parametrize(
    "cap,join",
    [
        (LineCap.BUTT, LineJoin.BEVEL),
        (LineCap.ROUND, LineJoin.ROUND),
        (LineCap.BUTT, LineJoin.MITER),
    ],
)
def test_stroke_fixture(fx, cap, join):
    paths = _load(fx, "stroke")
    w = 2000.0  # 2.0 at the fixture scale
    for path in paths:
        shapes = stroke(path, w, cap=cap, join=join)
        assert shapes, f"{fx.name}: empty stroke"
        _check_rings_valid(shapes)

        # coverage: every edge midpoint lies strictly inside the band
        for k in range(len(path) - 1):
            mx = int((path[k][0] + path[k + 1][0]) // 2)
            my = int((path[k][1] + path[k + 1][1]) // 2)
            assert _in_shapes(mx, my, shapes), f"{fx.name}: midpoint {k} not covered"

        # exclusion: a point far outside the inflated bbox is outside
        fx_, fy_ = int(path[:, 0].max() + 10 * w), int(path[:, 1].max() + 10 * w)
        assert not _in_shapes(fx_, fy_, shapes)

        # analytic area bounds: band area w*L, plus at most two caps and a
        # join disc per vertex (radius w/2 each), minus overlap slack
        L = _path_length(path)
        area = _total_area2(shapes) / 2.0
        upper = w * L + (len(path) + 2) * (w * w)
        d = np.diff(path, axis=0)
        lmax = float(np.hypot(d[:, 0], d[:, 1]).max())
        assert 0.5 * w * lmax <= area <= upper, f"{fx.name}: area {area} vs L {L}"


@pytest.mark.parametrize("fx", sorted(STROKE_DIR.glob("*.json"), key=lambda p: p.name))
def test_stroke_fixture_width_monotone(fx):
    paths = _load(fx, "stroke")
    for path in paths:
        a1 = _total_area2(stroke(path, 1000.0))
        a2 = _total_area2(stroke(path, 3000.0))
        assert a2 > a1 > 0


@pytest.mark.parametrize("fx", sorted(OUTLINE_DIR.glob("*.json"), key=lambda p: p.name))
@pytest.mark.parametrize("join", [LineJoin.ROUND, LineJoin.BEVEL])
def test_outline_fixture_dilate(fx, join):
    rings = _load(fx, "outline")
    base = outline(rings)  # simplified original
    if not base:
        pytest.skip("degenerate fixture input")
    delta = 1500.0
    grown = outline(rings, outer_offset=delta, join=join)
    _check_rings_valid(grown)
    assert _total_area2(grown) > _total_area2(base)
    if join == LineJoin.ROUND:
        # strict containment holds for ROUND joins only: a bevel chord at a
        # near-180-degree spike corner legitimately passes THROUGH the vertex
        # (chord distance (w/2)*cos(phi/2) -> 0), so on-boundary vertices are
        # expected there
        for shape in base:
            for ring in shape:
                for x, y in ring:
                    assert _in_shapes(int(x), int(y), grown), f"{fx.name}: vertex escaped"


@pytest.mark.parametrize("fx", sorted(OUTLINE_DIR.glob("*.json"), key=lambda p: p.name))
def test_outline_fixture_erode(fx):
    rings = _load(fx, "outline")
    base = outline(rings)
    if not base:
        pytest.skip("degenerate fixture input")
    delta = 1200.0
    shrunk = outline(rings, inner_offset=delta)
    _check_rings_valid(shrunk)
    assert _total_area2(shrunk) < _total_area2(base)
    # every eroded hull vertex stays inside the original
    for shape in shrunk:
        for x, y in shape[0]:
            assert _in_shapes(int(x), int(y), base), f"{fx.name}: erosion escaped"


@pytest.mark.parametrize("fx", sorted(OUTLINE_DIR.glob("*.json"), key=lambda p: p.name))
def test_outline_fixture_offset_monotone(fx):
    rings = _load(fx, "outline")
    base = outline(rings)
    if not base:
        pytest.skip("degenerate fixture input")
    a_small = _total_area2(outline(rings, outer_offset=500.0))
    a_big = _total_area2(outline(rings, outer_offset=2500.0))
    assert _total_area2(base) < a_small < a_big