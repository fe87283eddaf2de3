"""Differential test of kernel.extract.walk_rings against the python trigger
loop it replaced (tests/walk_oracle.py): exact rings, hole flags and order,
over one slot and over many slots shifted into disjoint x-tiles, on both
graph builds (_PY_GRAPH_LINKS patched to 0 sends every graph through the
numpy node pass, a huge value every graph through the python-built one).
_check is shared with test_kernel_basic's random-soup and pinch-dense
differentials; this module keeps the degenerate, long-ring and
wide-coordinate cases."""

from __future__ import annotations

import numpy as np
import pytest
from walk_oracle import walk_contours

from ioverlay_spark.kernel import extract
from ioverlay_spark.kernel.extract import boundary_mask, walk_rings
from ioverlay_spark.kernel.fill import compute_fills_windowed
from ioverlay_spark.kernel.segments import Segments, build_segments
from ioverlay_spark.kernel.split import split_segments
from ioverlay_spark.options import FillRule, OverlayRule

RULES = (OverlayRule.UNION, OverlayRule.INTERSECT, OverlayRule.XOR, OverlayRule.DIFFERENCE)


def _contours(rings):
    out, o = [], 0
    for n, hole in zip(rings.lens.tolist(), rings.hole.tolist()):
        out.append((list(zip(rings.x[o:o + n].tolist(), rings.y[o:o + n].tolist())), hole))
        o += n
    return out


def _check(cases, rule, clockwise=False):
    """walk_rings over each (segs, fills, mask) case alone and over all cases
    as slots of one tiled batch equals the oracle's per-case walk, on both
    graph builds."""
    want = [walk_contours(s, f, rule, clockwise, mk) for s, f, mk in cases]
    for links in (0, 1 << 62):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(extract, "_PY_GRAPH_LINKS", links)
            _check_build(cases, want, rule, clockwise)


def _check_build(cases, want, rule, clockwise):
    for (s, f, mk), w in zip(cases, want):
        z = np.zeros(1, dtype=np.int64)
        r = walk_rings(s, mk, f, np.array([0, len(s)]), rule, clockwise, z, z)
        assert _contours(r) == w
    r = _walk_batch(cases, rule, clockwise)
    got, slot = _contours(r), r.slot.tolist()
    assert slot == sorted(slot)
    for k, w in enumerate(want):
        assert [c for c, sl in zip(got, slot) if sl == k] == w


def _walk_batch(cases, rule, clockwise=False):
    """walk_rings over (segs, fills, mask) cases as the slots of one tiled
    batch, case k shifted to x-tile k and up by yoff[k] (rings come back in
    case coordinates)."""
    lo = min((int(s.ax.min()) for s, _, _ in cases if len(s)), default=0)
    hi = max((int(s.bx.max()) for s, _, _ in cases if len(s)), default=0)
    W = hi - lo + 8
    off = np.arange(len(cases), dtype=np.int64) * W - lo
    yoff = np.arange(len(cases), dtype=np.int64) * 5 + 3
    cols = [np.concatenate([getattr(s, c) + (off[k] if c[1] == "x" else yoff[k])
                            for k, (s, _, _) in enumerate(cases)])
            for c in ("ax", "ay", "bx", "by")]
    n = np.array([len(s) for s, _, _ in cases])
    starts = np.concatenate([[0], np.cumsum(n)])
    z = np.zeros(int(starts[-1]), dtype=np.int64)
    return walk_rings(
        Segments(*cols, z, z), np.concatenate([mk for _, _, mk in cases]),
        np.concatenate([f for _, f, _ in cases]), starts, rule, clockwise, off, yoff,
    )


def _graph(subj, clip, fill_rule=FillRule.NON_ZERO):
    segs = split_segments(Segments.concat(
        [build_segments(subj, True), build_segments(clip, False)]
    ))
    return segs, compute_fills_windowed(segs, fill_rule)


def _cases(graphs, rule):
    return [(s, f, boundary_mask(f, rule)) for s, f in graphs]


def test_degenerate_fills():
    """Random fills on a crossing soup make boundary sets with dangling
    degree-1 ends and isolated links (one-point rings, dead ends)."""
    rng = np.random.default_rng(7)
    cases = []
    for _ in range(12):
        s, _ = _graph([rng.integers(-40, 40, (int(rng.integers(4, 30)), 2))], [])
        f = rng.integers(0, 16, len(s)).astype(np.uint8)
        cases.append((s, f, rng.random(len(s)) < 0.6))
    for rule in RULES:
        _check(cases, rule)
    # a lone link and a path: the one-point ring and the dead end
    lone = Segments(*(np.array(v, dtype=np.int64) for v in
                      ([0, 5, 6], [0, 0, 1], [3, 6, 9], [4, 1, 3], [1, 1, 1], [0, 0, 0])))
    f = np.full(3, 1, dtype=np.uint8)
    _check([(lone, f, np.ones(3, dtype=bool))], OverlayRule.UNION)


def test_long_rings_in_a_batch():
    """300-vertex circles next to small pinch jobs: rings past 256 points in a
    many-slot batch."""
    t = np.linspace(0, 2 * np.pi, 300, endpoint=False)
    circ = lambda r, cx: np.stack(
        [np.round(cx + r * np.cos(t)), np.round(r * np.sin(t))], axis=1
    ).astype(np.int64)
    sq = lambda x, y, s: np.array([[x, y], [x + s, y], [x + s, y + s], [x, y + s]])
    graphs = [
        _graph([circ(10000, 0)], [circ(6000, 5000)]),
        _graph([sq(0, 0, 100)], [sq(100, 100, 100)]),
        _graph([circ(9000, 0)], []),
        _graph([sq(0, 0, 100), sq(50, 50, 100)], [sq(25, 25, 100)]),
    ]
    for rule in RULES:
        _check(_cases(graphs, rule), rule)


@pytest.mark.parametrize("base", [(1 << 31) - 500, (1 << 41) + 12345])
def test_wide_coordinates(base):
    """Coordinates near 2^31 and 2^41 (the packed node key and the int32
    narrow mode stop at 2^31 spans)."""
    rng = np.random.default_rng(base % 1000)
    graphs = []
    for _ in range(4):
        rs = []
        for _ in range(4):
            x0, y0 = (rng.integers(0, 6, 2) * 40).astype(np.int64)
            rs.append(np.array([[x0, y0], [x0 + 80, y0], [x0 + 80, y0 + 40], [x0, y0 + 40]]))
        s, f = _graph(rs[::2], rs[1::2], FillRule.EVEN_ODD)
        graphs.append((Segments(s.ax, s.ay + base, s.bx, s.by + base, s.subj, s.clip), f))
    far = np.array([[0, 0], [1 << 32, 0], [1 << 32, 1 << 31], [0, 1 << 31]], dtype=np.int64)
    graphs.append(_graph([far + base], [far // 2 + base]))
    for rule in RULES:
        _check(_cases(graphs, rule), rule)


@pytest.mark.parametrize("rot", [0.0, 0.37, 1.1])
def test_wide_many_vertex_rings(rot):
    """Regular polygons of 200 and 150 vertices with radii near 2^40: the
    left-top pick's corner cross products reach ~2^66, past int64."""
    def ngon(n, r, cx=0):
        t = rot + np.linspace(0, 2 * np.pi, n, endpoint=False)
        return np.stack([np.round(cx + r * np.cos(t)), np.round(r * np.sin(t))],
                        axis=1).astype(np.int64)

    graphs = [
        _graph([ngon(200, 1 << 40), ngon(150, 1 << 39)[::-1]], []),
        _graph([ngon(200, 1 << 40)], [ngon(160, 3 << 38, 1 << 39)]),
        _graph([ngon(130, 1 << 41)], []),
    ]
    for rule in RULES:
        for cw in (False, True):
            _check(_cases(graphs, rule), rule, cw)


def _rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.int64)


# a diamond hole whose bottom corner touches the frame's bottom edge at (50, 0)
_DIAMOND = np.array([[50, 0], [70, 20], [50, 40], [30, 20]], dtype=np.int64)


def _pinch_graphs():
    """Hull and hole rings meeting at one node: a hole touching its hull,
    two holes touching at a corner, and even-odd frames with both next to a
    clip square."""
    return [
        _graph([_rect(0, 0, 100, 100)], [_DIAMOND]),
        _graph([_rect(0, 0, 100, 100)], [_rect(20, 20, 50, 50), _rect(50, 50, 80, 80)]),
        _graph([_rect(0, 0, 100, 100), _rect(20, 20, 50, 50), _rect(50, 50, 80, 80)],
               [_rect(90, 0, 140, 40)], FillRule.EVEN_ODD),
        _graph([_rect(0, 0, 100, 100), _DIAMOND, _rect(50, 50, 80, 80),
                _rect(20, 40, 50, 50)], [_rect(90, 0, 140, 40)], FillRule.EVEN_ODD),
    ]


def _flagship_graphs(n, seed):
    """L-hexagon x rect jobs shaped like the flagship workload's: axis-aligned
    crossings, corner touches and containment at small sizes."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        x1, y1 = (int(v) for v in rng.integers(0, 64, 2))
        x2, y2 = x1 + int(rng.integers(8, 64)), y1 + int(rng.integers(8, 64))
        xm, ym = (x1 + x2) // 2, (y1 + y2) // 2
        hexa = np.array([[x1, y1], [x2, y1], [x2, ym], [xm, ym], [xm, y2], [x1, y2]])
        cx1, cy1 = x1 + int(rng.integers(-16, 48)), y1 + int(rng.integers(-16, 48))
        if rng.random() < 0.3:  # a corner on the hexagon's inner corner
            cx1, cy1 = xm, ym
        cx2, cy2 = cx1 + int(rng.integers(4, 64)), cy1 + int(rng.integers(4, 64))
        out.append(_graph([hexa], [_rect(cx1, cy1, cx2, cy2)], FillRule.EVEN_ODD))
    return out


def _lines_net(n):
    """n vertical (subject) x n horizontal (clip) strips of width 10 at
    spacing 20: under XOR every strip crossing is a degree-4 node."""
    s = 10 * n
    starts = range(-s + 5, -s + 5 + 20 * n, 20)
    return _graph([_rect(x, -s, x + 10, s) for x in starts],
                  [_rect(-s, y, s, y + 10) for y in starts])


@pytest.mark.parametrize("rule", [OverlayRule.UNION, OverlayRule.XOR, OverlayRule.DIFFERENCE])
@pytest.mark.parametrize("cw", [False, True])
def test_junction_hull_hole_rings(rule, cw):
    """Hull and hole rings through one node walk as the oracle does: a hull
    that merges a touching hole into one self-touching ring, holes that meet
    at a corner, under both output orientations."""
    _check(_cases(_pinch_graphs(), rule), rule, cw)


def test_flagship_shaped_batch():
    """L-hexagon x rect jobs as one batch: XOR crossings make degree-4 nodes
    in a quarter or so of the slots."""
    graphs = _flagship_graphs(96, 5)
    for rule in (OverlayRule.INTERSECT, OverlayRule.UNION, OverlayRule.XOR):
        for cw in (False, True):
            _check(_cases(graphs, rule), rule, cw)


@pytest.mark.parametrize("base", [(1 << 31) - 500, (1 << 41) + 12345])
def test_wide_junctions(base):
    """Junction slots whose spans pass 2^31 (the int64 angle and left-top
    products give way to python ints): corner-touch XOR squares and holes
    meeting at a corner, scaled past 2^31 and shifted to base."""
    graphs = []
    for sub, clip in (
        ([_rect(0, 0, 2, 2)], [_rect(2, 2, 4, 4)]),
        ([_rect(0, 0, 4, 4)], [_rect(1, 1, 2, 2), _rect(2, 2, 3, 3)]),
        ([_rect(0, 0, 4, 2)], [_rect(2, 0, 3, 1), _rect(2, 1, 4, 3)]),
    ):
        k = (1 << 31) + 7
        graphs.append(_graph([r * k + base for r in sub], [r * k + base for r in clip]))
    for rule in (OverlayRule.XOR, OverlayRule.DIFFERENCE, OverlayRule.UNION):
        for cw in (False, True):
            _check(_cases(graphs, rule), rule, cw)


def _loop_spans(cases, rule, batch=True):
    """How many slots walk_rings sends to the python trigger loop, with every
    graph on the numpy node pass."""
    spans = []
    loop = extract._trigger_loop

    def counting(g, sp, hole_at, clockwise):
        sp = list(sp)
        spans.extend(sp)
        return loop(g, sp, hole_at, clockwise)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(extract, "_trigger_loop", counting)
        mp.setattr(extract, "_PY_GRAPH_LINKS", 0)
        if batch:
            _walk_batch(cases, rule)
        else:
            for s, f, mk in cases:
                z = np.zeros(1, dtype=np.int64)
                walk_rings(s, mk, f, np.array([0, len(s)]), rule, False, z, z)
    return len(spans)


def test_junction_routing():
    """Junction slots take the vectorized walk: a flagship-shaped XOR batch,
    the XOR strip net and the pinch cases send no slot to the trigger loop; a
    fan of triangles through one point, whose left-top pick there sees more
    than two links, still goes to it."""
    flag = _cases(_flagship_graphs(96, 11), OverlayRule.XOR)
    assert _loop_spans(flag, OverlayRule.XOR) == 0
    net = _cases([_lines_net(16)], OverlayRule.XOR)
    assert _loop_spans(net, OverlayRule.XOR, batch=False) == 0
    for rule in (OverlayRule.UNION, OverlayRule.XOR, OverlayRule.DIFFERENCE):
        assert _loop_spans(_cases(_pinch_graphs(), rule), rule) == 0
    # the walks above passed through junctions
    deg4 = np.unique(np.concatenate([
        np.stack([s.ax[mk], s.ay[mk]], 1) for s, _, mk in net
    ] + [np.stack([s.bx[mk], s.by[mk]], 1) for s, _, mk in net]), axis=0, return_counts=True)[1]
    assert (deg4 == 4).sum() >= 16 * 16
    tris = [np.array([[0, 0], [200, 10 * k - 40], [200, 10 * k - 35]]) for k in range(8)]
    fan = _cases([_graph(tris[::2], tris[1::2])], OverlayRule.UNION)
    assert _loop_spans(fan, OverlayRule.UNION) == 1
    _check(fan, OverlayRule.UNION)


def test_float_tied_angles():
    """Three links leave one node at angles a float atan2 cannot tell apart
    (directions (-K, K), (-K-1, K), (-K-2, K), K = 2^55), in incidence order
    opposite to their exact angle order: the exact pairwise check catches the
    float sort and the slot keeps the oracle's rings."""
    k = 1 << 55
    a = np.array([[0, 0], [-k, 0], [0, -k]], dtype=np.int64)
    b = np.array([[0, 0], [0, k], [-k, k]], dtype=np.int64)
    c = np.array([[0, 0], [-(k + 1), k], [-(k + 2), k]], dtype=np.int64)
    graphs = [_graph([a, c], [b])]
    for rule in (OverlayRule.UNION, OverlayRule.XOR):
        for cw in (False, True):
            _check(_cases(graphs, rule), rule, cw)
