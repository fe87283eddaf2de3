"""Reference performance-scenario geometry generators.

Each function re-derives (in vectorized numpy, not a transliteration) the
input geometry of one scenario from the reference benchmark harness
`performance/rust_app/src/test/` so that this repo can run the same nine
workloads end-to-end:

- many_squares / not_overlap      test_1_not_overlap.rs:100-140, util.rs:33-57
- many_windows / windows          test_4_windows.rs:97-126, util.rs:59-95
- hull_holes                      no reference row: one hull, k^2 holes
- concentric_squares / nested     test_5_nested_squares.rs:124-160, util.rs:97-140
- corrosion                       test_6_corrosion.rs:97-168
- concentric (rings + satellites) test_7_concentric.rs:97-172
- wind_mill                       test_8_wind_mill.rs:95-210

(checkerboard, lines_net and spiral already have their own audited paths:
bench.py flagship, audits/lines_net_audit.py, audits/scenarios_audit.py spiral.)

All integer scenarios emit (k, 2) int64 arrays; float scenarios emit float64
and are meant for the float shell (i32-scale adapter, like the reference's
FloatOverlay<[f64;2], i32> rows).
"""
from __future__ import annotations

import math

import numpy as np

_SQUARE = np.array([[0, 0], [0, 1], [1, 1], [1, 0]], dtype=np.int64)


def many_squares(start_x: int, start_y: int, size: int, offset: int, n: int) -> list[np.ndarray]:
    """n x n grid of CCW-listed axis squares (util.rs:33-57)."""
    xs = start_x + offset * np.arange(n, dtype=np.int64)
    ys = start_y + offset * np.arange(n, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)  # row-major: y outer, x inner, like the reference loop
    origins = np.stack([gx.ravel(), gy.ravel()], axis=1)
    # reference vertex order: (x,y),(x,y+s),(x+s,y+s),(x+s,y)
    ring = _SQUARE[[0, 1, 2, 3]] * size
    rings = origins[:, None, :] + ring[None, :, :]
    return list(rings)


def not_overlap(n: int) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Disjoint 10-unit squares on a 30-unit grid; clip grid offset by (15,15)
    so nothing touches (test_1_not_overlap.rs:100-118). Union is the identity:
    every input square survives unchanged."""
    subj = many_squares(0, 0, 10, 30, n)
    clip = many_squares(15, 15, 10, 30, n - 1)
    return subj, clip


def many_windows(
    start_x: int, start_y: int, a: int, b: int, offset: int, n: int
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """n x n window frames: a-sized boundary squares + centered b-sized cutouts
    (util.rs:59-95). Returns (boundaries, holes) both CCW-listed."""
    c = (a - b) // 2
    d = b + c
    xs = start_x + offset * np.arange(n, dtype=np.int64)
    ys = start_y + offset * np.arange(n, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    origins = np.stack([gx.ravel(), gy.ravel()], axis=1)
    boundary = _SQUARE * a
    hole = c + _SQUARE * (d - c)
    return (
        list(origins[:, None, :] + boundary[None, :, :]),
        list(origins[:, None, :] + hole[None, :, :]),
    )


def windows(n: int) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """test_4_windows.rs:97-110: 20-unit frames with 10-unit cutouts on a
    30-unit grid centered at the origin. DIFFERENCE keeps n^2 square frames."""
    offset = 30
    x = n * offset // 2
    return many_windows(-x, -x, 20, 10, offset, n)


def hull_holes(k: int) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """One (20k+10)-unit square minus a k x k grid of 10-unit squares on a
    20-unit pitch. DIFFERENCE keeps ONE shape with k^2 holes: one cluster,
    so only the hole binder decides its cost."""
    return [_SQUARE * (20 * k + 10)], many_squares(10, 10, 10, 20, k)


def concentric_squares(a: int, n: int) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """n rings of 4 bars each: (vertical bars, horizontal bars), ring k has
    half-extent r = 2a(k+1) (util.rs:97-140). XOR of the two sets keeps each
    bar minus its two a x a corner overlaps."""
    vert: list[np.ndarray] = []
    horz: list[np.ndarray] = []
    s = 2 * a
    for k in range(n):
        r = s * (k + 1)
        horz.append(np.array([[-r, r - a], [-r, r], [r, r], [r, r - a]], dtype=np.int64))
        horz.append(np.array([[-r, -r], [-r, -r + a], [r, -r + a], [r, -r]], dtype=np.int64))
        vert.append(np.array([[-r, -r], [-r, r], [-r + a, r], [-r + a, -r]], dtype=np.int64))
        vert.append(np.array([[r - a, -r], [r - a, r], [r, r], [r, -r]], dtype=np.int64))
    return vert, horz


def nested_squares(n: int) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """test_5_nested_squares.rs:124-131 uses concentric_squares(a=2, n)."""
    return concentric_squares(2, n)


def _regular_gon(cx: float, cy: float, radius: float, count: int, phase: float = 0.0,
                 direction: float = 1.0) -> np.ndarray:
    ang = phase + direction * 2.0 * math.pi * np.arange(count) / count
    return np.stack([np.cos(ang) * radius + cx, np.sin(ang) * radius + cy], axis=1)


def _corrosion_shapes(offset: float, step: float, radius: float, count: int) -> list[np.ndarray]:
    paths = []
    y = -offset
    for i in range(count):
        index = i
        x = -offset
        for _ in range(count):
            paths.append(_regular_gon(x, y, radius, (index % 5) + 3))
            x += step
            index += 1
        y += step
    return paths


def corrosion(n: int, size: float = 100.0) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """test_6_corrosion.rs:122-168: an n x n grid of 3..7-gons (subject) minus a
    denser 2.5n x 2.5n grid of small 3..7-gons (clip). Float geometry."""
    subj_radius = 0.4 * size
    clip_radius = 0.4 * subj_radius
    clip_count = int(round(n * 2.5))
    subj = _corrosion_shapes(0.0, size, subj_radius, n)
    clip = _corrosion_shapes(subj_radius, 0.4 * size, clip_radius, clip_count)
    return subj, clip


def concentric(n: int, size: float = 100.0) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """test_7_concentric.rs:122-172: n annuli (CW body ring + CCW hole ring,
    radius growing by 2*size, rotating by 0.05/ring) intersected with chains of
    small 3..7-gons riding each body circle. Float geometry."""
    subj: list[np.ndarray] = []
    clip: list[np.ndarray] = []
    r = size
    scale = 0.8 / size
    angle = 0.0
    rr = 0.5 * size
    for i in range(n):
        subj.append(_regular_gon(0.0, 0.0, r, i + 3, phase=angle, direction=-1.0))
        subj.append(_regular_gon(0.0, 0.0, r + size, i + 3, phase=angle, direction=1.0))
        length = 2.0 * math.pi * r
        m = length * scale
        clip_count = int(m)
        da = 2.0 * math.pi / m
        a = angle
        for j in range(clip_count):
            x = math.cos(a) * r
            y = math.sin(a) * r
            clip.append(_regular_gon(x, y, rr, j % 5 + 3))
            a += da
        r += 2.0 * size
        angle += 0.05
    return subj, clip


# Per-cell wind_mill templates in units of a = size/8 (test_8_wind_mill.rs:156-210):
# 4 clip rectangles and 4 subject triangles arranged around the cell center.
_WM_CLIP = [
    np.array([[-3, 1], [-3, 3], [-1, 3], [-1, 1]], dtype=np.int64),
    np.array([[1, 2], [1, 4], [3, 4], [3, 2]], dtype=np.int64),
    np.array([[-2, -3], [-2, -1], [0, -1], [0, -3]], dtype=np.int64),
    np.array([[2, -2], [2, 0], [4, 0], [4, -2]], dtype=np.int64),
]
_WM_SUBJ = [
    np.array([[0, 0], [-3, 0], [0, 3]], dtype=np.int64),
    np.array([[0, 1], [0, 4], [3, 1]], dtype=np.int64),
    np.array([[1, 0], [1, -3], [-2, 0]], dtype=np.int64),
    np.array([[1, 1], [4, 1], [1, -2]], dtype=np.int64),
]


def wind_mill(n: int, size: int = 80) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """test_8_wind_mill.rs:95-210: n x n cells, each holding 4 pinwheel subject
    triangles and 4 clip rectangles scaled by a = size/8. The reference's own
    validate() asserts INTERSECT yields exactly n^2 shapes."""
    a = size // 8
    subj: list[np.ndarray] = []
    clip: list[np.ndarray] = []
    x = size // 2
    for _ in range(n):
        y = size // 2
        for _ in range(n):
            center = np.array([x, y], dtype=np.int64)
            subj.extend(center + t * a for t in _WM_SUBJ)
            clip.extend(center + t * a for t in _WM_CLIP)
            y += size
        x += size
    return subj, clip
