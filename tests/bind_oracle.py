"""Test oracles kept out of the library: the exact even-odd point-in-ring ray
cast and the python hole-binding scan that kernel.extract.bind_holes replaced
(O(holes x segments), with its point-in-ring fallback). tests/test_bind_holes.py
checks the vectorized binder against the scan; test_mesh_fixtures.py uses the
point-in-ring test to sample shape membership."""

from __future__ import annotations

import numpy as np

from ioverlay_spark.kernel.extract import ring_area2


def point_in_ring(x: int, y: int, ring) -> bool:
    """Exact even-odd ray cast (downward ray, [ax, bx) convention)."""
    inside = False
    n = len(ring)
    for i in range(n):
        ax, ay = int(ring[i][0]), int(ring[i][1])
        bx, by = int(ring[(i + 1) % n][0]), int(ring[(i + 1) % n][1])
        if ax > bx:
            ax, ay, bx, by = bx, by, ax, ay
        if ax <= x < bx:
            if (by - ay) * (x - ax) < (y - ay) * (bx - ax):
                inside = not inside
    return inside


def bind_holes_scan(hulls: list, holes: list) -> list[list]:
    """Assign each hole to its parent ring via the nearest segment strictly below the
    hole's left-bottom anchor (reference ShapeBinder, iOverlay/src/bind/solver.rs:25-236),
    resolving hole->hole transitively; PIP fallback."""
    shapes = [[h] for h in hulls]
    if not holes:
        return shapes
    hulls = [r.tolist() if isinstance(r, np.ndarray) else r for r in hulls]
    holes_scan = [r.tolist() if isinstance(r, np.ndarray) else r for r in holes]

    seg_rows = []  # (ax, ay, bx, by, kind, ridx)
    for kind, rings in ((0, hulls), (1, holes_scan)):
        for ridx, ring in enumerate(rings):
            n = len(ring)
            ccw = ring_area2(ring) > 0
            for i in range(n):
                ax, ay = int(ring[i][0]), int(ring[i][1])
                bx, by = int(ring[(i + 1) % n][0]), int(ring[(i + 1) % n][1])
                if ax == bx:
                    continue
                # a hull segment witnesses only when the hull's interior lies
                # above it: a CCW ring has interior above its +x edges
                if kind == 0 and (ax < bx) != ccw:
                    continue
                if ax > bx:
                    ax, ay, bx, by = bx, by, ax, ay
                seg_rows.append((ax, ay, bx, by, kind, ridx))

    anchors = []
    for hidx, ring in enumerate(holes_scan):
        k = min(range(len(ring)), key=lambda i: (int(ring[i][0]), int(ring[i][1])))
        anchors.append((int(ring[k][0]), int(ring[k][1]), hidx))

    parent_of_hole: dict[int, tuple[int, int]] = {}
    for x, y, hidx in anchors:
        best = None
        for ax, ay, bx, by, kind, ridx in seg_rows:
            if kind == 1 and ridx == hidx:
                continue
            if not (ax <= x < bx):
                continue
            den = bx - ax
            num = ay * den + (by - ay) * (x - ax)
            if num >= y * den:
                continue
            if best is None or num * best[1] > best[0] * den:
                best = (num, den, kind, ridx)
        if best is not None:
            parent_of_hole[hidx] = (best[2], best[3])

    def hull_of(hidx, depth=0):
        if depth > len(holes) + 1:
            return None
        p = parent_of_hole.get(hidx)
        if p is None:
            return None
        kind, ridx = p
        if kind == 0:
            return ridx
        return hull_of(ridx, depth + 1)

    for x, y, hidx in anchors:
        hull_idx = hull_of(hidx)
        if hull_idx is None:
            containing = [i for i, h in enumerate(hulls) if point_in_ring(x, y, h)]
            if not containing:
                continue
            hull_idx = min(containing, key=lambda i: abs(ring_area2(hulls[i])))
        shapes[hull_idx].append(holes[hidx])
    return shapes
