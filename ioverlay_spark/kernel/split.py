"""Self-intersection resolution: snap-rounded segment splitting to a fixpoint.

Semantics match the reference split stage:
- pair classification & exact integer intersection with round-half-away-from-zero
  (iOverlay/src/split/cross_solver.rs:76-311),
- snap-to-near-endpoint within a growing radius 2^(start + k*step), capped at 2^60
  (iOverlay/src/split/snap_radius.rs:5-27),
- mark application: sort marks along the segment, dedupe, split into sub-segments,
  re-sort + re-merge (iOverlay/src/split/solver.rs:158-302),
- repeat rounds while any intersection required rounding
  (iOverlay/src/split/solver_list.rs:27-64).

One round's mark finding is `find_marks`: every bbox-overlapping pair from
overlap.overlap_pairs (the one bbox-overlap enumerator), then exact math
through the vectorized int64 solver (cross_vec.cross_pairs_batch) whenever
every segment's x/y extent is under 2^30, at any absolute position; beyond
that the python-int scalar `cross_pair` per candidate pair. The list split (split_segments), the
string split (string_slice.split_segments_string) and the Spark cell kernel
(operators/distributed._find_marks_kernel, one grid cell per applyInArrow
group, SURVEY.md A6) all call it.
"""

from __future__ import annotations

import numpy as np

from .overlap import overlap_pairs
from .segments import Segments, sort_and_merge


def _orient(ax, ay, bx, by, cx, cy) -> int:
    """sign of cross(b-a, c-a); +1 = c is left (CCW) of a->b."""
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return (v > 0) - (v < 0)


def _cross_point(t, o):
    """Exact integer intersection of two properly-crossing segments, reference rounding
    (iOverlay/src/split/cross_solver.rs:218-311): translate by t.a, axis-aligned special
    cases use truncating division, general case rounds half away from zero on magnitudes.
    Returns (x, y, exact: bool)."""
    tax, tay, tbx, tby = t
    oax, oay, obx, oby = o
    a1x = tbx - tax
    b0x = oax - tax
    b1x = obx - tax
    a1y = tby - tay
    b0y = oay - tay
    b1y = oby - tay

    dy_b = b0y - b1y
    dx_b = b0x - b1x
    xy_b = b0x * b1y - b0y * b1x

    if a1x == 0:
        x0 = 0
        n, d = xy_b, dx_b
        q = abs(n) // abs(d)
        y0 = q if (n >= 0) == (d >= 0) else -q
        exact = (abs(n) % abs(d)) == 0
    elif a1y == 0:
        y0 = 0
        n, d = -xy_b, dy_b
        q = abs(n) // abs(d)
        x0 = q if (n >= 0) == (d >= 0) else -q
        exact = (abs(n) % abs(d)) == 0
    else:
        div = a1y * dx_b - a1x * dy_b
        s = (1 if div > 0 else -1) * (1 if xy_b > 0 else (-1 if xy_b < 0 else 0))
        sx = (1 if a1x > 0 else -1) * s
        sy = (1 if a1y > 0 else -1) * s
        uxy_b = abs(xy_b)
        udiv = abs(div)
        kx = abs(a1x) * uxy_b
        ky = abs(a1y) * uxy_b
        # divide with rounding (round half up on magnitudes)
        ux = (kx + (udiv >> 1)) // udiv
        uy = (ky + (udiv >> 1)) // udiv
        x0 = sx * ux
        y0 = sy * uy
        exact = (kx % udiv) == 0 and (ky % udiv) == 0
    return x0 + tax, y0 + tay, exact


def _on_line(ax, ay, bx, by, px, py) -> bool:
    return (bx - ax) * (py - ay) - (by - ay) * (px - ax) == 0


def _sqr_dist(ax, ay, bx, by) -> int:
    return (ax - bx) ** 2 + (ay - by) ** 2


def cross_pair(ti, tj, radius):
    """Classify a candidate pair. Returns (marks, is_round) where marks is a list of
    (which, x, y) with which in {0 (target/i), 1 (other/j)}.

    Mirrors CrossSolver::cross + SplitSolver::cross mark routing
    (iOverlay/src/split/cross_solver.rs:76-216, iOverlay/src/split/solver.rs:85-158)."""
    tax, tay, tbx, tby = ti
    oax, oay, obx, oby = tj
    o1 = _orient(tax, tay, tbx, tby, oax, oay)  # a0b0a1
    o2 = _orient(tax, tay, tbx, tby, obx, oby)  # a0b0b1
    o3 = _orient(oax, oay, obx, oby, tax, tay)  # a1b1a0
    o4 = _orient(oax, oay, obx, oby, tbx, tby)  # a1b1b0
    s = (o1 == 0) + (o2 == 0) + (o3 == 0) + (o4 == 0)

    if s == 4:
        # collinear overlay: mark each segment at the other's strictly-interior endpoints
        marks = []
        # endpoint strictly inside test via lexicographic betweenness (segments a<b lex)
        def inside(px, py, ax, ay, bx, by):
            lo = (ax, ay) < (px, py)
            hi = (px, py) < (bx, by)
            return lo and hi

        if inside(tax, tay, oax, oay, obx, oby):
            marks.append((1, tax, tay))
        if inside(tbx, tby, oax, oay, obx, oby):
            marks.append((1, tbx, tby))
        if inside(oax, oay, tax, tay, tbx, tby):
            marks.append((0, oax, oay))
        if inside(obx, oby, tax, tay, tbx, tby):
            marks.append((0, obx, oby))
        return marks, False

    if s > 1 or o1 == o2 or o3 == o4:
        return [], False

    if s == 1:
        # T-junction: one endpoint lies on the other segment's interior
        if o1 == 0:
            return [(0, oax, oay)], False
        if o2 == 0:
            return [(0, obx, oby)], False
        if o3 == 0:
            return [(1, tax, tay)], False
        return [(1, tbx, tby)], False

    # proper middle cross
    px, py, exact = _cross_point(ti, tj)
    if exact and _on_line(tax, tay, tbx, tby, px, py) and _on_line(oax, oay, obx, oby, px, py):
        return [(0, px, py), (1, px, py)], False

    # rounded: snap to nearest endpoint within radius (r >= 2 covers 1^2+1^2)
    ra0 = _sqr_dist(tax, tay, px, py)
    rb0 = _sqr_dist(tbx, tby, px, py)
    ra1 = _sqr_dist(oax, oay, px, py)
    rb1 = _sqr_dist(obx, oby, px, py)
    if min(ra0, rb0, ra1, rb1) <= radius:
        r0 = min(ra0, rb0)
        r1 = min(ra1, rb1)
        if r0 <= r1:
            qx, qy = (tax, tay) if ra0 < rb0 else (tbx, tby)
            if not _on_line(oax, oay, obx, oby, qx, qy):
                return [(1, qx, qy)], True
        else:
            qx, qy = (oax, oay) if ra1 < rb1 else (obx, oby)
            if not _on_line(tax, tay, tbx, tby, qx, qy):
                return [(0, qx, qy)], True
    return [(0, px, py), (1, px, py)], True


_SOLVE_BLOCK = 1 << 21  # candidate pairs per exact-solve block (bounds peak memory)


def find_marks(segs: Segments, radius: int, threads: int | None = None):
    """One split round's marks: every bbox-overlapping pair (overlap_pairs)
    classified and intersected exactly with snap radius `radius` (cross_pair).
    Precondition: segs sorted by (a, b). Returns flat arrays (seg_idx, mx, my,
    is_round, col_ovl): mark k splits segment seg_idx[k] at (mx[k], my[k]);
    col_ovl flags marks from collinear-overlap pairs, the only pairs whose
    sub-segments can coincide after the apply.

    The one int64 gate: with every segment's x/y extent < 2^30 (measured in
    uint64, exact for any int64 endpoints), each difference between the
    endpoints of a bbox-overlapping pair is < 2^31 at any absolute position,
    so the vectorized solver (cross_vec.cross_pairs_batch) is exact. Past the
    gate the python-int cross_pair solves every pair and col_ovl is True."""
    pairs = overlap_pairs(
        segs.ax, segs.bx, np.minimum(segs.ay, segs.by), np.maximum(segs.ay, segs.by), threads
    )
    ci, cj = pairs[:, 0], pairs[:, 1]

    def extent(a, b):
        lo, hi = np.minimum(a, b).view(np.uint64), np.maximum(a, b).view(np.uint64)
        return int((hi - lo).max(initial=0))

    if max(extent(segs.ax, segs.bx), extent(segs.ay, segs.by)) < (1 << 30):
        from .batch import interacting_mask
        from .cross_vec import cross_pairs_batch

        def ends(idx):
            return segs.ax[idx], segs.ay[idx], segs.bx[idx], segs.by[idx]

        out = []
        for s in range(0, len(pairs), _SOLVE_BLOCK):
            bi, bj = ci[s : s + _SOLVE_BLOCK], cj[s : s + _SOLVE_BLOCK]
            pid, which, mx, my, rnd = cross_pairs_batch(*ends(bi), *ends(bj), radius)
            i, j = bi[pid], bj[pid]
            _, col = interacting_mask(*ends(i), *ends(j), with_collinear=True)
            out.append((np.where(which == 0, i, j), mx, my, rnd, col))
        if out:
            return tuple(np.concatenate(c) for c in zip(*out))
        z = np.empty(0, dtype=np.int64)
        return z, z, z, z.astype(bool), z.astype(bool)
    rows = np.stack([segs.ax, segs.ay, segs.bx, segs.by], axis=1).tolist()
    marks = []  # (seg_idx, x, y, is_round)
    for i, j in pairs.tolist():
        pm, rnd = cross_pair(tuple(rows[i]), tuple(rows[j]), radius)
        marks += [(i if which == 0 else j, x, y, rnd) for which, x, y in pm]
    m = np.array(marks, dtype=np.int64).reshape(-1, 4)
    return m[:, 0], m[:, 1], m[:, 2], m[:, 3].astype(bool), np.ones(len(m), dtype=bool)


def _apply_marks(
    segs: Segments, marks: list[tuple[int, int, int]], parents: bool = False
) -> Segments | tuple[Segments, np.ndarray]:
    """Split segments at their marks; sub-marks ordered along the segment
    (iOverlay/src/split/solver.rs:158-302): x ascending, y toward b at equal x.
    Degenerate sub-segments (marks equal to an endpoint, duplicates) dropped.
    Vectorized: dedupe + per-segment ordering via one lexsort, chains assembled
    as one flat (a, marks..., b) point array, consecutive pairs by slicing —
    the per-mark python walk this replaces (kept as _apply_marks_ref, the
    differential ground truth) dominated heavy split rounds.

    marks is either a list of (seg_idx, x, y) tuples (scalar path) or a
    (seg_idx, x, y) triple of int64 arrays (the vectorized solver's native
    output — no per-mark python round-trip).

    parents=True also returns, for every output row, the index of the input
    segment it came from (kept rows, then each sub-segment's parent): callers
    carrying per-segment payload copy it onto the output with one take."""
    if isinstance(marks, tuple):
        mi, mx, my = (np.asarray(a, dtype=np.int64) for a in marks)
    else:
        m = np.asarray(marks, dtype=np.int64).reshape(-1, 3)
        mi, mx, my = m[:, 0], m[:, 1], m[:, 2]
    # drop marks at the segment's own endpoints
    at_end = ((mx == segs.ax[mi]) & (my == segs.ay[mi])) | (
        (mx == segs.bx[mi]) & (my == segs.by[mi])
    )
    keep_mask = np.ones(len(segs), dtype=bool)
    keep_mask[mi] = False  # any marked segment is rebuilt (even endpoint-only
    # marks: the scalar walk also dropped and re-emitted it unchanged — but it
    # re-emitted the SAME segment, so keep those instead
    endpoint_only = np.setdiff1d(mi[at_end], mi[~at_end])
    keep_mask[endpoint_only] = True
    mi, mx, my = mi[~at_end], mx[~at_end], my[~at_end]
    if len(mi) == 0:
        return (segs, np.arange(len(segs), dtype=np.int64)) if parents else segs
    # order along the segment, then dedupe identical (seg, point) triples
    ysign = np.where(segs.by[mi] >= segs.ay[mi], 1, -1)
    order = np.lexsort((ysign * my, mx, mi))
    mi, mx, my = mi[order], mx[order], my[order]
    dup = np.concatenate(
        [[False], (mi[1:] == mi[:-1]) & (mx[1:] == mx[:-1]) & (my[1:] == my[:-1])]
    )
    mi, mx, my = mi[~dup], mx[~dup], my[~dup]
    # flat chains: for each marked segment (ascending index, matching the
    # sorted mi runs): a, its marks in order, b
    seg_ids, counts = np.unique(mi, return_counts=True)
    k = len(seg_ids)
    tot = int(counts.sum()) + 2 * k
    px = np.empty(tot, dtype=np.int64)
    py = np.empty(tot, dtype=np.int64)
    bounds = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(counts + 2)])
    px[bounds[:-1]] = segs.ax[seg_ids]
    py[bounds[:-1]] = segs.ay[seg_ids]
    px[bounds[1:] - 1] = segs.bx[seg_ids]
    py[bounds[1:] - 1] = segs.by[seg_ids]
    mark_pos = np.arange(len(mi), dtype=np.int64)
    run_start = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(counts)])[:-1]
    owner = np.searchsorted(run_start, mark_pos, side="right") - 1
    px[bounds[owner] + 1 + (mark_pos - run_start[owner])] = mx
    py[bounds[owner] + 1 + (mark_pos - run_start[owner])] = my
    # consecutive pairs within each chain (drop the seam between chains)
    idx = np.arange(tot - 1, dtype=np.int64)
    chain = np.searchsorted(bounds, idx, side="right") - 1
    inner = idx != bounds[chain + 1] - 1
    ax0, ay0 = px[:-1][inner], py[:-1][inner]
    bx0, by0 = px[1:][inner], py[1:][inner]
    parent = seg_ids[chain[inner]]
    so = segs.subj[parent]
    co = segs.clip[parent]
    # re-normalize: original direction a->b is "forward"; a sub-segment keeps
    # the original count if still forward after a<b normalization, else negates
    fwd = (ax0 < bx0) | ((ax0 == bx0) & (ay0 < by0))
    nax = np.where(fwd, ax0, bx0)
    nay = np.where(fwd, ay0, by0)
    nbx = np.where(fwd, bx0, ax0)
    nby = np.where(fwd, by0, ay0)
    nz = (nax != nbx) | (nay != nby)
    kept = np.flatnonzero(keep_mask)
    extra = Segments(
        nax[nz],
        nay[nz],
        nbx[nz],
        nby[nz],
        np.where(fwd, so, -so)[nz],
        np.where(fwd, co, -co)[nz],
    )
    out = Segments.concat([segs.take(kept), extra])
    return (out, np.concatenate([kept, parent[nz]])) if parents else out


def _apply_marks_ref(segs: Segments, marks: list[tuple[int, int, int]]) -> Segments:
    """Scalar reference implementation of _apply_marks (differential tests)."""
    by_seg: dict[int, set[tuple[int, int]]] = {}
    for idx, x, y in marks:
        by_seg.setdefault(idx, set()).add((x, y))

    keep_mask = np.ones(len(segs), dtype=bool)
    new_rows = []  # (ax, ay, bx, by, subj, clip)
    for idx, pts in by_seg.items():
        keep_mask[idx] = False
        a = (int(segs.ax[idx]), int(segs.ay[idx]))
        b = (int(segs.bx[idx]), int(segs.by[idx]))
        subj = int(segs.subj[idx])
        clip = int(segs.clip[idx])
        # order along the segment: x ascending, y toward b at equal x
        ysign = 1 if b[1] >= a[1] else -1
        chain = sorted(pts - {a, b}, key=lambda p: (p[0], ysign * p[1]))
        prev = a
        for p in chain + [b]:
            if p == prev:
                continue
            pa, pb = (prev, p) if prev < p else (p, prev)
            cnt_fwd = prev < p
            # re-normalize: original direction a->b is "forward"; sub-segment prev->p
            # keeps the original count if still forward after a<b normalization,
            # else count negates (same rule as ingest normalization).
            if cnt_fwd:
                new_rows.append((pa[0], pa[1], pb[0], pb[1], subj, clip))
            else:
                new_rows.append((pa[0], pa[1], pb[0], pb[1], -subj, -clip))
            prev = p

    base = segs.take(np.flatnonzero(keep_mask))
    if not new_rows:
        return base
    arr = np.array(new_rows, dtype=np.int64)
    extra = Segments(arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3], arr[:, 4], arr[:, 5])
    return Segments.concat([base, extra])


def split_segments(
    segs: Segments, start: int = 0, step: int = 1, max_rounds: int = 64, threads: int | None = None
) -> Segments:
    """Run the snap-radius fixpoint loop to an intersection-free merged segment set.

    Radius progression 2^(start + k*step) capped at 2^60, matching Precision::HIGH
    defaults (iOverlay/src/core/solver.rs:47-51, iOverlay/src/split/snap_radius.rs).
    `threads` goes to the pair enumeration (see overlap.overlap_pairs)."""
    segs = sort_and_merge(segs)
    exp = start
    for _ in range(max_rounds):
        if len(segs) < 2:
            return segs
        seg_idx, mx, my, rnd, _ = find_marks(segs, 1 << exp, threads)
        if not len(seg_idx):
            return segs
        segs = sort_and_merge(_apply_marks(segs, (seg_idx, mx, my)))
        exp = min(60, exp + step)
        if not rnd.any():
            return segs
    return segs
