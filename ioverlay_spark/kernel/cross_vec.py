"""Vectorized exact cross solver (A7): classify + intersect MANY candidate pairs
in int64 numpy, with a per-row overflow mask falling back to python-int math.

Semantics are bit-identical to the scalar `split.cross_pair` (the differential
ground truth, mirrored from iOverlay/src/split/cross_solver.rs:76-311):
  - orientation-sign classification (collinear overlay / T-junction / proper cross)
  - exact integer cross point: axis-aligned cases truncate toward zero, the
    general case rounds half away from zero on magnitudes
  - snap-to-near-endpoint within `radius` for rounded crossings

Precondition (pair-local): each pair's bboxes overlap and every segment's x/y
extent is < 2^30, so every difference between the pair's endpoint coordinates
is < 2^31 at any absolute position and every product of two diffs fits int64
(split.find_marks checks this each round). The one i128 spot is the
general-case `kx = |a1x| * |xy_b|` (up to ~2^93): rows where it would overflow
int64 are masked out and routed through the scalar python-int `_cross_point` —
on real inputs these are vanishingly rare (VERDICT r02 Wrong #2 / SURVEY §2.2 A7).
"""

from __future__ import annotations

import numpy as np

from .split import _cross_point

_I64_MAX = np.iinfo(np.int64).max


def _sign(v: np.ndarray) -> np.ndarray:
    return np.sign(v).astype(np.int8)


def _lex_lt(px, py, qx, qy):
    return (px < qx) | ((px == qx) & (py < qy))


class _MarkAcc:
    """Accumulates (pair_idx, which, x, y, is_round) mark arrays."""

    def __init__(self):
        self.idx: list[np.ndarray] = []
        self.which: list[np.ndarray] = []
        self.x: list[np.ndarray] = []
        self.y: list[np.ndarray] = []
        self.rnd: list[np.ndarray] = []

    def add(self, idx, which: int, x, y, rnd: bool):
        if len(idx) == 0:
            return
        self.idx.append(np.asarray(idx, dtype=np.int64))
        self.which.append(np.full(len(idx), which, dtype=np.int8))
        self.x.append(np.asarray(x, dtype=np.int64))
        self.y.append(np.asarray(y, dtype=np.int64))
        self.rnd.append(np.full(len(idx), rnd, dtype=bool))

    def result(self):
        if not self.idx:
            z = np.empty(0, dtype=np.int64)
            return z, z.astype(np.int8), z, z, z.astype(bool)
        return (
            np.concatenate(self.idx),
            np.concatenate(self.which),
            np.concatenate(self.x),
            np.concatenate(self.y),
            np.concatenate(self.rnd),
        )


def cross_pairs_batch(tax, tay, tbx, tby, oax, oay, obx, oby, radius: int):
    """Vectorized `cross_pair` over paired endpoint arrays (both segments a<b
    normalized, bboxes overlapping, x/y extents < 2^30).

    Returns (pair_idx, which, mx, my, is_round) flat mark arrays: mark k applies
    to pair `pair_idx[k]`, on the target segment when which==0 else the other.
    """
    acc = _MarkAcc()
    m = len(tax)
    if m == 0:
        return acc.result()

    d1x, d1y = tbx - tax, tby - tay
    d2x, d2y = obx - oax, oby - oay
    o1 = _sign(d1x * (oay - tay) - d1y * (oax - tax))
    o2 = _sign(d1x * (oby - tay) - d1y * (obx - tax))
    o3 = _sign(d2x * (tay - oay) - d2y * (tax - oax))
    o4 = _sign(d2x * (tby - oay) - d2y * (tbx - oax))
    s = (
        (o1 == 0).astype(np.int8)
        + (o2 == 0).astype(np.int8)
        + (o3 == 0).astype(np.int8)
        + (o4 == 0).astype(np.int8)
    )

    # --- s == 4: collinear overlay — mark each segment at the other's strictly
    # interior endpoints (lexicographic betweenness) ---
    col = np.flatnonzero(s == 4)
    if len(col):
        for px, py, which in ((tax, tay, 1), (tbx, tby, 1)):
            ins = _lex_lt(oax[col], oay[col], px[col], py[col]) & _lex_lt(
                px[col], py[col], obx[col], oby[col]
            )
            k = col[ins]
            acc.add(k, which, px[k], py[k], False)
        for px, py, which in ((oax, oay, 0), (obx, oby, 0)):
            ins = _lex_lt(tax[col], tay[col], px[col], py[col]) & _lex_lt(
                px[col], py[col], tbx[col], tby[col]
            )
            k = col[ins]
            acc.add(k, which, px[k], py[k], False)

    crossing = (s <= 1) & (o1 != o2) & (o3 != o4)

    # --- s == 1: T-junction — one endpoint on the other's interior ---
    tj = np.flatnonzero(crossing & (s == 1))
    if len(tj):
        for cond, px, py, which in (
            (o1[tj] == 0, oax, oay, 0),
            ((o1[tj] != 0) & (o2[tj] == 0), obx, oby, 0),
            ((o1[tj] != 0) & (o2[tj] != 0) & (o3[tj] == 0), tax, tay, 1),
            ((o1[tj] != 0) & (o2[tj] != 0) & (o3[tj] != 0), tbx, tby, 1),
        ):
            k = tj[cond]
            acc.add(k, which, px[k], py[k], False)

    # --- s == 0: proper middle cross ---
    pc = np.flatnonzero(crossing & (s == 0))
    if len(pc) == 0:
        return acc.result()

    Tax, Tay, Tbx, Tby = tax[pc], tay[pc], tbx[pc], tby[pc]
    Oax, Oay, Obx, Oby = oax[pc], oay[pc], obx[pc], oby[pc]
    a1x, a1y = Tbx - Tax, Tby - Tay
    b0x, b0y = Oax - Tax, Oay - Tay
    b1x, b1y = Obx - Tax, Oby - Tay
    dy_b = b0y - b1y
    dx_b = b0x - b1x
    xy_b = b0x * b1y - b0y * b1x

    px = np.zeros(len(pc), dtype=np.int64)
    py = np.zeros(len(pc), dtype=np.int64)
    exact = np.zeros(len(pc), dtype=bool)

    vert = a1x == 0
    horz = (~vert) & (a1y == 0)
    gen = ~vert & ~horz

    if vert.any():
        k = np.flatnonzero(vert)
        n, d = xy_b[k], dx_b[k]  # d != 0: two distinct verticals never properly cross
        q = np.abs(n) // np.abs(d)
        py[k] = np.where((n >= 0) == (d >= 0), q, -q)
        exact[k] = (np.abs(n) % np.abs(d)) == 0
    if horz.any():
        k = np.flatnonzero(horz)
        n, d = -xy_b[k], dy_b[k]
        q = np.abs(n) // np.abs(d)
        px[k] = np.where((n >= 0) == (d >= 0), q, -q)
        exact[k] = (np.abs(n) % np.abs(d)) == 0
    if gen.any():
        k = np.flatnonzero(gen)
        div = a1y[k] * dx_b[k] - a1x[k] * dy_b[k]  # != 0 for proper crosses
        uxy = np.abs(xy_b[k])
        udiv = np.abs(div)
        ua1x, ua1y = np.abs(a1x[k]), np.abs(a1y[k])
        # int64-overflow mask for kx/ky = |a1{x,y}| * uxy (+ udiv/2 headroom)
        lim = (_I64_MAX >> 1) // np.maximum(np.maximum(ua1x, ua1y), 1)
        safe = uxy <= lim
        ks = k[safe]
        if len(ks):
            i = np.flatnonzero(safe)
            sg = _sign(div[i]) * _sign(xy_b[k][i])
            sx = np.where(a1x[ks] > 0, sg, -sg).astype(np.int64)
            sy = np.where(a1y[ks] > 0, sg, -sg).astype(np.int64)
            kx = ua1x[i] * uxy[i]
            ky = ua1y[i] * uxy[i]
            half = udiv[i] >> 1
            px[ks] = sx * ((kx + half) // udiv[i])
            py[ks] = sy * ((ky + half) // udiv[i])
            exact[ks] = ((kx % udiv[i]) == 0) & ((ky % udiv[i]) == 0)
        for kk in k[~safe]:  # rare i128 rows: exact python-int math
            x0, y0, ex = _cross_point(
                (int(tax[pc[kk]]), int(tay[pc[kk]]), int(tbx[pc[kk]]), int(tby[pc[kk]])),
                (int(oax[pc[kk]]), int(oay[pc[kk]]), int(obx[pc[kk]]), int(oby[pc[kk]])),
            )
            px[kk], py[kk], exact[kk] = x0 - int(tax[pc[kk]]), y0 - int(tay[pc[kk]]), ex

    px = px + Tax
    py = py + Tay

    on_t = (d1x[pc] * (py - Tay) - d1y[pc] * (px - Tax)) == 0
    on_o = (d2x[pc] * (py - Oay) - d2y[pc] * (px - Oax)) == 0
    clean = exact & on_t & on_o
    kc = np.flatnonzero(clean)
    acc.add(pc[kc], 0, px[kc], py[kc], False)
    acc.add(pc[kc], 1, px[kc], py[kc], False)

    rd = np.flatnonzero(~clean)
    if len(rd) == 0:
        return acc.result()

    # rounded: snap to nearest endpoint within radius, else keep both marks
    Px, Py = px[rd], py[rd]
    ra0 = (Tax[rd] - Px) ** 2 + (Tay[rd] - Py) ** 2
    rb0 = (Tbx[rd] - Px) ** 2 + (Tby[rd] - Py) ** 2
    ra1 = (Oax[rd] - Px) ** 2 + (Oay[rd] - Py) ** 2
    rb1 = (Obx[rd] - Px) ** 2 + (Oby[rd] - Py) ** 2
    r0 = np.minimum(ra0, rb0)
    r1 = np.minimum(ra1, rb1)
    snap = np.minimum(r0, r1) <= radius
    side0 = r0 <= r1
    q0x = np.where(ra0 < rb0, Tax[rd], Tbx[rd])
    q0y = np.where(ra0 < rb0, Tay[rd], Tby[rd])
    q1x = np.where(ra1 < rb1, Oax[rd], Obx[rd])
    q1y = np.where(ra1 < rb1, Oay[rd], Oby[rd])
    q0_on_o = (d2x[pc][rd] * (q0y - Oay[rd]) - d2y[pc][rd] * (q0x - Oax[rd])) == 0
    q1_on_t = (d1x[pc][rd] * (q1y - Tay[rd]) - d1y[pc][rd] * (q1x - Tax[rd])) == 0

    snapA = snap & side0 & ~q0_on_o  # mark OTHER at target's near endpoint
    snapB = snap & ~side0 & ~q1_on_t  # mark TARGET at other's near endpoint
    both = ~(snapA | snapB)

    kA = np.flatnonzero(snapA)
    acc.add(pc[rd[kA]], 1, q0x[kA], q0y[kA], True)
    kB = np.flatnonzero(snapB)
    acc.add(pc[rd[kB]], 0, q1x[kB], q1y[kB], True)
    kb = np.flatnonzero(both)
    acc.add(pc[rd[kb]], 0, Px[kb], Py[kb], True)
    acc.add(pc[rd[kb]], 1, Px[kb], Py[kb], True)
    return acc.result()
