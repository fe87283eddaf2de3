"""Contour extraction: filter boundary segments by overlay rule, walk the link graph
exactly as the reference does, bind holes to hulls.

Faithful re-derivation of the reference's extraction semantics:
- inclusion filter per rule on the 4-bit SegmentFill (iOverlay/src/build/boolean.rs:156-285)
  expressed as "TOP-side membership != BOTTOM-side membership";
- contour walk (iOverlay/src/core/extract.rs:64-230): start at the first unvisited link
  in (a,b) order, refine to the left-top link at its a-node
  (iOverlay/src/core/extract.rs:400-470), classify hole vs hull via is_fill_top
  (iOverlay/src/core/overlay_rule.rs:24-39), then walk with nearest-vector turns whose
  rotation depends on hole/hull and output direction
  (iOverlay/src/core/extract.rs:479-583, iOverlay/src/core/nearest_vector.rs) — this is
  what merges region boundaries into self-touching contours at pinch nodes, matching the
  golden fixtures;
- hole binding via the left-bottom anchor and the nearest segment strictly below
  (iOverlay/src/bind/solver.rs:25-236): one vectorized ray shot per anchor on the
  fill's segment tree, hole->hole parents resolved by pointer jumping.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from ..options import ContourDirection, OverlayOptions, OverlayRule
from .fill import (
    CLIP_BOTTOM,
    CLIP_TOP,
    SUBJ_BOTTOM,
    SUBJ_TOP,
    int64_operands,
    segtree_below,
    segtree_build,
)
from .segments import Segments


def rule_inside(subj_in: np.ndarray, clip_in: np.ndarray, rule: OverlayRule) -> np.ndarray:
    """Region membership of the boolean result given per-operand membership."""
    if rule == OverlayRule.SUBJECT:
        return subj_in
    if rule == OverlayRule.CLIP:
        return clip_in
    if rule == OverlayRule.INTERSECT:
        return subj_in & clip_in
    if rule == OverlayRule.UNION:
        return subj_in | clip_in
    if rule == OverlayRule.DIFFERENCE:
        return subj_in & ~clip_in
    if rule == OverlayRule.INVERSE_DIFFERENCE:
        return clip_in & ~subj_in
    if rule == OverlayRule.XOR:
        return subj_in ^ clip_in
    raise ValueError(rule)


def boundary_mask(fills: np.ndarray, rule: OverlayRule) -> np.ndarray:
    """A segment is a result boundary iff the result membership differs between its
    TOP and BOTTOM sides — equivalent to the reference's per-rule inclusion filters."""
    s_top = (fills & SUBJ_TOP) != 0
    s_bot = (fills & SUBJ_BOTTOM) != 0
    c_top = (fills & CLIP_TOP) != 0
    c_bot = (fills & CLIP_BOTTOM) != 0
    return rule_inside(s_top, c_top, rule) != rule_inside(s_bot, c_bot, rule)


def is_fill_top(fill: int, rule: OverlayRule) -> bool:
    """Is the region on the TOP side of this segment inside the result
    (iOverlay/src/core/overlay_rule.rs:24-39)?"""
    s_top = (fill & SUBJ_TOP) != 0
    c_top = (fill & CLIP_TOP) != 0
    return bool(rule_inside(np.bool_(s_top), np.bool_(c_top), rule))


def _cross(ux, uy, vx, vy):
    return ux * vy - uy * vx


def _nearest_link(c, va, cands, clockwise: bool):
    """NearestVector (iOverlay/src/core/nearest_vector.rs): among candidate links at
    node c, the nearest to vector va by the given rotation. cands: [(ox, oy, link_id)]
    with (ox, oy) = the candidate's other endpoint."""
    rf = 1 if clockwise else -1
    ox, oy, best = cands[0]
    vbx, vby = ox - c[0], oy - c[1]
    ab180 = _cross(va[0], va[1], vbx, vby) * rf >= 0
    for ox, oy, lid in cands[1:]:
        vpx, vpy = ox - c[0], oy - c[1]
        ap180 = _cross(va[0], va[1], vpx, vpy) * rf >= 0
        if ab180 == ap180:
            if _cross(vpx, vpy, vbx, vby) * rf < 0:
                vbx, vby, best = vpx, vpy, lid
        elif ab180:
            ab180 = False
            vbx, vby, best = vpx, vpy, lid
    return best


class _LinkGraph:
    """Boundary links + node incidence, mirroring OverlayGraph (nodes/links)."""

    def __init__(self, pts_a, pts_b, fills):
        self.a = pts_a  # list[(x, y)]
        self.b = pts_b
        self.fill = fills
        m = self.m = len(pts_a)
        if m < 256:
            # tiny graph (the batched-kernel common case): dict insertion beats
            # the np.unique/argsort constant costs by a wide margin.
            # a_node/b_node/visited stay PLAIN PYTHON lists throughout the walk:
            # every read in the walk loop is a scalar access from Python, where
            # numpy scalar indexing costs ~10x a list index
            node_ids: dict[tuple[int, int], int] = {}
            incid: list[list[int]] = []
            node_pt: list[tuple[int, int]] = []
            self.a_node = [0] * m
            self.b_node = [0] * m
            for e in range(m):
                for end, arr in ((pts_a[e], self.a_node), (pts_b[e], self.b_node)):
                    nid = node_ids.get(end)
                    if nid is None:
                        nid = len(node_ids)
                        node_ids[end] = nid
                        incid.append([])
                        node_pt.append(end)
                    arr[e] = nid
                    incid[nid].append(e)
            self.incid = incid
            self.node_pt = node_pt
            return
        # large graph: vectorized node building — first-occurrence-ordered unique
        # endpoint ids (identical to the dict loop: endpoints scanned in
        # (a0, b0, a1, b1, ...) order)
        ends = np.empty((2 * m, 2), dtype=np.int64)
        ends[0::2] = np.asarray(pts_a, dtype=np.int64).reshape(m, 2)
        ends[1::2] = np.asarray(pts_b, dtype=np.int64).reshape(m, 2)
        v = ends.view([("x", np.int64), ("y", np.int64)]).ravel()
        uniq, first, inv = np.unique(v, return_index=True, return_inverse=True)
        order = np.argsort(first, kind="stable")
        rank = np.empty_like(order)
        rank[order] = np.arange(len(order))
        node = rank[inv]
        self.a_node = node[0::2].tolist()
        self.b_node = node[1::2].tolist()
        n_nodes = len(uniq)
        link_of = np.repeat(np.arange(m, dtype=np.int64), 2)
        grp = np.argsort(node, kind="stable")
        counts = np.bincount(node, minlength=n_nodes)
        # slice a plain python list per node — np.split would allocate one
        # numpy array per node, ~10x the cost at mega-graph scale
        sl = link_of[grp].tolist()
        offs = np.concatenate(([0], np.cumsum(counts))).tolist()
        self.incid = [sl[offs[i]:offs[i + 1]] for i in range(n_nodes)]
        pts_first = ends[first[order]]
        self.node_pt = list(map(tuple, pts_first.tolist()))

    def other(self, link: int, node: int) -> int:
        return int(self.b_node[link]) if self.a_node[link] == node else int(self.a_node[link])

    def other_pt(self, link: int, node: int):
        return self.b[link] if self.a_node[link] == node else self.a[link]

    def next_link(self, link: int, node: int, clockwise: bool, visited) -> int:
        """Reference next_link (iOverlay/src/core/extract.rs:479-583)."""
        inc = self.incid[node]
        if len(inc) == 2:
            # degree-2 node (the overwhelming case): the incoming link is
            # already visited, so at most one candidate remains
            i0, i1 = inc
            if visited[i0]:
                return -1 if visited[i1] else i1
            if visited[i1]:
                return i0
            cands = inc
        else:
            cands = [i for i in inc if not visited[i]]
        if not cands:
            return -1
        if len(cands) == 1:
            return cands[0]
        c = self.node_pt[node]
        # va = back along the incoming link
        if self.a_node[link] == node:
            apt = self.b[link]
        else:
            apt = self.a[link]
        va = (apt[0] - c[0], apt[1] - c[1])
        cl = [(self.other_pt(i, node)[0], self.other_pt(i, node)[1], i) for i in cands]
        return _nearest_link(c, va, cl, clockwise)

    def left_top_link(self, link: int, visited) -> int:
        """Reference find_left_top_link (iOverlay/src/core/extract.rs:400-470): at the
        start link's a-node, the unvisited link with the topmost direction."""
        node = int(self.a_node[link])
        top = link
        ta = self.a[top]
        tb = self.b[top]
        for i in self.incid[node]:
            if i == top:
                continue
            cb = self.b[i]
            # skip if cb is clockwise of (ta -> tb)
            if _cross(tb[0] - ta[0], tb[1] - ta[1], cb[0] - ta[0], cb[1] - ta[1]) < 0:
                continue
            if visited[i]:
                continue
            top = i
            ta = self.a[top]
            tb = self.b[top]
        return top


def walk_contours(
    segs: Segments,
    fills: np.ndarray,
    rule: OverlayRule,
    clockwise_output: bool,
    boundary: np.ndarray | None = None,
    graph: "_LinkGraph | None" = None,
) -> list[tuple[list[tuple[int, int]], bool]]:
    """Extract all contours for a rule. Returns [(ring_points, is_hole)].

    boundary: optional precomputed boundary_mask(fills, rule) — the batch kernel
    computes it once per rule over a whole batch and slices per tile.

    graph: optional prebuilt _LinkGraph over ALL of segs' links (the batch
    kernel builds ONE per tile and reuses it for every rule): non-boundary
    links start pre-visited, which yields identical walks — candidate lists
    are filtered by `visited`, and the relative order of the surviving links
    matches the boundary-subset graph exactly."""
    mask = boundary_mask(fills, rule) if boundary is None else boundary
    if graph is not None:
        if not mask.any():
            return []
        g = graph
        visited = np.logical_not(mask).tolist()
    else:
        idx = np.flatnonzero(mask)
        if len(idx) == 0:
            return []
        pts_a = list(zip(segs.ax[idx].tolist(), segs.ay[idx].tolist()))
        pts_b = list(zip(segs.bx[idx].tolist(), segs.by[idx].tolist()))
        bfills = fills[idx].tolist()
        g = _LinkGraph(pts_a, pts_b, bfills)
        visited = [False] * g.m
    out: list[tuple[list[tuple[int, int]], bool]] = []

    for start in range(g.m):
        if visited[start]:
            continue
        top = g.left_top_link(start, visited)
        hole = is_fill_top(g.fill[top], rule)
        d = hole == clockwise_output

        if d:
            ring = [g.b[top]]
            node = int(g.a_node[top])
            last_node = int(g.b_node[top])
        else:
            ring = [g.a[top]]
            node = int(g.b_node[top])
            last_node = int(g.a_node[top])
        visited[top] = True

        last_link = g.next_link(top, last_node, not d, visited)
        link = top
        if last_link < 0:
            # isolated degenerate pair; nothing to close
            out.append((ring, hole))
            continue
        guard = 4 * g.m + 8
        # hot loop: degree-2 advance inlined (the incoming link is visited, so
        # exactly one candidate remains) — falls back to next_link for true
        # junction nodes
        incid, a_node, b_node, node_pt = g.incid, g.a_node, g.b_node, g.node_pt
        while link != last_link and guard > 0:
            guard -= 1
            inc = incid[node]
            if len(inc) == 2:
                i0, i1 = inc
                if visited[i0]:
                    nxt = -1 if visited[i1] else i1
                elif visited[i1]:
                    nxt = i0
                else:
                    nxt = g.next_link(link, node, d, visited)
            else:
                nxt = g.next_link(link, node, d, visited)
            if nxt < 0:
                break
            link = nxt
            ring.append(node_pt[node])
            node = b_node[link] if a_node[link] == node else a_node[link]
            visited[link] = True
        out.append((ring, hole))
    return out


def ring_area2(pts) -> int:
    """Signed shoelace *2 in exact Python ints (CCW positive)."""
    n = len(pts)
    s = 0
    for i in range(n):
        x0, y0 = int(pts[i][0]), int(pts[i][1])
        x1, y1 = int(pts[(i + 1) % n][0]), int(pts[(i + 1) % n][1])
        s += x0 * y1 - x1 * y0
    return s


def simplify_ring(pts: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Drop repeated and collinear vertices (reference contour validation,
    iOverlay/src/core/extract.rs:312-333)."""
    changed = True
    while changed:
        changed = False
        n = len(pts)
        if n < 3:
            return []
        keep = []
        for i in range(n):
            p0 = pts[i - 1]
            p1 = pts[i]
            p2 = pts[(i + 1) % n]
            if p1 == p0:
                changed = True
                continue
            if _cross(p1[0] - p0[0], p1[1] - p0[1], p2[0] - p1[0], p2[1] - p1[1]) == 0:
                # collinear (straight-through or spike) vertices are dropped
                changed = True
                continue
            keep.append(p1)
        pts = keep
    return pts


class RingSet(NamedTuple):
    """Walked rings in CSR form: one flat x/y point array holding every ring's
    points contiguously in walk order (ring i starts at sum(lens[:i]); every
    ring has at least one point), plus each ring's slot (job or component id)
    and the walk's hole flag. The vectorized degree-2 walk
    (batch._fast_contours_batch) emits it directly, the scalar walk through
    pack_rings, and validate_rings checks it for every extract stage."""

    slot: np.ndarray  # int64 per ring
    hole: np.ndarray  # bool per ring
    lens: np.ndarray  # int64 per ring
    x: np.ndarray  # int64 per point
    y: np.ndarray  # int64 per point


def ring_starts(lens: np.ndarray) -> np.ndarray:
    """Each ring's first point index in a CSR point array."""
    pos = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=pos[1:])
    return pos


def ring_gather_index(pos: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Point indices of the rings starting at pos[i] with lens[i] points,
    concatenated in the given ring order."""
    return np.repeat(pos - ring_starts(lens), lens) + np.arange(
        int(lens.sum()), dtype=np.int64
    )


def take_rings(rings: RingSet, idx: np.ndarray) -> RingSet:
    """The rings at idx, in that order."""
    lens = rings.lens[idx]
    pi = ring_gather_index(ring_starts(rings.lens)[idx], lens)
    return RingSet(rings.slot[idx], rings.hole[idx], lens, rings.x[pi], rings.y[pi])


def concat_rings(parts: list[RingSet]) -> RingSet:
    return RingSet(*(np.concatenate(col) for col in zip(*parts)))


def pack_rings(contours: list, slots=None) -> RingSet:
    """walk_contours' [(ring_points, is_hole)] as a RingSet; slots gives each
    contour's slot (default 0)."""
    n = len(contours)
    pts = np.array(
        [p for ring, _ in contours for p in ring], dtype=np.int64
    ).reshape(-1, 2)
    return RingSet(
        np.zeros(n, dtype=np.int64) if slots is None else np.asarray(slots, dtype=np.int64),
        np.fromiter((h for _, h in contours), dtype=bool, count=n),
        np.fromiter((len(r) for r, _ in contours), dtype=np.int64, count=n),
        pts[:, 0],
        pts[:, 1],
    )


def bind_holes(rings: RingSet) -> tuple[np.ndarray, np.ndarray]:
    """Hole binding (reference ShapeBinder, iOverlay/src/bind/solver.rs:25-236):
    each ring's (shape, contour index) within its slot, (-1, -1) for a hole
    with no parent. A slot's hulls are its shapes in ring order; a bound
    hole's contour is 1 + its rank among its shape's holes.

    A hole's parent owns the nearest edge strictly below its lexmin anchor
    among the other holes' edges and the hull edges with interior above (a
    CCW hull's +x edges); exact ties go to the first edge in (hulls, holes;
    ring order; edge order), and hole parents resolve to hulls by pointer
    jumping. Slots never see each other's edges. A slot without hulls drops
    its holes, and a slot with one hull takes them all."""
    slot, hole, lens = rings.slot, rings.hole, rings.lens
    n = len(lens)
    shape = np.full(n, -1, dtype=np.int64)
    contour = np.full(n, -1, dtype=np.int64)
    if n == 0:
        return shape, contour
    sl = np.unique(slot, return_inverse=True)[1].ravel()
    o = np.flatnonzero(~hole)
    o = o[np.argsort(sl[o], kind="stable")]
    so = sl[o]
    shape[o] = np.arange(len(o)) - np.searchsorted(so, so)
    contour[o] = 0
    nh = np.bincount(so, minlength=int(sl.max()) + 1)
    lone = np.full(len(nh), -1, dtype=np.int64)
    lone[so] = o
    parent = np.where(hole & (nh[sl] == 1), lone[sl], -1)
    multi = np.zeros(len(nh), dtype=bool)
    multi[sl[hole]] = True
    R = np.flatnonzero((multi & (nh >= 2))[sl])
    if len(R):
        sub = take_rings(rings, R)._replace(slot=np.unique(sl[R], return_inverse=True)[1])
        par = _ray_parents(sub)
        m = hole[R] & (par >= 0)
        parent[R[m]] = R[par[m]]
    b = np.flatnonzero(hole & (parent >= 0))
    shape[b] = shape[parent[b]]
    # contour rank within (slot, shape), in ring order
    b = b[np.lexsort((shape[b], sl[b]))]
    k = np.arange(len(b))
    new = np.ones(len(b), dtype=bool)
    new[1:] = (sl[b][1:] != sl[b][:-1]) | (shape[b][1:] != shape[b][:-1])
    contour[b] = k - np.maximum.accumulate(np.where(new, k, 0)) + 1
    return shape, contour


def _ray_parents(rings: RingSet) -> np.ndarray:
    """bind_holes' ray shot over rings with compact slots: each ring's hull
    (hulls map to themselves), -1 for an unbound hole. One vertical ray per
    anchor on fill.segtree_build's tree over the member edges: each node on
    the anchor's path offers the last member of its strictly-below prefix
    (fill.segtree_below), and the highest by exact (floor, remainder)
    compare wins. Each slot runs in local coordinates in its own x-tile;
    operands are int64 under the fill's gate (fill.int64_operands), python
    ints past it."""
    sl, hole, lens, x, y = rings
    n = len(lens)
    pos = ring_starts(lens)
    ring_of = np.repeat(np.arange(n, dtype=np.int64), lens)
    nxt = np.arange(1, len(x) + 1, dtype=np.int64)
    nxt[pos + lens - 1] = pos
    # local coordinates (uint64 offsets from each slot's min corner: exact
    # at any int64 span), one x-tile of width W per slot
    ns = int(sl.max()) + 1
    ps = sl[ring_of]
    loc = []
    for v in (x, y):
        lo = np.full(ns, np.iinfo(np.int64).max)
        np.minimum.at(lo, sl, np.minimum.reduceat(v, pos))
        loc.append(v.astype(np.uint64) - lo[ps].astype(np.uint64))
    ext = int(max(a.max() for a in loc))
    W = ext + 1
    # the ring orientation's lx*ly products bound a segment's x-length by the
    # slot extent, so ext stands for both the y extent and the x-length
    wide = not int64_operands(ns * W, ext, ext)
    lx, ly = (a.astype(object if wide else np.int64) for a in loc)
    tx = ps * W + lx
    ccw = np.add.reduceat(lx * ly[nxt] - lx[nxt] * ly, pos) > 0
    # member edges left to right, numbered in scan order (hulls, then holes;
    # ring order; edge order), the exact-tie order. A hull edge counts only
    # with the hull's interior above it: a face boundary shared by two faces
    # then witnesses for the face that contains the anchor.
    ph = hole[ring_of]
    fwd = tx < tx[nxt]
    e = np.flatnonzero((tx != tx[nxt]) & (ph | (fwd == ccw[ring_of])))
    e = e[np.argsort(ph[e], kind="stable")]
    f, en = fwd[e], nxt[e]
    tree = segtree_build(
        np.where(f, tx[e], tx[en]), np.where(f, ly[e], ly[en]),
        np.where(f, tx[en], tx[e]), np.where(f, ly[en], ly[e]),
    )
    res = np.where(hole, -1, np.arange(n, dtype=np.int64))
    hr = np.flatnonzero(hole)
    if tree is None or not len(hr):
        return res
    # each hole's lexmin anchor, doubled
    qx = np.minimum.reduceat(tx, pos)
    qy = np.minimum.reduceat(np.where(tx == np.repeat(qx, lens), ly, ext), pos)
    X, T = 2 * qx[hr], 2 * qy[hr]
    PQ, PV, plo, lvl_off = segtree_below(tree, X, T)
    enum0, edy, edt, eax2 = tree.enum0, tree.edy, tree.edt, tree.eax2

    def y_at(c, Xc):
        # doubled y of row c at doubled x Xc as exact (floor, remainder, den)
        num = enum0[c] + edy[c] * (Xc - eax2[c])
        d = edt[c].astype(num.dtype)
        q = num // d
        return q, num - q * d, d

    nq = len(hr)
    best = np.full(nq, -1, dtype=np.int64)  # winning member
    bq, br, bd = (np.full(nq, v, dtype=enum0.dtype) for v in (0, 0, 1))
    # one candidate per query and level, folded in level by level
    for lo, hi in zip(lvl_off[:-1], lvl_off[1:]):
        base = tree.start[PV[lo:hi]]
        c = plo[lo:hi] - 1
        v = np.flatnonzero(c >= base)
        qi, c, base = PQ[lo:hi][v], c[v], base[v]
        q, r, d = y_at(c, X[qi])
        k = tree.sid[c]
        # rows tied with the candidate at X are the run just before it
        j, pj = np.arange(len(c)), c - 1
        while len(j):
            j = j[pj[j] >= base[j]]
            q2, r2, d2 = y_at(pj[j], X[qi[j]])
            j = j[(q2 == q[j]) & (r2 * d[j] == r[j] * d2)]
            lt = j[tree.sid[pj[j]] < k[j]]
            k[lt] = tree.sid[pj[lt]]
            pj[j] -= 1
        rl, rr = r * bd[qi], br[qi] * d
        up = (best[qi] < 0) | (q > bq[qi]) | (
            (q == bq[qi]) & ((rl > rr) | ((rl == rr) & (k < best[qi])))
        )
        qi, u = qi[up], np.flatnonzero(up)
        best[qi], bq[qi], br[qi], bd[qi] = k[u], q[u], r[u], d[u]
    got = best >= 0
    res[hr[got]] = ring_of[e][best[got]]
    # pointer jumping; hulls and the unbound sentinel n are fixed points
    p = np.append(np.where(res < 0, n, res), n)
    while not np.array_equal(p[p], p):
        p = p[p]
    return np.where(p[:n] == n, -1, p[:n])


def bind_ring_lists(hulls: list, holes: list) -> list[list]:
    """bind_holes over one slot's hull and hole lists (rings of points, or of
    edges that start with their first point): [[hull, bound holes...]] per
    hull, holding the given ring objects."""
    shapes = [[h] for h in hulls]
    if holes:
        rings = [([p[:2] for p in r], h) for rs, h in ((hulls, False), (holes, True)) for r in rs]
        for s, r in zip(bind_holes(pack_rings(rings))[0][len(hulls):].tolist(), holes):
            if s >= 0:
                shapes[s].append(r)
    return shapes


def _validate_ring(ring, options: OverlayOptions):
    """Scalar reference validation of one ring (python ints, any coordinate
    width): (validated ring, area2), or None when the ring is dropped."""
    if not options.preserve_output_collinear:
        ring = simplify_ring(list(map(tuple, ring)))
    if len(ring) < 3:
        return None
    a2 = ring_area2(ring)
    if a2 == 0 or (options.min_output_area > 0 and abs(a2) < 2 * options.min_output_area):
        return None
    return ring, a2


def validate_rings(rings: RingSet, options: OverlayOptions) -> tuple[RingSet, np.ndarray]:
    """Reference contour validation (iOverlay/src/core/extract.rs:312-333) of a
    whole RingSet in one segmented numpy pass: rings under 3 points, with zero
    area or under options.min_output_area are dropped, and (unless
    preserve_output_collinear) rings with a duplicate or collinear vertex are
    simplified. Returns the kept rings in input order, simplified ones
    substituted, and their signed shoelace area2 (CCW positive).

    Exactness: while a ring's |coords| are < 2^30 (4*mx^2 < 2^62), every
    shoelace term and collinearity cross is exact in int64, and the per-ring
    term sum is taken in 32-bit hi/lo halves whose sums cannot overflow at any
    ring length; the high word then tells exactly whether area2 fits int64.
    Dirty rings, rings past that coordinate bound and rings whose area2 does
    not fit take the scalar _validate_ring (python ints). Dropping a duplicate
    or collinear vertex never changes the shoelace sum."""
    lens = rings.lens
    n = len(lens)
    if n == 0:
        return rings, np.empty(0, dtype=np.int64)
    x, y = rings.x, rings.y
    pos = ring_starts(lens)
    last = pos + lens - 1
    nxt = np.arange(1, len(x) + 1, dtype=np.int64)
    nxt[last] = pos
    x1, y1 = x[nxt], y[nxt]
    terms = x * y1 - x1 * y
    hi = terms >> 32
    lo = np.add.reduceat(terms - (hi << 32), pos)
    hi = np.add.reduceat(hi, pos) + (lo >> 32)
    a2 = (hi << 32) + (lo & 0xFFFFFFFF)
    mx = np.maximum.reduceat(np.maximum(np.abs(x), np.abs(y)), pos)
    scalar = (mx >= 1 << 30) | (hi < -(1 << 31)) | (hi >= 1 << 31)
    if not options.preserve_output_collinear:
        prv = np.arange(-1, len(x) - 1, dtype=np.int64)
        prv[pos] = last
        cr = (x - x[prv]) * (y1 - y) - (y - y[prv]) * (x1 - x)
        bad = np.flatnonzero(cr == 0)  # duplicates included: they cross to 0
        scalar[np.searchsorted(pos, bad, side="right") - 1] = True
    long_enough = lens >= 3
    keep = long_enough & ~scalar & (a2 != 0)
    if options.min_output_area > 0:
        keep &= np.abs(a2) >= 2 * options.min_output_area

    redo = {}
    for i in np.flatnonzero(scalar & long_enough).tolist():
        lo_i, hi_i = int(pos[i]), int(pos[i] + lens[i])
        v = _validate_ring(
            list(zip(x[lo_i:hi_i].tolist(), y[lo_i:hi_i].tolist())), options
        )
        if v is not None:
            redo[i] = v
    src, new_lens = pos, lens
    if redo:
        # simplified rings go after the input points; the gather below keeps
        # input order
        if any(not -(1 << 63) <= ra2 < 1 << 63 for _, ra2 in redo.values()):
            a2 = a2.astype(object)
        src, new_lens = pos.copy(), lens.copy()
        xs, ys = [x], [y]
        base = len(x)
        for i, (ring, ra2) in redo.items():
            keep[i] = True
            a2[i] = ra2
            src[i], new_lens[i] = base, len(ring)
            base += len(ring)
            xs.append(np.array([p[0] for p in ring], dtype=np.int64))
            ys.append(np.array([p[1] for p in ring], dtype=np.int64))
        x, y = np.concatenate(xs), np.concatenate(ys)
    idx = np.flatnonzero(keep)
    if len(idx) == n and not redo:
        return rings, a2
    pi = ring_gather_index(src[idx], new_lens[idx])
    return RingSet(rings.slot[idx], rings.hole[idx], new_lens[idx], x[pi], y[pi]), a2[idx]


def area2_int64(a2: np.ndarray) -> np.ndarray:
    """validate_rings' area2 for a LONG area2 column: int64, or a ValueError
    when a ring's doubled area does not fit (validate_rings keeps python ints
    past the int64 range)."""
    try:
        return a2.astype(np.int64, copy=False)
    except OverflowError:
        raise ValueError(
            f"ring area2 {max(a2.tolist(), key=abs)} is outside the int64 range "
            "[-2^63, 2^63) of the LONG area2 column"
        ) from None


def extract_rings(
    segs: Segments, fills: np.ndarray, rule: OverlayRule, options: OverlayOptions
) -> tuple[RingSet, np.ndarray]:
    """Boundary filter -> reference walk -> validate_rings: the kept rings
    (slot 0) in walk order and their signed area2."""
    clockwise_output = options.output_direction == ContourDirection.CLOCKWISE
    rings = None
    if len(segs) >= 4096:
        # big single-job graphs (e.g. a spiral's 400k-link ring): try the
        # vectorized degree-2 walk before the per-link python loop; graphs it
        # cannot serve return None and fall through
        rings = _fast_walk_contours(segs, fills, rule, clockwise_output)
    if rings is None:
        rings = pack_rings(walk_contours(segs, fills, rule, clockwise_output))
    return validate_rings(rings, options)


def extract_shapes(
    segs: Segments,
    fills: np.ndarray,
    rule: OverlayRule,
    options: OverlayOptions,
    with_areas: bool = False,
) -> list[list[np.ndarray]]:
    """Full extraction: extract_rings -> bind_holes.

    Returns shapes: list of [hull, hole, hole, ...] rings as (n,2) int64 arrays.
    with_areas=True returns a (shapes, areas) pair instead, areas holding each
    ring's signed shoelace area2 in the shapes structure — the validation pass
    computes it anyway, so consumers that emit area columns take it here
    instead of re-walking every ring."""
    rings, a2 = extract_rings(segs, fills, rule, options)
    shape, _ = bind_holes(rings)
    pts = np.stack([rings.x, rings.y], axis=1)
    ends = np.cumsum(rings.lens).tolist()
    arrs = [pts[e - ln:e] for e, ln in zip(ends, rings.lens.tolist())]
    hole = rings.hole.tolist()
    a2 = a2.tolist()
    shapes = [[r] for r, h in zip(arrs, hole) if not h]
    areas = [[a] for a, h in zip(a2, hole) if not h]
    for r, a, h, s in zip(arrs, a2, hole, shape.tolist()):
        if h and s >= 0:
            shapes[s].append(r)
            areas[s].append(a)
    return (shapes, areas) if with_areas else shapes


def _fast_walk_contours(segs, fills, rule, clockwise_output) -> RingSet | None:
    """walk_contours' rings as a RingSet (slot 0, identical rings in identical
    order) via the batch kernel's vectorized degree-2 walk over ONE whole
    segment set (unbounded ring length — long rings take its list-ranking
    branch), or None when the graph has nodes the fast walk cannot serve (the
    caller then runs the scalar walk)."""
    from .batch import _fast_contours_batch

    tile_fast, rings = _fast_contours_batch(
        segs, boundary_mask(fills, rule), fills, np.array([0, len(segs)], dtype=np.int64),
        rule, clockwise_output, np.zeros(1, dtype=np.int64), 0, max_ring=1 << 62,
    )
    return rings if tile_fast[0] else None


class _StartPath:
    """StartPathData (iOverlay/src/core/extract.rs:279-300)."""

    __slots__ = ("begin", "node_id", "link_id", "last_node_id")

    def __init__(self, g: "_LinkGraph", direction: bool, link_id: int):
        self.link_id = link_id
        if direction:
            self.begin = g.b[link_id]
            self.node_id = int(g.a_node[link_id])
            self.last_node_id = int(g.b_node[link_id])
        else:
            self.begin = g.a[link_id]
            self.node_id = int(g.b_node[link_id])
            self.last_node_id = int(g.a_node[link_id])


def _find_contour(g: "_LinkGraph", start: _StartPath, clockwise: bool,
                  state: int, visited: np.ndarray) -> list[tuple[int, int]]:
    """find_contour over a VisitState array (0 = unvisited, anything else =
    visited); marks walked links with `state`
    (iOverlay/src/core/extract.rs:189-221)."""
    link = start.link_id
    node = start.node_id
    visited[link] = state
    ring = [start.begin]
    last_link = g.next_link(link, start.last_node_id, not clockwise, visited)
    guard = 4 * g.m + 8
    while link != last_link and guard > 0:
        guard -= 1
        link = g.next_link(link, node, clockwise, visited)
        if link < 0:
            break
        ring.append(g.node_pt[node])
        node = g.other(link, node)
        visited[link] = state
    return ring


# VisitState codes (extract_ogc.rs VisitState)
_UNVISITED, _SKIPPED, _HULL_V, _HOLE_V = 0, 1, 2, 3


def _skip_contour(g, start: _StartPath, clockwise: bool, state: int, visited) -> None:
    # (iOverlay/src/core/extract_ogc.rs:176-211)
    link = start.link_id
    node = start.node_id
    visited[link] = state
    last_link = g.next_link(link, start.last_node_id, not clockwise, visited)
    guard = 4 * g.m + 8
    while link != last_link and guard > 0:
        guard -= 1
        link = g.next_link(link, node, clockwise, visited)
        if link < 0:
            break
        node = g.other(link, node)
        visited[link] = state


def _collect_shape(g, start: _StartPath, clockwise: bool, visited,
                   options: OverlayOptions):
    """collect_shape (iOverlay/src/core/extract_ogc.rs:213-349): walk the full
    tour, then re-walk it in REVERSE rotation restricted to the tour's own edge
    set — self-touching sub-loops escape the reverse walk and become this
    shape's holes."""
    link = start.link_id
    node = start.node_id
    contour_visited = np.full(g.m, _SKIPPED, dtype=np.int8)
    visited[link] = _HULL_V
    contour_visited[link] = _UNVISITED
    end_link = link
    original_len = 1
    last_link = g.next_link(link, start.last_node_id, not clockwise, visited)
    guard = 4 * g.m + 8
    while link != last_link and guard > 0:
        guard -= 1
        link = g.next_link(link, node, clockwise, visited)
        if link < 0:
            break
        node = g.other(link, node)
        end_link = max(end_link, link)
        contour_visited[link] = _UNVISITED
        visited[link] = _HULL_V
        original_len += 1

    ring = _find_contour(g, start, not clockwise, _HULL_V, contour_visited)
    outer = _validate_ring(ring, options)
    shape = [outer[0]] if outer is not None else None

    if len(ring) < original_len:
        # the tour self-touches: leftover edges are holes of this shape
        li = start.link_id
        while li <= end_link:
            if contour_visited[li]:
                li += 1
                continue
            top = g.left_top_link(li, contour_visited)
            hstart = _StartPath(g, clockwise, top)
            hring = _find_contour(g, hstart, clockwise, _HOLE_V, contour_visited)
            if shape is not None:
                hr = _validate_ring(hring, options)
                if hr is None:
                    li += 1
                    continue
                shape.append(hr[0])
    return shape


def extract_shapes_ogc(
    segs: Segments,
    fills: np.ndarray,
    rule: OverlayRule,
    options: OverlayOptions,
) -> list[list[np.ndarray]]:
    """S7 OGC-valid extraction (ISO 19125-1 connected interiors): hulls collect
    in a first pass with the main-direction-opposed traversal (pinch-point
    shapes split; self-touch loops become per-shape holes), hole contours walk
    in a second pass where touching holes MERGE through pinch vertices, then
    bind to hulls (reference extract_ogc, iOverlay/src/core/extract_ogc.rs:19-174)."""
    is_cw = options.output_direction == ContourDirection.CLOCKWISE
    mask = boundary_mask(fills, rule)
    idx = np.flatnonzero(mask)
    if len(idx) == 0:
        return []
    pts_a = list(zip(segs.ax[idx].tolist(), segs.ay[idx].tolist()))
    pts_b = list(zip(segs.bx[idx].tolist(), segs.by[idx].tolist()))
    g = _LinkGraph(pts_a, pts_b, fills[idx].tolist())

    visited = np.zeros(g.m, dtype=np.int8)
    shapes: list[list] = []
    any_holes = False
    trav = not is_cw
    li = 0
    while li < g.m:
        if visited[li]:
            li += 1
            continue
        top = g.left_top_link(li, visited)
        hole = is_fill_top(g.fill[top], rule)
        direction = hole == is_cw
        start = _StartPath(g, direction, top)
        if hole:
            _skip_contour(g, start, trav, _HOLE_V, visited)
            any_holes = True
            continue
        shape = _collect_shape(g, start, trav, visited, options)
        if shape is not None:
            shapes.append(shape)
        else:
            li += 1

    holes: list[list] = []
    if any_holes:
        visited = np.where(visited == _HOLE_V, _UNVISITED, _SKIPPED).astype(np.int8)
        li = 0
        while li < g.m:
            if visited[li]:
                li += 1
                continue
            top = g.left_top_link(li, visited)
            start = _StartPath(g, is_cw, top)
            ring = _find_contour(g, start, is_cw, _HULL_V, visited)
            vr = _validate_ring(ring, options)
            if vr is None:
                li += 1
                continue
            holes.append(vr[0])

    if holes:
        bound = bind_ring_lists([s[0] for s in shapes], holes)
        shapes = [shapes[i] + bound[i][1:] for i in range(len(shapes))]
    return [[np.array(r, dtype=np.int64) for r in shape] for shape in shapes]


def walk_vectors(
    segs: Segments,
    fills: np.ndarray,
    rule: OverlayRule,
    clockwise_output: bool = False,
) -> list[tuple[list[tuple[int, int, int, int, int]], bool]]:
    """S8 edge-level walk: walk_contours' rings as DIRECTED edges (ax, ay,
    bx, by, fill) (reference build_shape_vectors,
    iOverlay/src/core/overlay.rs:260-298 + vector/extract.rs). Edge k spans
    ring[k] -> ring[k+1] along the link between them (a merged set has one
    per node pair); its fill is the link's SideFill
    (iOverlay/src/vector/edge.rs:13-31): the raw SegmentFill when the edge
    runs the stored a<b direction (TOP = left), with left/right bits swapped
    when reversed. Returns [(edges, is_hole)]; an isolated degenerate pair
    walks to no edges."""
    idx = np.flatnonzero(boundary_mask(fills, rule))
    cols = (segs.ax[idx], segs.ay[idx], segs.bx[idx], segs.by[idx], fills[idx])
    link = {((a, b), (c, d)): f for a, b, c, d, f in zip(*(v.tolist() for v in cols))}
    out = []
    for ring, hole in walk_contours(segs, fills, rule, clockwise_output):
        edges = []
        for p, q in zip(ring, ring[1:] + ring[:1]) if len(ring) > 1 else ():
            f = link.get((p, q))
            if f is None:
                f = link[(q, p)]
                f = ((f & 1) << 1) | ((f & 2) >> 1) | ((f & 4) << 1) | ((f & 8) >> 1)
            edges.append((p[0], p[1], q[0], q[1], f))
        out.append((edges, hole))
    return out


def build_shape_vectors(
    subj: list,
    clip: list,
    fill_rule,
    rule: OverlayRule,
    options: OverlayOptions | None = None,
) -> list[list[list[tuple[int, int, int, int, int]]]]:
    """One-shot S8 vector output: shapes -> contours -> directed (a, b, fill)
    edges (reference Overlay::build_shape_vectors). Holes bind to hulls by the
    same anchor rules as shape extraction."""
    from .overlay import build_graph

    options = options or OverlayOptions()
    g = build_graph(subj, clip, fill_rule, options)
    walked = walk_vectors(g.segments, g.fills, rule,
                          options.output_direction == ContourDirection.CLOCKWISE)
    walked = [
        (edges, hole) for edges, hole in walked
        if len(edges) >= 3 and ring_area2([(e[0], e[1]) for e in edges]) != 0
    ]
    return bind_ring_lists([e for e, h in walked if not h], [e for e, h in walked if h])
