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
  golden fixtures. walk_rings is the one walk: a vectorized cycle walk that pairs
  the links at every node, junctions included, by next_link's own rotation, and one
  python trigger loop over a flat _LinkGraph for the slots it cannot prove (dangling
  ends, zero-length links, left-top picks among several links);
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
from .cluster import _cc_label_arrays
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
    and the walk's hole flag. walk_rings emits it for every extract stage and
    validate_rings checks it."""

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


_NO_RINGS = pack_rings([])


# below this many boundary links a walk builds its link graph with a python
# dict and runs every slot through the trigger loop: the numpy node-id pass
# and the cycle walk cost a fixed ~0.2-0.5 ms, several times the whole walk
# of a small graph
_PY_GRAPH_LINKS = 128


class _LinkGraph:
    """Boundary links and their node incidence as flat python lists, mirroring
    OverlayGraph (nodes/links): link i runs (ax[i], ay[i]) -> (bx[i], by[i])
    from node an[i] to node bn[i]; node k sits at (nx[k], ny[k]) and its links
    are ent[first[k]:first[k + 1]], in ascending (link, end) order, the
    reference's incidence order. Every field is a plain python list: the walk
    reads one scalar at a time, where numpy scalar indexing costs ~10x a list
    index."""

    __slots__ = ("m", "ax", "ay", "bx", "by", "an", "bn", "nx", "ny", "first", "ent")

    def __init__(self, ax, ay, bx, by, an, bn, nx, ny, first, ent):
        self.m = len(ax)
        self.ax, self.ay, self.bx, self.by = ax, ay, bx, by
        self.an, self.bn, self.nx, self.ny = an, bn, nx, ny
        self.first, self.ent = first, ent

    def other(self, link: int, node: int) -> int:
        an = self.an[link]
        return self.bn[link] if an == node else an

    def next_link(self, link: int, node: int, clockwise: bool, visited) -> int:
        """Reference next_link (iOverlay/src/core/extract.rs:479-583): the
        unvisited link at node, the nearest by rotation when several remain."""
        cands = [i for i in self.ent[self.first[node]:self.first[node + 1]] if not visited[i]]
        if len(cands) > 1:
            return _nearest_link(self, link, node, cands, clockwise)
        return cands[0] if cands else -1

    def left_top_link(self, link: int, visited) -> int:
        """Reference find_left_top_link (iOverlay/src/core/extract.rs:400-470): at the
        start link's a-node, the unvisited link with the topmost direction."""
        ax, ay, bx, by = self.ax, self.ay, self.bx, self.by
        node = self.an[link]
        top = link
        tax, tay, tbx, tby = ax[top], ay[top], bx[top], by[top]
        for i in self.ent[self.first[node]:self.first[node + 1]]:
            if i == top:
                continue
            # skip if b_i is clockwise of (a_top -> b_top)
            if (tbx - tax) * (by[i] - tay) - (tby - tay) * (bx[i] - tax) < 0:
                continue
            if visited[i]:
                continue
            top = i
            tax, tay, tbx, tby = ax[top], ay[top], bx[top], by[top]
        return top


def _nearest_link(g: _LinkGraph, link: int, node: int, cands, clockwise: bool) -> int:
    """NearestVector (iOverlay/src/core/nearest_vector.rs): among candidate
    links at node, the nearest to the vector back along the incoming link by
    the given rotation."""
    ax, ay, bx, by, an = g.ax, g.ay, g.bx, g.by, g.an
    cx, cy = g.nx[node], g.ny[node]
    if an[link] == node:
        vax, vay = bx[link] - cx, by[link] - cy
    else:
        vax, vay = ax[link] - cx, ay[link] - cy
    rf = 1 if clockwise else -1
    best = cands[0]
    if an[best] == node:
        vbx, vby = bx[best] - cx, by[best] - cy
    else:
        vbx, vby = ax[best] - cx, ay[best] - cy
    ab180 = (vax * vby - vay * vbx) * rf >= 0
    for lid in cands[1:]:
        if an[lid] == node:
            vpx, vpy = bx[lid] - cx, by[lid] - cy
        else:
            vpx, vpy = ax[lid] - cx, ay[lid] - cy
        ap180 = (vax * vpy - vay * vpx) * rf >= 0
        if ab180 == ap180:
            if (vpx * vby - vpy * vbx) * rf < 0:
                vbx, vby, best = vpx, vpy, lid
        elif ab180:
            ab180 = False
            vbx, vby, best = vpx, vpy, lid
    return best


def _node_pass(lax, lay, lbx, lby):
    """Node ids over the interleaved link endpoints (a0, b0, a1, b1, ...):
    (inv, order, ends, mnx, mny, narrow). inv is each endpoint entry's node
    (nodes numbered in sorted point order), order the entries grouped by node
    in entry order (= argsort(inv, kind="stable")), ends the (2m, 2) entry
    points. narrow: ids and coordinates relative to (mnx, mny) fit int32.

    ONE stable int64 argsort yields both the node ids and the per-node entry
    order whenever both spans fit 2^31 (points pack into one int64 key);
    wider spans take a structured np.unique."""
    m = len(lax)
    ends = np.empty((2 * m, 2), dtype=np.int64)
    ends[0::2, 0], ends[0::2, 1] = lax, lay
    ends[1::2, 0], ends[1::2, 1] = lbx, lby
    mnx, mny = int(ends[:, 0].min()), int(ends[:, 1].min())
    spanx = int(ends[:, 0].max()) - mnx
    spany = int(ends[:, 1].max()) - mny
    # int32 ids and coordinates halve the walk's memory traffic, which bounds
    # it under many parallel workers
    idt = np.int32 if m < (1 << 30) else np.int64
    packed = spanx < (1 << 31) and spany < (1 << 31)
    if packed:
        key = (ends[:, 0] - mnx) * (spany + 1) + (ends[:, 1] - mny)
        order = np.argsort(key, kind="stable")
        sk = key[order]
        ng = np.empty(len(sk), dtype=bool)
        ng[0] = True
        ng[1:] = sk[1:] != sk[:-1]
        inv = np.empty(len(sk), dtype=idt)
        inv[order] = np.cumsum(ng, dtype=idt) - idt(1)
    else:
        v = ends.view([("x", np.int64), ("y", np.int64)]).ravel()
        _, inv = np.unique(v, return_inverse=True)
        order = np.argsort(inv, kind="stable")
        inv = inv.astype(idt, copy=False)
    return inv, order, ends, mnx, mny, packed and idt is np.int32


def link_graph(lax, lay, lbx, lby) -> _LinkGraph:
    """The _LinkGraph over links with these int64 endpoint columns: nodes from
    a python dict below _PY_GRAPH_LINKS links, else from the numpy node-id
    pass."""
    m = len(lax)
    ax, ay, bx, by = lax.tolist(), lay.tolist(), lbx.tolist(), lby.tolist()
    if m >= _PY_GRAPH_LINKS:
        inv, order, ends, _, _, _ = _node_pass(lax, lay, lbx, lby)
        return _pass_graph(ax, ay, bx, by, inv, order, ends, _csr_first(inv))
    ids: dict = {}
    an, bn = [0] * m, [0] * m
    incid: list = []
    for e in range(m):
        for p, arr in (((ax[e], ay[e]), an), ((bx[e], by[e]), bn)):
            k = ids.get(p)
            if k is None:
                k = ids[p] = len(incid)
                incid.append([])
            arr[e] = k
            incid[k].append(e)
    first = [0]
    for inc in incid:
        first.append(first[-1] + len(inc))
    pts = list(ids)
    return _LinkGraph(
        ax, ay, bx, by, an, bn, [p[0] for p in pts], [p[1] for p in pts], first,
        [e for inc in incid for e in inc],
    )


def _csr_first(inv) -> np.ndarray:
    """Each node's first entry in _node_pass's entry order (CSR offsets)."""
    deg = np.bincount(inv)
    first = np.zeros(len(deg) + 1, dtype=np.int64)
    np.cumsum(deg, out=first[1:])
    return first


def _pass_graph(ax, ay, bx, by, inv, order, ends, first) -> _LinkGraph:
    """The _LinkGraph of _node_pass's node ids and entry order."""
    nx = np.empty(len(first) - 1, dtype=np.int64)
    ny = np.empty(len(first) - 1, dtype=np.int64)
    nx[inv], ny[inv] = ends[:, 0], ends[:, 1]
    return _LinkGraph(
        ax, ay, bx, by, inv[0::2].tolist(), inv[1::2].tolist(), nx.tolist(),
        ny.tolist(), first.tolist(), (order >> 1).tolist(),
    )


def _trigger_loop(g: _LinkGraph, spans, hole_at, clockwise: bool) -> RingSet:
    """The reference trigger loop (iOverlay/src/core/extract.rs:64-230) over
    links [lo, hi) of each (slot, lo, hi) span: start at the first unvisited
    link, refine to the left-top link, classify hole vs hull by hole_at (per
    link: is the result on its TOP side), then walk with next_link until the
    ring closes. An isolated pair emits its one-point ring, a dead end closes
    the ring where it stops. Rings in the graph's coordinates, in span order
    then trigger order."""
    ax, ay, bx, by, an, bn = g.ax, g.ay, g.bx, g.by, g.an, g.bn
    nx, ny, first, ent = g.nx, g.ny, g.first, g.ent
    next_link = g.next_link
    vis = bytearray(g.m)
    guard0 = 4 * g.m + 8
    o_slot: list[int] = []
    o_hole: list[bool] = []
    o_len: list[int] = []
    fx: list[int] = []
    fy: list[int] = []
    for slot, lo, hi in spans:
        for start in range(lo, hi):
            if vis[start]:
                continue
            top = g.left_top_link(start, vis)
            hole = hole_at[top]
            d = hole == clockwise
            if d:
                fx.append(bx[top])
                fy.append(by[top])
                node, last_node = an[top], bn[top]
            else:
                fx.append(ax[top])
                fy.append(ay[top])
                node, last_node = bn[top], an[top]
            vis[top] = 1
            n = 1
            last_link = next_link(top, last_node, not d, vis)
            link = top
            # an isolated pair (no last link) walks no step
            guard = guard0 if last_link >= 0 else 0
            while link != last_link and guard > 0:
                guard -= 1
                e0 = first[node]
                if first[node + 1] - e0 == 2:
                    # degree-2 node: the incoming link is visited, so at most
                    # one candidate remains
                    i0, i1 = ent[e0], ent[e0 + 1]
                    if vis[i0]:
                        nxt = -1 if vis[i1] else i1
                    elif vis[i1]:
                        nxt = i0
                    else:
                        nxt = next_link(link, node, d, vis)
                else:
                    nxt = next_link(link, node, d, vis)
                if nxt < 0:
                    break
                link = nxt
                fx.append(nx[node])
                fy.append(ny[node])
                n += 1
                a = an[link]
                node = bn[link] if a == node else a
                vis[link] = 1
            o_slot.append(slot)
            o_hole.append(hole)
            o_len.append(n)
    return RingSet(
        np.array(o_slot, dtype=np.int64), np.array(o_hole, dtype=bool),
        np.array(o_len, dtype=np.int64), np.array(fx, dtype=np.int64),
        np.array(fy, dtype=np.int64),
    )


def walk_rings(segs, mask, fills, starts, rule: OverlayRule, clockwise: bool,
               xoff, yoff) -> RingSet:
    """The reference contour walk over the boundary links (mask) of a batch of
    slots: slot k owns segments [starts[k], starts[k + 1]) and no endpoint is
    shared across slots. Returns every slot's rings in scalar trigger order
    (by slot, then trigger order), in slot coordinates (x - xoff[slot],
    y - yoff[slot], wrapping in int64 like the placement that added them).

    next_link turns to the link adjacent to the incoming one in the ring's
    rotation whenever that link is still unvisited, so a walk that never
    meets a visited neighbour follows a static successor, junctions
    included: _cycle_walk builds it for both rotations, keeps the cycles the
    trigger loop would start in their own rotation and walks them all
    vectorized, at any ring length, for every slot where it can prove the
    trigger loop walks exactly those cycles. The other slots (zero-length
    links, two links leaving a node in one direction, dangling ends, odd
    degrees, a walk that would meet a visited neighbour, a ring start with
    more than one link after it at its a-node) run the python trigger loop
    over a _LinkGraph of their own links. Graphs under _PY_GRAPH_LINKS links
    take the trigger loop whole."""
    pos = np.flatnonzero(mask)
    m = len(pos)
    if m == 0:
        return _NO_RINGS
    lax, lay, lbx, lby = segs.ax[pos], segs.ay[pos], segs.bx[pos], segs.by[pos]
    lfill = fills[pos]
    hole_at = rule_inside((lfill & SUBJ_TOP) != 0, (lfill & CLIP_TOP) != 0, rule)
    link_slot = np.searchsorted(starts, pos, side="right") - 1
    if m < _PY_GRAPH_LINKS:
        parts, sel = [], np.arange(m)
    else:
        rings, loop_slot = _cycle_walk(
            lax, lay, lbx, lby, hole_at, link_slot, len(starts) - 1, clockwise
        )
        parts, sel = [rings], np.flatnonzero(loop_slot[link_slot])
    if len(sel):
        # the loop slots' links, contiguous per slot
        ls = link_slot[sel]
        g = link_graph(lax[sel], lay[sel], lbx[sel], lby[sel])
        parts.append(_trigger_loop(
            g, _slot_spans(ls, np.unique(ls)), hole_at[sel].tolist(), clockwise
        ))
    rings = parts[0]
    if len(parts) > 1:
        rings = take_rings(concat_rings(parts), np.argsort(
            np.concatenate([p.slot for p in parts]), kind="stable"
        ))
    return rings._replace(
        x=rings.x - np.repeat(xoff[rings.slot], rings.lens),
        y=rings.y - np.repeat(yoff[rings.slot], rings.lens),
    )


def _slot_spans(link_slot, slots):
    """(slot, lo, hi) link ranges of the given ascending slots."""
    lo = np.searchsorted(link_slot, slots, side="left").tolist()
    hi = np.searchsorted(link_slot, slots, side="right").tolist()
    return zip(slots.tolist(), lo, hi)


def _doubling_rounds(n: int) -> int:
    """Pointer-doubling rounds that reach every element of an n-element
    cycle."""
    return max(n - 1, 1).bit_length() + 1


def _cycle_walk(lax, lay, lbx, lby, hole_at, link_slot, nslots, clockwise):
    """walk_rings' vectorized walk: (the rings of the slots it proves, in
    tiled coordinates, by slot then start link; a per-slot bool, True for
    the slots left to the trigger loop).

    Directed edge e = 2*link + end arrives at the node of that link end (the
    node pass's entry e). rot_cw[e] / rot_ccw[e] is the entry adjacent to e
    at its node, clockwise / counter-clockwise, in exact angle order of the
    links' directions out of the node (the partner at a degree-2 node); the
    successor of e in rotation c is rot_c[e] ^ 1, out along the adjacent
    link. Reversed, the clockwise cycles are the counter-clockwise ones, so
    one labelling (each cycle's min directed id) names both: a ccw cycle by
    the cw label of its reversed edges.

    The trigger loop starts a ring at the min unvisited link s, picks the
    left-top link at s's a-node and walks its rotation d. For each cycle-min
    link s this computes that pick among s and the links after it at the
    node (every link below s is visited by then), and s is a valid start
    when at most one link follows s there and the d cycle through the pick
    has min link s. A slot is proven when the kept starts' cycles hold each
    of its links exactly once. Then, start by start, the trigger loop
    starts at exactly the kept starts in min-link order: a pick's other
    link, when it wins, lies on s's own cycle and is still unvisited, and
    each next_link step finds the adjacent link unvisited, as it lies
    further on the ring being walked."""
    m = len(lax)
    inv, order, ends, mnx, mny, narrow = _node_pass(lax, lay, lbx, lby)
    first = _csr_first(inv)
    idt = inv.dtype.type
    ids = np.arange(2 * m, dtype=idt)
    a_node = inv[0::2]
    b_node = inv[1::2]
    loop_slot = np.zeros(nslots, dtype=bool)
    loop_slot[link_slot[a_node == b_node]] = True
    wide = (lambda v: v) if narrow else (lambda v: v.astype(object))

    # rotations: a degree-2 node's two entries pair up; every other node's
    # entries take their exact angle order (half plane, then cross sign),
    # sorted by a float angle and checked pair by pair in exact arithmetic
    deg = np.diff(first)
    node_s = inv[order]
    two = deg[node_s] == 2
    e2 = order[two]
    rot_cw = ids.copy()
    rot_cw[e2[0::2]] = e2[1::2]
    rot_cw[e2[1::2]] = e2[0::2]
    rot_ccw = rot_cw.copy()
    jp = np.flatnonzero(~two)
    junction_slot = np.zeros(nslots, dtype=bool)
    if len(jp):
        ej, nj = order[jp], node_s[jp]
        junction_slot[link_slot[ej >> 1]] = True
        lj, rev = ej >> 1, (ej & 1) == 1
        dx = wide(lbx[lj]) - wide(lax[lj])
        dy = wide(lby[lj]) - wide(lay[lj])
        dx, dy = np.where(rev, -dx, dx), np.where(rev, -dy, dy)
        half = ((dy < 0) | ((dy == 0) & (dx < 0))).astype(bool)
        ang = np.arctan2(dy.astype(np.float64), dx.astype(np.float64))
        k = np.lexsort((np.where(ang < 0, ang + 2 * np.pi, ang), half, nj))
        ej, dx, dy, half = ej[k], dx[k], dy[k], half[k]
        pair = (nj[1:] == nj[:-1]) & (half[1:] == half[:-1])
        cr = dx[:-1] * dy[1:] - dy[:-1] * dx[1:]
        loop_slot[link_slot[ej[1:][pair & (cr <= 0).astype(bool)] >> 1]] = True
        i = np.arange(len(ej))
        gs = i - (jp - first[nj])  # each entry's node group start in ej
        last = gs + deg[nj] - 1
        rot_ccw[ej] = ej[np.where(i == last, gs, i + 1)]
        rot_cw[ej] = ej[np.where(i == gs, last, i - 1)]

    # cycle labelling: each directed edge's min directed id along its
    # clockwise cycle, by pointer doubling. A round that changes no label
    # ends it: each label is then constant along its 2^k-jump orbit, whose
    # 2^k-windows tile the cycle, so it is the cycle's min.
    val = ids.copy()
    p = rot_cw ^ idt(1)
    for _ in range(_doubling_rounds(2 * m)):
        nv = np.minimum(val, val[p])
        if np.array_equal(nv, val):
            break
        val = nv
        p = p[p]

    # every cycle-min link s: the left-top pick among s and the links after
    # it at its a-node (c1 tests o against s, which comes first in the
    # incidence order), the ring's rotation d and its first directed edge
    is_min = np.zeros(m, dtype=bool)
    is_min[val >> 1] = True
    s = np.flatnonzero(is_min).astype(idt, copy=False)
    epos = np.empty(2 * m, dtype=idt)
    epos[order] = ids
    at_end = first[a_node[s] + 1] - 1
    after = at_end - epos[2 * s]
    o = (order[at_end] >> 1).astype(idt, copy=False)
    sax, say, sbx, sby = (wide(v[s]) for v in (lax, lay, lbx, lby))
    c1 = (sbx - sax) * (wide(lby[o]) - say) - (sby - say) * (wide(lbx[o]) - sax)
    top = np.where((after == 1) & (c1 >= 0), o, s)
    d = hole_at[top] == clockwise
    cur = np.where(d, 2 * top, 2 * top + 1)
    cyc = np.where(d, val[cur], val[cur ^ 1])
    valid = (after <= 1) & ((cyc >> 1) == s)
    # the trigger loop's starts: rings that share a node pair its links in
    # one rotation, so every ring of a connected component takes the
    # rotation picked at the component's min link, where its first ring
    # starts. Components join the two directions' cw cycles of each link;
    # a slot without junctions has one cycle per component.
    kept = valid
    jl = np.flatnonzero(junction_slot[link_slot])
    if len(jl):
        nodes, parent = _cc_label_arrays(val[2 * jl], val[2 * jl + 1])
        js = np.flatnonzero(junction_slot[link_slot[s]])
        cmin = nodes[parent[np.searchsorted(nodes, val[2 * s[js]])]] >> 1
        d_at = np.zeros(m, dtype=bool)
        d_at[s] = d
        kept = valid.copy()
        kept[js] &= d[js] == d_at[cmin]
    kept_cw = np.zeros(2 * m, dtype=bool)
    kept_cw[cyc[kept & d]] = True
    kept_ccw = np.zeros(2 * m, dtype=bool)
    kept_ccw[cyc[kept & ~d]] = True

    # each link's kept directed edge: cw cycles hold it as labelled, ccw
    # cycles as the reverse of the labelled edge
    v0, v1 = val[0::2], val[1::2]
    t0, t1, f0, f1 = kept_cw[v0], kept_cw[v1], kept_ccw[v0], kept_ccw[v1]
    cover = t0.astype(np.int8) + t1 + f0 + f1
    loop_slot[link_slot[cover != 1]] = True
    ok = kept & ~loop_slot[link_slot[s]]
    s, top, d, cyc = s[ok], top[ok], d[ok], cyc[ok]
    nrings = len(s)
    if nrings == 0:
        return _NO_RINGS, loop_slot
    lens = np.bincount(val, minlength=2 * m)[cyc].astype(np.int64)
    links = np.arange(m, dtype=idt)
    e = 2 * links + (t1 | f0)
    nxt = (np.where(t0 | t1, rot_cw[e], rot_ccw[e]) >> 1).astype(idt, copy=False)
    to_node = inv[e]
    first_node = np.where(d, b_node[top], a_node[top])
    L_max = int(lens.max())

    # node point lookup; narrow mode stores coordinates relative to (mnx, mny)
    # in int32
    cdt = np.int32 if narrow else np.int64
    e0 = order[first[:-1]]  # one entry per node
    node_x = (ends[:, 0][e0] - (mnx if narrow else 0)).astype(cdt)
    node_y = (ends[:, 1][e0] - (mny if narrow else 0)).astype(cdt)

    if L_max <= 64:
        # short rings (the common batch shape): per-step column writes into a
        # (rings x L_max) buffer, then one mask compress to CSR
        buf_x = np.empty((nrings, L_max), dtype=cdt)
        buf_y = np.empty((nrings, L_max), dtype=cdt)
        buf_x[:, 0] = node_x[first_node]
        buf_y[:, 0] = node_y[first_node]
        cl = top
        for step in range(1, L_max):
            tn = to_node[cl]
            buf_x[:, step] = node_x[tn]
            buf_y[:, step] = node_y[tn]
            cl = nxt[cl]
        pm = np.arange(L_max) < lens[:, None]
        x, y = buf_x[pm], buf_y[pm]
    else:
        # LONG rings (e.g. one 400k-point spiral ring): the per-step loop
        # would run L_max iterations, so rank each link from its ring's start
        # link by pointer-doubling list ranking on the inverse successor
        # (absorbing at the start links; links of loop slots are fixed
        # points) and scatter points straight to CSR
        good = ~loop_slot[link_slot]
        nxt = np.where(good, nxt, links)
        rpos = ring_starts(lens)
        x = np.empty(int(lens.sum()), dtype=cdt)
        y = np.empty(len(x), dtype=cdt)
        x[rpos] = node_x[first_node]
        y[rpos] = node_y[first_node]
        p = np.empty(m, dtype=idt)
        p[nxt] = links
        p[top] = top
        dist = (p != links).astype(idt)
        for _ in range(_doubling_rounds(m)):
            pp = p[p]
            if np.array_equal(pp, p):
                break
            dist = dist + dist[p]
            p = pp
        ring_row = np.full(m, -1, dtype=idt)
        ring_row[s] = np.arange(nrings, dtype=idt)
        # each link's ring: the row of its kept cycle's start
        rows = np.where(good, ring_row[np.where(t0 | f0, v0, v1) >> 1], -1)
        sel = np.flatnonzero(rows >= 0)
        sel = sel[dist[sel] <= lens[rows[sel]] - 2]
        at = rpos[rows[sel]] + 1 + dist[sel]
        x[at] = node_x[to_node[sel]]
        y[at] = node_y[to_node[sel]]
    return RingSet(
        link_slot[s].astype(np.int64), hole_at[top], lens,
        np.add(x, mnx if narrow else 0, dtype=np.int64),
        np.add(y, mny if narrow else 0, dtype=np.int64),
    ), loop_slot


def walk_contours(segs: Segments, fills: np.ndarray, rule: OverlayRule,
                  clockwise_output: bool) -> list[tuple[list[tuple[int, int]], bool]]:
    """walk_rings over one segment set as [(ring_points, is_hole)], the view
    walk_vectors reads."""
    z = np.zeros(1, dtype=np.int64)
    r = walk_rings(
        segs, boundary_mask(fills, rule), fills, np.array([0, len(segs)]), rule,
        clockwise_output, z, z,
    )
    pts = list(zip(r.x.tolist(), r.y.tolist()))
    ends = np.cumsum(r.lens).tolist()
    return [(pts[e - n:e], h) for e, n, h in zip(ends, r.lens.tolist(), r.hole.tolist())]


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

    Exactness: both tests read offsets from each ring's own min corner
    (uint64 differences: exact at any position; neither the shoelace sum nor
    a cross changes under translation). While a ring's extent is < 2^31,
    every shoelace term and collinearity cross of its offsets is exact in
    int64, and the per-ring term sum is taken in 32-bit hi/lo halves whose
    sums cannot overflow at any ring length; the high word then tells exactly
    whether area2 fits int64. Dirty rings, rings past that extent and rings
    whose area2 does not fit take the scalar _validate_ring (python ints).
    Dropping a duplicate or collinear vertex never changes the shoelace
    sum."""
    lens = rings.lens
    n = len(lens)
    if n == 0:
        return rings, np.empty(0, dtype=np.int64)
    x, y = rings.x, rings.y
    pos = ring_starts(lens)
    lx, ly = (
        v.view(np.uint64) - np.repeat(np.minimum.reduceat(v, pos), lens).view(np.uint64)
        for v in (x, y)
    )
    ext = np.maximum.reduceat(np.maximum(lx, ly), pos)
    lx, ly = lx.view(np.int64), ly.view(np.int64)
    last = pos + lens - 1
    nxt = np.arange(1, len(x) + 1, dtype=np.int64)
    nxt[last] = pos
    x1, y1 = lx[nxt], ly[nxt]
    terms = lx * y1 - x1 * ly
    hi = terms >> 32
    lo = np.add.reduceat(terms - (hi << 32), pos)
    hi = np.add.reduceat(hi, pos) + (lo >> 32)
    a2 = (hi << 32) + (lo & 0xFFFFFFFF)
    scalar = (ext >= 1 << 31) | (hi < -(1 << 31)) | (hi >= 1 << 31)
    if not options.preserve_output_collinear:
        prv = np.arange(-1, len(x) - 1, dtype=np.int64)
        prv[pos] = last
        cr = (lx - lx[prv]) * (y1 - ly) - (ly - ly[prv]) * (x1 - lx)
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
    z = np.zeros(1, dtype=np.int64)
    rings = walk_rings(
        segs, boundary_mask(fills, rule), fills, np.array([0, len(segs)]), rule,
        options.output_direction == ContourDirection.CLOCKWISE, z, z,
    )
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


class _StartPath:
    """StartPathData (iOverlay/src/core/extract.rs:279-300)."""

    __slots__ = ("begin", "node_id", "link_id", "last_node_id")

    def __init__(self, g: _LinkGraph, direction: bool, link_id: int):
        self.link_id = link_id
        if direction:
            self.begin = (g.bx[link_id], g.by[link_id])
            self.node_id, self.last_node_id = g.an[link_id], g.bn[link_id]
        else:
            self.begin = (g.ax[link_id], g.ay[link_id])
            self.node_id, self.last_node_id = g.bn[link_id], g.an[link_id]


def _find_contour(g: _LinkGraph, start: _StartPath, clockwise: bool,
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
        ring.append((g.nx[node], g.ny[node]))
        node = g.other(link, node)
        visited[link] = state
    return ring


# VisitState codes (extract_ogc.rs VisitState)
_UNVISITED, _SKIPPED, _HULL_V, _HOLE_V = 0, 1, 2, 3


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
    g = link_graph(segs.ax[idx], segs.ay[idx], segs.bx[idx], segs.by[idx])
    fl = fills[idx].tolist()

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
        hole = is_fill_top(fl[top], rule)
        direction = hole == is_cw
        start = _StartPath(g, direction, top)
        if hole:
            _find_contour(g, start, trav, _HOLE_V, visited)
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
