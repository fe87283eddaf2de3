"""Test oracle kept out of the library: the per-link python contour walk that
kernel.extract.walk_rings replaced — a dict-built link graph with per-node
incidence lists and the reference trigger loop transcribed link by link
(iOverlay/src/core/extract.rs:64-230 with find_left_top_link, next_link and
NearestVector). tests/test_walk_rings.py checks walk_rings against it ring for
ring, trigger order included."""

from __future__ import annotations

import numpy as np

from ioverlay_spark.kernel.extract import boundary_mask, is_fill_top


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


class LinkGraph:
    """Boundary links + node incidence, mirroring OverlayGraph (nodes/links)."""

    def __init__(self, pts_a, pts_b, fills):
        self.a = pts_a  # list[(x, y)]
        self.b = pts_b
        self.fill = fills
        self.m = len(pts_a)
        node_ids: dict[tuple[int, int], int] = {}
        self.incid: list[list[int]] = []
        self.node_pt: list[tuple[int, int]] = []
        self.a_node = [0] * self.m
        self.b_node = [0] * self.m
        for e in range(self.m):
            for end, arr in ((pts_a[e], self.a_node), (pts_b[e], self.b_node)):
                nid = node_ids.get(end)
                if nid is None:
                    nid = len(node_ids)
                    node_ids[end] = nid
                    self.incid.append([])
                    self.node_pt.append(end)
                arr[e] = nid
                self.incid[nid].append(e)

    def other_pt(self, link: int, node: int):
        return self.b[link] if self.a_node[link] == node else self.a[link]

    def next_link(self, link: int, node: int, clockwise: bool, visited) -> int:
        """Reference next_link (iOverlay/src/core/extract.rs:479-583)."""
        cands = [i for i in self.incid[node] if not visited[i]]
        if not cands:
            return -1
        if len(cands) == 1:
            return cands[0]
        c = self.node_pt[node]
        apt = self.other_pt(link, node)
        va = (apt[0] - c[0], apt[1] - c[1])
        cl = [(self.other_pt(i, node)[0], self.other_pt(i, node)[1], i) for i in cands]
        return _nearest_link(c, va, cl, clockwise)

    def left_top_link(self, link: int, visited) -> int:
        """Reference find_left_top_link (iOverlay/src/core/extract.rs:400-470): at the
        start link's a-node, the unvisited link with the topmost direction."""
        node = self.a_node[link]
        top = link
        ta, tb = self.a[top], self.b[top]
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
            ta, tb = self.a[top], self.b[top]
        return top


def walk_contours(segs, fills, rule, clockwise_output: bool, mask=None):
    """Every contour of one segment set for a rule: [(ring_points, is_hole)] in
    trigger order. mask: the boundary links (default boundary_mask)."""
    idx = np.flatnonzero(boundary_mask(fills, rule) if mask is None else mask)
    if len(idx) == 0:
        return []
    g = LinkGraph(
        list(zip(segs.ax[idx].tolist(), segs.ay[idx].tolist())),
        list(zip(segs.bx[idx].tolist(), segs.by[idx].tolist())),
        fills[idx].tolist(),
    )
    visited = [False] * g.m
    out = []
    for start in range(g.m):
        if visited[start]:
            continue
        top = g.left_top_link(start, visited)
        hole = is_fill_top(g.fill[top], rule)
        d = hole == clockwise_output
        if d:
            ring = [g.b[top]]
            node, last_node = g.a_node[top], g.b_node[top]
        else:
            ring = [g.a[top]]
            node, last_node = g.b_node[top], g.a_node[top]
        visited[top] = True
        last_link = g.next_link(top, last_node, not d, visited)
        if last_link < 0:
            # isolated degenerate pair; nothing to close
            out.append((ring, hole))
            continue
        link = top
        guard = 4 * g.m + 8
        while link != last_link and guard > 0:
            guard -= 1
            nxt = g.next_link(link, node, d, visited)
            if nxt < 0:
                break
            link = nxt
            ring.append(g.node_pt[node])
            node = g.b_node[link] if g.a_node[link] == node else g.a_node[link]
            visited[link] = True
        out.append((ring, hole))
    return out
