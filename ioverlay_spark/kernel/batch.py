"""Batched multi-pair overlay: run MANY small boolean jobs through ONE vectorized
pipeline pass.

The per-pair kernel costs ~600us/pair in numpy-call overhead when jobs are tiny
(10-segment polygons). This module amortizes it: every job of a batch is translated
into its own disjoint x-tile (slot * W), all segments are concatenated, and
sort/merge/split/fill run ONCE over the whole batch — the bbox-overlap candidate
pairs never join segments from different tiles, and a fill ray never meets another
tile's segment, so results are bit-identical to running each job alone
(differential-tested in tests/test_batch_kernel.py).

This is the engine's List-solver analog of the reference's job-level parallelism
(rayon over jobs), re-expressed as data-level batching inside one Arrow batch:
the Spark operators (operators/overlay_df.py) decode each Arrow batch of jobs to
the flat ring layout and call overlay_batch_flat_out here.

Every batch entry point ends in overlay_batch_flat_out, whose output is the
reference's FlatContoursBuffer shape (one points buffer plus per-ring job,
shape, contour, length and area2 arrays); overlay_batch is a thin adapter from
(subj_rings, clip_rings) job lists to it and back to per-job Shapes.

Stage map (same semantics as the scalar kernel, SURVEY.md §2.2):
  ingest/clean  — vectorized dirty-ring detection; only dirty rings take the scalar
                  dedup/collinear path (iOverlay/src/segm/build.rs:35-127)
  split (A4-A9) — split.split_segments over the whole tiled batch (sort+merge,
                  bbox-overlap candidate pairs, vectorized exact cross solver)
  fill (A10)    — fill.compute_fills_windowed over the whole tiled batch
                  (threads=1): the scalar kernel's segment-tree fill
  extract       — vectorized degree-2 walk over the whole batch; tiles with pinch
                  points replay the scalar trigger loop, and tiles neither can serve
                  take the per-tile scalar walk; every walked ring then takes one
                  extract.validate_rings pass (A20) and the flat hole binding
"""

from __future__ import annotations

import numpy as np

from ..options import (
    DEFAULT_OPTIONS,
    ContourDirection,
    FillRule,
    OverlayOptions,
    OverlayRule,
)
from .extract import (
    RingSet,
    _LinkGraph,
    bind_holes,
    boundary_mask,
    concat_rings,
    extract_rings,
    pack_rings,
    ring_gather_index,
    ring_starts,
    rule_inside,
    take_rings,
    validate_rings,
    walk_contours,
)
from .fill import compute_fills_windowed
from .overlay import build_graph
from .segments import Segments, build_segments
from .split import split_segments
from .gcpause import gc_paused_fn

Shapes = list[list[np.ndarray]]

_COORD_CAP = 1 << 30  # beyond this, scalar path (object-int math) is required


def _scalar_flat(jobs, rules, fill_rule, options) -> dict:
    """Per-job scalar kernel (build_graph + extract_rings, one slot per job),
    bound by _bind_flat: {rule: flat tuple}."""
    parts: dict = {rule: [] for rule in rules}
    for j, (subj, clip) in enumerate(jobs):
        g = build_graph(subj, clip, fill_rule, options)
        for rule in rules:
            rings, a2 = extract_rings(g.segments, g.fills, rule, options)
            parts[rule].append((rings._replace(slot=np.full(len(a2), j)), a2))
    return {
        rule: _bind_flat(concat_rings([r for r, _ in p]), np.concatenate([a for _, a in p]))
        for rule, p in parts.items()
    }


def interacting_mask(ax, ay, bx, by, cx, cy, dx_, dy_, with_collinear: bool = False):
    """Vectorized orientation-sign prefilter over PAIRED endpoint arrays
    (first segment (ax,ay)-(bx,by), second (cx,cy)-(dx_,dy_); both a<b
    normalized): True exactly when cross_pair can emit marks — mirrors the
    early-outs of CrossSolver (iOverlay/src/split/cross_solver.rs:76-130).

    The fully-collinear case (all four orientations zero) additionally requires
    the spans to overlap STRICTLY (lexicographically) — same-line chains that
    merely share an endpoint produce no marks, and flagging them turns
    collinear stacks (e.g. split strip edges) into millions of no-op exact-solver
    calls."""
    d1x, d1y = bx - ax, by - ay
    d2x, d2y = dx_ - cx, dy_ - cy
    o1 = np.sign(d1x * (cy - ay) - d1y * (cx - ax))
    o2 = np.sign(d1x * (dy_ - ay) - d1y * (dx_ - ax))
    o3 = np.sign(d2x * (ay - cy) - d2y * (ax - cx))
    o4 = np.sign(d2x * (by - cy) - d2y * (bx - cx))
    s = (o1 == 0).astype(np.int8) + (o2 == 0) + (o3 == 0) + (o4 == 0)

    def lex_lt(px, py, qx, qy):
        return (px < qx) | ((px == qx) & (py < qy))

    # strict lexicographic overlap of collinear spans: max(a, c) < min(b, d)
    a_ge_c = ~lex_lt(ax, ay, cx, cy)
    mx = np.where(a_ge_c, ax, cx)
    my = np.where(a_ge_c, ay, cy)
    b_le_d = ~lex_lt(dx_, dy_, bx, by)
    nx = np.where(b_le_d, bx, dx_)
    ny = np.where(b_le_d, by, dy_)
    collinear_overlap = lex_lt(mx, my, nx, ny)
    coll = (s == 4) & collinear_overlap
    keep = coll | ((s <= 1) & (o1 != o2) & (o3 != o4))
    if with_collinear:
        # collinear-overlap pairs are the ONLY source of coincident
        # sub-segments after a split round (sub-segments lie on their parent's
        # line) — callers use this to skip the post-apply coincident merge
        return keep, coll
    return keep


_EMPTY = "empty"
_NO_RINGS = pack_rings([])


def vectorized_ring_segments(ring_pts, ring_job, ring_subj, options=DEFAULT_OPTIONS):
    """Vectorized ingest of many rings at once: normalized directed segments with
    winding counts and per-segment job ids. Clean rings build entirely in numpy;
    dirty rings (dup/collinear vertices) take the reference-exact scalar cleanup.

    Returns (ax, ay, bx, by, subj, clip, ejob), _EMPTY, or None (coords too large
    for int64-safe batch math — caller must use the scalar path)."""
    nr = len(ring_pts)
    if nr == 0:
        return _EMPTY
    counts = np.array([len(p) for p in ring_pts], dtype=np.int64)
    P = np.concatenate(ring_pts, axis=0) if nr else np.zeros((0, 2), np.int64)
    return vectorized_ring_segments_flat(P, counts, ring_job, ring_subj, options)


def vectorized_ring_segments_flat(P, counts, ring_job, ring_subj, options=DEFAULT_OPTIONS):
    """vectorized_ring_segments over an already-FLAT ring layout: P is the
    (total_pts, 2) int64 stack of every ring's points, counts the per-ring point
    counts — the shape Arrow list columns decode to with zero per-row Python
    (operators/overlay_df.py's mapInArrow worker)."""
    nr = len(counts)
    if nr == 0 or len(P) == 0:
        return _EMPTY
    if int(np.abs(P).max(initial=0)) >= _COORD_CAP:
        return None
    S = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(counts)])
    ring_of = np.repeat(np.arange(nr, dtype=np.int64), counts)
    idx = np.arange(len(P), dtype=np.int64)
    start = S[ring_of]
    end = S[ring_of + 1]
    nxt = np.where(idx + 1 == end, start, idx + 1)

    # dirty ring = any consecutive duplicate or (unless preserved) collinear vertex
    dirty = np.zeros(nr, dtype=bool)
    dirty[counts < 3] = True
    dup = np.all(P == P[nxt], axis=1)
    dirty[ring_of[dup]] = True
    if not options.preserve_input_collinear:
        prv = np.where(idx == start, end - 1, idx - 1)
        a = P - P[prv]
        b = P - P[nxt]
        cr = a[:, 0] * b[:, 1] - a[:, 1] * b[:, 0]
        dirty[ring_of[cr == 0]] = True

    # clean rings: vectorized edge build (one edge per point)
    cm = ~dirty[ring_of]
    p0 = P[cm]
    p1 = P[nxt[cm]]
    e_job = np.asarray(ring_job, dtype=np.int64)[ring_of[cm]]
    e_subj = np.asarray(ring_subj, dtype=bool)[ring_of[cm]]
    fwd = (p0[:, 0] < p1[:, 0]) | ((p0[:, 0] == p1[:, 0]) & (p0[:, 1] < p1[:, 1]))
    eax = np.where(fwd, p0[:, 0], p1[:, 0])
    eay = np.where(fwd, p0[:, 1], p1[:, 1])
    ebx = np.where(fwd, p1[:, 0], p0[:, 0])
    eby = np.where(fwd, p1[:, 1], p0[:, 1])
    cnt = np.where(fwd, 1, -1).astype(np.int64)
    esubj = np.where(e_subj, cnt, 0)
    eclip = np.where(e_subj, 0, cnt)

    # dirty rings: scalar path (reference-exact cleanup), appended
    parts_ax = [eax]
    parts_ay = [eay]
    parts_bx = [ebx]
    parts_by = [eby]
    parts_s = [esubj]
    parts_c = [eclip]
    parts_j = [e_job]
    for r in np.flatnonzero(dirty):
        sg = build_segments(
            [P[S[r]:S[r + 1]]], ring_subj[r], options.preserve_input_collinear
        )
        if len(sg) == 0:
            continue
        parts_ax.append(sg.ax)
        parts_ay.append(sg.ay)
        parts_bx.append(sg.bx)
        parts_by.append(sg.by)
        parts_s.append(sg.subj)
        parts_c.append(sg.clip)
        parts_j.append(np.full(len(sg), ring_job[r], dtype=np.int64))
    ax = np.concatenate(parts_ax)
    if len(ax) == 0:
        return _EMPTY
    return (
        ax,
        np.concatenate(parts_ay),
        np.concatenate(parts_bx),
        np.concatenate(parts_by),
        np.concatenate(parts_s),
        np.concatenate(parts_c),
        np.concatenate(parts_j),
    )


def _flatten_jobs(jobs):
    """(subj_rings, clip_rings) jobs -> the flat ring layout (P, counts,
    ring_job, ring_subj) every batch entry point feeds the kernel."""
    rings: list = []
    ring_job: list[int] = []
    ring_subj: list[bool] = []
    for jid, (subj, clip) in enumerate(jobs):
        n0 = len(rings)
        rings.extend(subj)
        ns = len(rings) - n0
        rings.extend(clip)
        ring_job.extend([jid] * (len(rings) - n0))
        ring_subj.extend([True] * ns + [False] * (len(rings) - n0 - ns))
    rings = [np.asarray(r, dtype=np.int64).reshape(-1, 2) for r in rings]
    counts = np.fromiter((len(r) for r in rings), dtype=np.int64, count=len(rings))
    P = np.concatenate(rings) if rings else np.empty((0, 2), dtype=np.int64)
    return P, counts, np.asarray(ring_job, dtype=np.int64), np.asarray(ring_subj, dtype=bool)


def _tile_place(t, nj):
    """Translate each job's segments into its own disjoint x-tile (slot * W)."""
    ax, ay, bx, by, subj, clip, ejob = t

    # ---- tile placement -----------------------------------------------------
    BIG = np.int64(1 << 62)
    minx = np.full(nj, BIG, dtype=np.int64)
    maxx = np.full(nj, -BIG, dtype=np.int64)
    np.minimum.at(minx, ejob, ax)  # a<b lexicographic => ax is the segment min x
    np.maximum.at(maxx, ejob, bx)
    present = maxx >= minx
    minx[~present] = 0
    maxx[~present] = 0
    W = int((maxx - minx).max(initial=0)) + 8
    y0 = int(min(ay.min(), by.min()))
    H = int(max(ay.max(), by.max())) - y0 + 1
    if W * max(H, 1) >= (1 << 60) or W * nj >= (1 << 62):
        return None
    off = np.arange(nj, dtype=np.int64) * W + 2 - minx
    ax = ax + off[ejob]
    bx = bx + off[ejob]
    ay = ay - y0
    by = by - y0
    return Segments(ax, ay, bx, by, subj, clip), off, y0, W


def _tiled_graph(P, counts, ring_job, ring_subj, nj, fill_rule, options):
    """Ingest + tile placement + split + fill: one tiled pass over a whole
    batch in the flat ring layout. Returns (segs, all_fills, starts, off, y0)
    in TILED coordinates, _EMPTY, or None (huge coords / overflow risk: caller
    must take the scalar path)."""
    t = vectorized_ring_segments_flat(P, counts, ring_job, ring_subj, options)
    if t is None or t == _EMPTY:
        return t
    t = _tile_place(t, nj)
    if t is None:
        return None
    raw, off, y0, W = t
    segs = split_segments(raw, threads=1)
    if len(segs) == 0:
        return _EMPTY
    starts = np.searchsorted(segs.ax, np.arange(nj + 1, dtype=np.int64) * W)
    # one fill over the whole batch: tiles are disjoint in x, so a ray never
    # meets another tile's segment
    all_fills = compute_fills_windowed(segs, fill_rule, threads=1)
    return segs, all_fills, starts, off, y0


def graph_batch(
    jobs: list[tuple[list[np.ndarray], list[np.ndarray]]],
    fill_rule: FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
):
    """Batched split+fill: per-job (Segments, fills) in ORIGINAL coordinates, via
    one tiled split_segments + compute_fills_windowed pass. Returns None when the
    batch needs the scalar path (caller falls back to per-job build_graph)."""
    nj = len(jobs)
    t = _tiled_graph(*_flatten_jobs(jobs), nj, fill_rule, options)
    if t is None:
        return None
    empty = Segments(*[np.empty(0, dtype=np.int64)] * 6)
    if t == _EMPTY:
        return [(empty, np.empty(0, dtype=np.uint8)) for _ in range(nj)]
    segs, all_fills, starts, off, y0 = t
    out = []
    for slot in range(nj):
        lo, hi = int(starts[slot]), int(starts[slot + 1])
        if lo == hi:
            out.append((empty, np.empty(0, dtype=np.uint8)))
            continue
        sub = Segments(
            segs.ax[lo:hi] - int(off[slot]),
            segs.ay[lo:hi] + y0,
            segs.bx[lo:hi] - int(off[slot]),
            segs.by[lo:hi] + y0,
            segs.subj[lo:hi],
            segs.clip[lo:hi],
        )
        out.append((sub, all_fills[lo:hi]))
    return out


def _sim_walk_tiles(
    tiles, tile_fast, link_slot, lax, lay, lbx, lby, a_node, b_node, inv, ends,
    n_nodes, first_pos, deg, ent_links, ft, clockwise_output, max_ring,
):
    """Exact replay of the scalar trigger loop (extract.walk_contours +
    left_top_link + next_link, iOverlay/src/core/extract.rs:400-583) for tiles
    that contain a node of boundary degree > 2. The walk there is HISTORY-
    dependent — next_link's rotation is the current ring's direction and both
    scans filter by visited — so it cannot be a precomputed permutation; but
    these tiles are tiny (a handful of rings each), the replay is plain python
    over prefetched lists, and ring validation still runs vectorized in
    validate_rings. Any unusual shape (dead end, over-cap ring) bails the tile
    to the scalar path, which guarantees identical output.

    Returns (slot, rank, hole, lens, x, y) for the walked rings, points in CSR
    form and TILED coordinates (caller converts per job), or None."""
    cwo = bool(clockwise_output)
    m = len(lax)
    AX = lax.tolist()
    AY = lay.tolist()
    BX = lbx.tolist()
    BY = lby.tolist()
    AN = a_node.tolist()
    BN = b_node.tolist()
    FP = first_pos.tolist()
    DG = deg.tolist()
    EL = ent_links.tolist()
    FTL = ft.tolist()
    nx_t = np.zeros(n_nodes, dtype=np.int64)
    ny_t = np.zeros(n_nodes, dtype=np.int64)
    nx_t[inv] = ends[:, 0]
    ny_t[inv] = ends[:, 1]
    NX = nx_t.tolist()
    NY = ny_t.tolist()
    VIS = bytearray(m)

    def _left_top(lk):
        nd = AN[lk]
        t = lk
        tax, tay, tbx, tby = AX[t], AY[t], BX[t], BY[t]
        e0 = FP[nd]
        for jj in range(e0, e0 + DG[nd]):
            i = EL[jj]
            if i == t:
                continue
            if (tbx - tax) * (BY[i] - tay) - (tby - tay) * (BX[i] - tax) < 0:
                continue
            if VIS[i]:
                continue
            t = i
            tax, tay, tbx, tby = AX[t], AY[t], BX[t], BY[t]
        return t

    def _next_link(lk, nd, cw):
        e0 = FP[nd]
        dgn = DG[nd]
        if dgn == 2:
            i0 = EL[e0]
            i1 = EL[e0 + 1]
            if VIS[i0]:
                return -1 if VIS[i1] else i1
            if VIS[i1]:
                return i0
            cands = [i0, i1]
        else:
            cands = [EL[jj] for jj in range(e0, e0 + dgn) if not VIS[EL[jj]]]
            if not cands:
                return -1
            if len(cands) == 1:
                return cands[0]
        cx0, cy0 = NX[nd], NY[nd]
        if AN[lk] == nd:
            vax, vay = BX[lk] - cx0, BY[lk] - cy0
        else:
            vax, vay = AX[lk] - cx0, AY[lk] - cy0
        rf = 1 if cw else -1
        best = cands[0]
        if AN[best] == nd:
            vbx, vby = BX[best] - cx0, BY[best] - cy0
        else:
            vbx, vby = AX[best] - cx0, AY[best] - cy0
        ab180 = (vax * vby - vay * vbx) * rf >= 0
        for lid in cands[1:]:
            if AN[lid] == nd:
                vpx, vpy = BX[lid] - cx0, BY[lid] - cy0
            else:
                vpx, vpy = AX[lid] - cx0, AY[lid] - cy0
            ap180 = (vax * vpy - vay * vpx) * rf >= 0
            if ab180 == ap180:
                if (vpx * vby - vpy * vbx) * rf < 0:
                    vbx, vby, best = vpx, vpy, lid
            elif ab180:
                ab180 = False
                vbx, vby, best = vpx, vpy, lid
        return best

    lo_all = np.searchsorted(link_slot, tiles, side="left").tolist()
    hi_all = np.searchsorted(link_slot, tiles, side="right").tolist()
    o_slot: list[int] = []
    o_rank: list[int] = []
    o_hole: list[bool] = []
    o_len: list[int] = []
    flat_x: list[int] = []
    flat_y: list[int] = []
    for ti, lo_t, hi_t in zip(tiles.tolist(), lo_all, hi_all):
        n0 = len(o_slot)
        f0 = len(flat_x)
        bail = False
        rank_c = 0
        for start in range(lo_t, hi_t):
            if VIS[start]:
                continue
            top = _left_top(start)
            hole_f = FTL[top]
            dflag = hole_f == cwo
            if dflag:
                rx, ry = [BX[top]], [BY[top]]
                nd = AN[top]
                last_nd = BN[top]
            else:
                rx, ry = [AX[top]], [AY[top]]
                nd = BN[top]
                last_nd = AN[top]
            VIS[top] = 1
            last_link = _next_link(top, last_nd, not dflag)
            if last_link < 0:
                bail = True  # isolated degenerate pair
                break
            lk = top
            guard = max_ring + 4
            ok = True
            while lk != last_link:
                guard -= 1
                if guard <= 0:
                    ok = False
                    break
                nxt = _next_link(lk, nd, dflag)
                if nxt < 0:
                    ok = False
                    break
                lk = nxt
                rx.append(NX[nd])
                ry.append(NY[nd])
                an = AN[lk]
                nd = BN[lk] if an == nd else an
                VIS[lk] = 1
            if not ok or len(rx) > max_ring:
                bail = True  # over-cap or pathological: whole tile -> scalar
                break
            o_slot.append(ti)
            o_rank.append(rank_c)
            o_hole.append(hole_f)
            o_len.append(len(rx))
            flat_x.extend(rx)
            flat_y.extend(ry)
            rank_c += 1
        if bail:
            tile_fast[ti] = False
            del o_slot[n0:], o_rank[n0:], o_hole[n0:], o_len[n0:]
            del flat_x[f0:], flat_y[f0:]
    if not o_slot:
        return None
    return (
        np.asarray(o_slot, dtype=np.int64),
        np.asarray(o_rank, dtype=np.int64),
        np.asarray(o_hole, dtype=bool),
        np.asarray(o_len, dtype=np.int64),
        np.asarray(flat_x, dtype=np.int64),
        np.asarray(flat_y, dtype=np.int64),
    )


def _fast_contours_batch(
    segs, mask, fills, starts, rule, clockwise_output, off, y0, max_ring=256
):
    """Vectorized degree-2 ring walk over a WHOLE batch for one rule.

    When every node of a tile's boundary graph has degree exactly 2 (the common
    case: simple faces, no pinch points), the reference walk's next-link choice
    is forced at every step — only the start link (min id, scan order), the
    left-top pick and the direction bit need the scalar rules, and those
    vectorize. Produces contours BIT-IDENTICAL to walk_contours (differential-
    tested); tiles with any higher-degree node, a self-referential node, or a
    ring longer than max_ring are reported for the scalar path.

    Returns (tile_fast: bool per slot, the fast slots' rings as a RingSet in
    per-job coordinates and scalar walk order: by slot, then trigger order)."""

    pos = np.flatnonzero(mask)
    m = len(pos)
    nslots = len(starts) - 1
    tile_fast = np.ones(nslots, dtype=bool)
    if m == 0:
        return tile_fast, _NO_RINGS
    lax, lay = segs.ax[pos], segs.ay[pos]
    lbx, lby = segs.bx[pos], segs.by[pos]
    lfill = fills[pos]
    # slot of each link (starts index the FULL segment array)
    link_slot = np.searchsorted(starts, pos, side="right") - 1

    # node ids over interleaved endpoints (a0, b0, a1, b1, ...) — tiles are
    # x-disjoint so points never collide across tiles
    ends = np.empty((2 * m, 2), dtype=np.int64)
    ends[0::2, 0], ends[0::2, 1] = lax, lay
    ends[1::2, 0], ends[1::2, 1] = lbx, lby
    # ONE stable int64 argsort yields BOTH the node ids (inverse of unique)
    # AND the per-node entry order: entries sorted by key with stable
    # tie-break ARE argsort(inv, kind="stable"). The structured-pair
    # np.unique + separate stable argsort this replaces were the walk's two
    # dominant sorts (~2.8 s of a 3.7 s kernel at 1 M links, lines_net audit);
    # pairs pack into one int64 whenever both spans fit 2^31 (always, for
    # in-cap coordinate grids). Wider spans keep the structured path.
    mnx = int(ends[:, 0].min())
    mny = int(ends[:, 1].min())
    spanx = int(ends[:, 0].max()) - mnx
    spany = int(ends[:, 1].max()) - mny
    # NARROW (int32) mode: the walk is memory-bandwidth-bound (pointer-doubling
    # gathers + ring-buffer writes), and at 16 parallel workers the shared bus
    # is the limiter — halving every id/coordinate word measurably restores the
    # 4->16 scaling the int64 version lost. Ids fit int32 whenever m < 2^30
    # (always: batches are Arrow-batch-sized); coordinates fit int32 whenever
    # the tiled spans do (the same condition as the packed sort key).
    idt = np.int32 if m < (1 << 30) else np.int64
    narrow = spanx < (1 << 31) and spany < (1 << 31) and idt is np.int32
    if spanx < (1 << 31) and spany < (1 << 31):
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
    a_node = np.ascontiguousarray(inv[0::2])
    b_node = np.ascontiguousarray(inv[1::2])
    deg = np.bincount(inv).astype(idt, copy=False)
    # incidence entries per node, in scalar scan order (entry index): `order`
    # (computed with the node ids above) is already argsort(inv, kind="stable")
    link_of_entry = np.repeat(np.arange(m, dtype=idt), 2)
    n_nodes = len(deg)
    first_pos = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(deg)])[:-1]
    ok2 = deg == 2

    def _slow_nodes(nodes):
        """Route every tile touching these node ids to the scalar walk."""
        if len(nodes) == 0:
            return
        ent_b = np.isin(inv, nodes)
        if ent_b.any():
            tile_fast[np.unique(link_slot[np.flatnonzero(ent_b) >> 1])] = False

    # dangling boundary ends (degenerate fills) keep the scalar path
    _slow_nodes(np.flatnonzero(deg == 1))
    # tiles with ANY higher-degree node (XOR crossings, union pinch points)
    # are served by an exact per-tile replay of the scalar trigger loop below
    # (round 4): the walk there is history-dependent (next_link's rotation is
    # the ring's own direction and left_top/next_link filter by visited), so
    # it cannot be a precomputed permutation — but those tiles are a tiny
    # python loop each, and their ring VALIDATION still vectorizes.
    sim_tile = np.zeros(nslots, dtype=bool)
    multi = np.flatnonzero(deg > 2)
    if len(multi):
        ent_b = np.isin(inv, multi)
        sim_tile[np.unique(link_slot[np.flatnonzero(ent_b) >> 1])] = True

    # degree-2 incidence tables (l12 for the left-top pick, partner entries
    # for the pointer-doubling successor)
    l12 = np.full((n_nodes, 2), -1, dtype=idt)
    nodes2 = np.flatnonzero(ok2)
    p0 = order[first_pos[nodes2]]
    p1 = order[first_pos[nodes2] + 1]
    l12[nodes2, 0] = link_of_entry[p0]
    l12[nodes2, 1] = link_of_entry[p1]
    # a node whose two entries are the same link (degenerate) -> slow tile
    same2 = (p0 >> 1) == (p1 >> 1)
    if same2.any():
        _slow_nodes(nodes2[same2])
        p0 = p0[~same2]
        p1 = p1[~same2]

    if not tile_fast.any() or not tile_fast[link_slot].any():
        tile_fast[:] = False
        return tile_fast, _NO_RINGS

    # directed edges: id = 2*link + bit, bit=0 -> to_node = a_node, bit=1 ->
    # b_node. A directed edge's id IS its link's entry id at its to_node, so
    # the degree-2 successor is partner ^ 1 (continue out the partner's other
    # end); entries at non-degree-2 nodes keep a harmless self-partner (their
    # tiles are slow or replayed by the sim).
    partner = np.arange(2 * m, dtype=idt)
    partner[p0] = p1.astype(idt, copy=False)
    partner[p1] = p0.astype(idt, copy=False)
    ids = np.arange(2 * m, dtype=idt)
    dlink = ids >> 1
    dbit = ids & 1
    to_node = np.where(dbit == 1, b_node[dlink], a_node[dlink])
    perm = partner ^ idt(1)

    # cycle labeling: min link id reachable (pointer doubling)
    val = dlink.copy()
    p = perm.copy()
    for _ in range(int(np.ceil(np.log2(max(2 * m, 2)))) + 1):
        val = np.minimum(val, val[p])
        p = p[p]
    # ring length per start = (#directed ids with this label) / 2
    counts = np.bincount(val, minlength=m)
    ring_len = (counts // 2).astype(idt, copy=False)
    start_links = np.flatnonzero(counts).astype(idt, copy=False)  # labels are link ids
    # cap: huge rings take the scalar path
    big = start_links[ring_len[start_links] > max_ring]
    if len(big):
        tile_fast[np.unique(link_slot[big])] = False

    fast_links = tile_fast[link_slot]
    start_links = start_links[fast_links[start_links]]
    # sim tiles' labels are garbage (self-partner bounces at multi nodes chop
    # their cycles); the replay below produces their rings instead
    if sim_tile.any():
        start_links = start_links[~sim_tile[link_slot[start_links]]]

    s = start_links
    lens = ring_len[s].astype(np.int64)
    nrings = len(s)

    if nrings:
        # left-top pick at the start link (degree-2 specialization of the
        # scalar left_top_link scan — every node on a non-sim fast tile is
        # degree 2). The scan is ORDER-DEPENDENT: with incidence order
        # [start, o] the result is o iff c1 >= 0; with [o, start] the scan may
        # flip to o (c1 >= 0) and then back to start (c2 >= 0), so the result
        # is o iff c1 >= 0 and c2 < 0. c1 = cross(b_s - a_s, b_o - a_s) tests
        # o against the start link; c2 = cross(b_o - a_o, b_s - a_o) tests
        # start against o.
        sa_node = a_node[s]
        first_is_start = l12[sa_node, 0] == s
        o_at = np.where(first_is_start, l12[sa_node, 1], l12[sa_node, 0])
        c1 = (lbx[s] - lax[s]) * (lby[o_at] - lay[s]) - (lby[s] - lay[s]) * (
            lbx[o_at] - lax[s]
        )
        c2 = (lbx[o_at] - lax[o_at]) * (lby[s] - lay[o_at]) - (
            lby[o_at] - lay[o_at]
        ) * (lbx[s] - lax[o_at])
        pick_o = np.where(first_is_start, c1 >= 0, (c1 >= 0) & (c2 < 0))
        top = np.where(pick_o, o_at, s)
        s_top = (lfill[top] & 1) != 0  # SUBJ_TOP
        c_top = (lfill[top] & 4) != 0  # CLIP_TOP
        hole = rule_inside(s_top, c_top, rule)
        d = hole == clockwise_output
        # first ring point + starting directed edge
        first_node = np.where(d, b_node[top], a_node[top])
        cur = np.where(d, 2 * top + 0, 2 * top + 1)  # toward a_node when d
        L_max = int(lens.max())
    else:
        hole = np.empty(0, dtype=bool)
        first_node = np.empty(0, dtype=idt)
        L_max = 1

    # node point lookup (any entry of the node); narrow mode stores coordinates
    # relative to (mnx, mny) in int32 — converted back to per-job int64 after
    # the walk, so downstream (validation) sees identical values
    cdt = np.int32 if narrow else np.int64
    node_x = np.zeros(n_nodes, dtype=cdt)
    node_y = np.zeros(n_nodes, dtype=cdt)
    if narrow:
        node_x[inv] = ends[:, 0] - mnx
        node_y[inv] = ends[:, 1] - mny
    else:
        node_x[inv] = ends[:, 0]
        node_y[inv] = ends[:, 1]

    if L_max <= 64:
        # short rings (the common batch shape): per-step column writes into a
        # (rings x L_max) buffer, then one mask compress to CSR
        buf_x = np.empty((nrings, L_max), dtype=cdt)
        buf_y = np.empty((nrings, L_max), dtype=cdt)
        buf_x[:, 0] = node_x[first_node]
        buf_y[:, 0] = node_y[first_node]
        for step in range(1, L_max):
            tn = to_node[cur]
            buf_x[:, step] = node_x[tn]
            buf_y[:, step] = node_y[tn]
            cur = perm[cur]
        pm = np.arange(L_max) < lens[:, None]
        x, y = buf_x[pm], buf_y[pm]
    else:
        # LONG rings (e.g. one 400k-point spiral ring): the per-step python
        # loop would run L_max iterations, so compute each directed edge's
        # RANK from its ring's start edge by pointer-doubling list ranking
        # (O(m log m) vectorized) and scatter points straight to CSR.
        # Ranks follow the INVERSE permutation from each edge back to its
        # ring's absorbing start edge; the reverse-direction orbit of a ring
        # shares its label but never reaches the absorbing edge, so its
        # ranks blow past the ring length and the <= L-2 filter drops it.
        pos = ring_starts(lens)
        x = np.empty(int(lens.sum()), dtype=cdt)
        y = np.empty(len(x), dtype=cdt)
        x[pos] = node_x[first_node]
        y[pos] = node_y[first_node]
        m2 = 2 * m
        ids2 = np.arange(m2, dtype=idt)
        ip = np.empty(m2, dtype=idt)
        ip[perm] = ids2
        ip[cur] = cur  # absorb at each fast ring's start edge
        dist = np.where(ip == ids2, idt(0), idt(1))
        p = ip
        for _ in range(int(np.ceil(np.log2(max(m2, 2)))) + 1):
            dist = dist + dist[p]
            p = p[p]
        ring_row = np.full(m, -1, dtype=idt)
        ring_row[s] = np.arange(nrings, dtype=idt)
        rows_e = ring_row[val]
        ok = rows_e >= 0
        ok[ok] &= dist[ok] <= lens[rows_e[ok]] - 2
        ee = np.flatnonzero(ok)
        tn = to_node[ee]
        at = pos[rows_e[ee]] + 1 + dist[ee]
        x[at] = node_x[tn]
        y[at] = node_y[tn]

    # back to per-job int64 coordinates; rings are in scalar walk order
    # (ascending start link, so by slot too)
    r_slot = link_slot[s].astype(np.int64)
    x = np.repeat((mnx if narrow else 0) - off[r_slot], lens) + x
    y = np.add(y, (mny if narrow else 0) + y0, dtype=np.int64)
    rings = RingSet(r_slot, hole, lens, x, y)

    # ---- order-sensitive tiles: exact replay of the scalar trigger loop -----
    if (sim_tile & tile_fast).any():
        sim = _sim_walk_tiles(
            np.flatnonzero(sim_tile & tile_fast), tile_fast, link_slot,
            lax, lay, lbx, lby, a_node, b_node, inv, ends, n_nodes,
            first_pos, deg, link_of_entry[order],
            rule_inside((lfill & 1) != 0, (lfill & 4) != 0, rule),
            clockwise_output, max_ring,
        )
        if sim is not None:
            s_slot, s_rank, s_hole, s_lens, s_x, s_y = sim
            rings = RingSet(
                np.concatenate([r_slot, s_slot]),
                np.concatenate([hole, s_hole]),
                np.concatenate([lens, s_lens]),
                np.concatenate([x, s_x - np.repeat(off[s_slot], s_lens)]),
                np.concatenate([y, s_y + y0]),
            )
            # scalar trigger order: ascending start link per slot (sim tiles
            # recorded their replayed trigger rank)
            emit_rank = np.concatenate([s.astype(np.int64), s_rank])
            rings = take_rings(rings, np.lexsort((emit_rank, rings.slot)))
    return tile_fast, rings


# ---- FLAT output tail ------------------------------------------------------
# (job, shape_id, contour_idx, lens, pts, area2) arrays instead of per-ring
# python lists/dicts: the emission side of the Arrow workers and the scalar
# one-shot API were ~30-40% per-ring python at 10^6-ring batches (round-5
# scenario profile). Ring sets, order and areas equal the per-job scalar
# kernel's (differential-tested in tests/test_batch_flat_out.py).

_FLAT_EMPTY = (
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
    np.empty((0, 2), dtype=np.int64),
    np.empty(0, dtype=np.int64),
)


def _bind_flat(rings, a2):
    """Hole binding of validated rings straight to the FLAT tuple (slot,
    shape_id, contour_idx, lens, pts, area2) sorted by (slot, shape, contour):
    one extract.bind_holes call over every slot (each slot's hulls, in walk
    order, are its shapes; unbound holes are dropped)."""
    slot, hole, lens, x, y = rings
    if len(slot) == 0:
        return _FLAT_EMPTY
    sid, cidx = bind_holes(rings)
    e = np.flatnonzero(sid >= 0)
    o = e[np.lexsort((cidx[e], sid[e], slot[e]))]
    pi = ring_gather_index(ring_starts(lens)[o], lens[o])
    return slot[o], sid[o], cidx[o], lens[o], np.stack([x[pi], y[pi]], axis=1), a2[o]


def _overlay_tail_flat(t, nj, rules, options):
    """Extraction over split+filled tiled parts -> {rule: flat tuple} sorted by
    (job, shape, contour). Per rule, the vectorized degree-2 walk serves every
    tile it can and the scalar walk the rest; all walked rings then take one
    validate_rings pass and _bind_flat."""
    if t == _EMPTY:
        return {rule: _FLAT_EMPTY for rule in rules}
    segs, all_fills, starts, off, y0 = t
    clockwise_output = options.output_direction == ContourDirection.CLOCKWISE
    rule_masks = {rule: boundary_mask(all_fills, rule) for rule in rules}
    walked: dict = {}
    fast_mask: dict = {}
    for rule in rules:
        fast_mask[rule], rings = _fast_contours_batch(
            segs, rule_masks[rule], all_fills, starts, rule, clockwise_output, off, y0
        )
        walked[rule] = [rings]

    any_slow = np.zeros(nj, dtype=bool)
    for rule in rules:
        any_slow |= ~fast_mask[rule]
    nonempty = np.diff(starts) > 0
    slow_slots = np.flatnonzero(any_slow & nonempty)
    if len(slow_slots):
        # job-local endpoint lists for EVERY link, adjusted batch-wide in numpy;
        # per tile these are list slices feeding ONE _LinkGraph shared by every
        # rule's walk (dead links pre-visited per rule)
        link_off = np.repeat(off, np.diff(starts))
        all_pa = list(zip((segs.ax - link_off).tolist(), (segs.ay + y0).tolist()))
        all_pb = list(zip((segs.bx - link_off).tolist(), (segs.by + y0).tolist()))
        all_fl = all_fills.tolist()
        slow_acc: dict = {rule: ([], []) for rule in rules}
        for slot in slow_slots.tolist():
            lo, hi = int(starts[slot]), int(starts[slot + 1])
            g = _LinkGraph(all_pa[lo:hi], all_pb[lo:hi], all_fl[lo:hi])
            for rule in rules:
                if fast_mask[rule][slot]:
                    continue
                contours = walk_contours(
                    None, None, rule, clockwise_output, rule_masks[rule][lo:hi], g
                )
                slow_acc[rule][0].extend(contours)
                slow_acc[rule][1].extend([slot] * len(contours))
        for rule in rules:
            walked[rule].append(pack_rings(*slow_acc[rule]))
    return {
        rule: _bind_flat(*validate_rings(concat_rings(walked[rule]), options))
        for rule in rules
    }


@gc_paused_fn
def overlay_batch_flat_out(
    P: np.ndarray,
    counts: np.ndarray,
    ring_job: np.ndarray,
    ring_subj: np.ndarray,
    nj: int,
    rules: list,
    fill_rule: FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
) -> dict:
    """Batch overlay over the FLAT ring layout: P is the (total_pts, 2) int64
    stack of every ring's points, counts/ring_job/ring_subj are per ring (the
    shape Arrow list columns decode to with zero per-row Python). Returns
    {rule: (job, shape_id, contour_idx, lens, pts, area2)} where pts is the
    (sum(lens), 2) int64 concatenation of every output ring in (job, shape_id,
    contour_idx) order. Each job's rings and areas equal the per-job scalar
    kernel's (build_graph + extract_shapes(..., with_areas=True)): both check
    their walked rings with extract.validate_rings. Jobs need not be
    pre-sorted in ring_job. Falls back to the scalar kernel per job when
    coordinates are large enough to need python-int math batch-wide."""
    rules = [OverlayRule(r) for r in rules]
    if nj == 0:
        return {rule: _FLAT_EMPTY for rule in rules}
    t = None
    if nj > 1:
        t = _tiled_graph(P, counts, ring_job, ring_subj, nj, fill_rule, options)
    if nj == 1 or t is None:
        return _scalar_flat(
            _jobs_from_flat(P, counts, ring_job, ring_subj, nj), rules, fill_rule, options
        )
    return _overlay_tail_flat(t, nj, rules, options)


def _jobs_from_flat(P, counts, ring_job, ring_subj, nj):
    """Reassemble (subj_rings, clip_rings) jobs from the flat ring layout — only
    for the scalar fallback (one job, or coords beyond _COORD_CAP)."""
    S = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(counts)])
    jobs: list[tuple[list, list]] = [([], []) for _ in range(nj)]
    for r in range(len(counts)):
        tgt = jobs[int(ring_job[r])]
        (tgt[0] if ring_subj[r] else tgt[1]).append(P[S[r]:S[r + 1]])
    return jobs


def _flat_to_job_shapes(flat, nj: int) -> list[Shapes]:
    """(job, sid, cidx, lens, pts, a2) sorted by job -> per-job Shapes lists
    (rings are views of one contiguous buffer; shape boundaries at
    contour_idx == 0)."""
    job, _, cidx, lens, pts, _ = flat
    out: list[Shapes] = [[] for _ in range(nj)]
    if len(lens) == 0:
        return out
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    # direct slicing, not np.split: array_split creates each sub-array through
    # a python _wrapfunc/swapaxes pair — ~2.5x slower per ring at 100k+ rings
    # (profiled on the windows scenario, 30% of the one-shot wall)
    ob = offs.tolist()
    last: list = []
    for i, (j, first) in enumerate(zip(job.tolist(), (cidx == 0).tolist())):
        r = pts[ob[i]:ob[i + 1]]
        if first:
            last = [r]
            out[j].append(last)
        else:
            last.append(r)
    return out


@gc_paused_fn
def overlay_batch(
    jobs: list[tuple[list[np.ndarray], list[np.ndarray]]],
    rules: list[OverlayRule],
    fill_rule: FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
) -> list[dict[OverlayRule, Shapes]]:
    """Run a batch of (subj_rings, clip_rings) jobs; returns per-job {rule: shapes}.

    Bit-identical to per-job kernel runs (tiles are disjoint in x, so no stage ever
    pairs segments across jobs). A thin adapter over overlay_batch_flat_out: the
    jobs are flattened to the flat ring layout and each rule's flat output is
    split back into per-job Shapes."""
    rules = [OverlayRule(r) for r in rules]
    nj = len(jobs)
    res = overlay_batch_flat_out(*_flatten_jobs(jobs), nj, rules, fill_rule, options)
    out: list[dict[OverlayRule, Shapes]] = [{} for _ in range(nj)]
    for rule in rules:
        for d, shapes in zip(out, _flat_to_job_shapes(res[rule], nj)):
            d[rule] = shapes
    return out
