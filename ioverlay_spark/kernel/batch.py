"""Batched multi-pair overlay: run MANY small boolean jobs through ONE vectorized
pipeline pass.

The per-pair kernel costs ~600us/pair in numpy-call overhead when jobs are tiny
(10-segment polygons). This module amortizes it: every job of a batch is translated
into its own disjoint x-tile (slot * W), all segments are concatenated, and
sort/merge/split/fill run ONCE over the whole batch — the x-sweep candidate pruning
and the x-span winding test never pair segments from different tiles, so results are
bit-identical to running each job alone (differential-tested in
tests/test_batch_kernel.py).

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
  fill (A10)    — _fills_batch: the midpoint ray-cast windowed by tile
  extract       — vectorized degree-2 walk over the whole batch; tiles with pinch
                  points replay the scalar trigger loop, and tiles neither can serve
                  take the per-tile scalar walk
"""

from __future__ import annotations

import numpy as np

from ..options import DEFAULT_OPTIONS, FillRule, OverlayOptions, OverlayRule
from .overlay import build_graph
from .segments import Segments, build_segments
from .split import split_segments
from .gcpause import gc_paused_fn

Shapes = list[list[np.ndarray]]

_COORD_CAP = 1 << 30  # beyond this, scalar path (object-int math) is required


def _scalar_batch(jobs, rules, fill_rule, options) -> list[dict]:
    """Per-job scalar kernel: [{rule: (shapes, areas)}] for each job."""
    from .extract import ring_area2

    out = []
    for subj, clip in jobs:
        g = build_graph(subj, clip, fill_rule, options)
        res = {}
        for rule in rules:
            shapes = g.extract(rule)
            res[rule] = (shapes, [[int(ring_area2(r)) for r in s] for s in shapes])
        out.append(res)
    return out


def _candidates_vec(segs: Segments) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized bbox-overlap candidate pairs (i < j). Precondition: sorted by a."""
    n = len(segs)
    if n < 2:
        z = np.empty(0, dtype=np.int64)
        return z, z
    ax, bx = segs.ax, segs.bx
    his = np.searchsorted(ax, bx, side="right")
    i0 = np.arange(n, dtype=np.int64)
    counts = np.maximum(his - i0 - 1, 0)
    total = int(counts.sum())
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    i_rep = np.repeat(i0, counts)
    cum = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(counts)])
    j = np.arange(total, dtype=np.int64) - cum[i_rep] + i_rep + 1
    ymin = np.minimum(segs.ay, segs.by)
    ymax = np.maximum(segs.ay, segs.by)
    m = (ymin[j] <= ymax[i_rep]) & (ymax[j] >= ymin[i_rep])
    return i_rep[m], j[m]


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


def _interacting(segs: Segments, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    ax, ay, bx, by = segs.ax, segs.ay, segs.bx, segs.by
    return interacting_mask(
        ax[i], ay[i], bx[i], by[i], ax[j], ay[j], bx[j], by[j]
    )


def _fills_batch(segs: Segments, fill_rule: FillRule, tile_lo: np.ndarray) -> np.ndarray:
    """Vectorized winding classification for the whole batch: each segment's downward
    ray at its doubled midpoint x is summed against same-tile segments whose x-span
    contains it (exactly fill._windings_below's math, windowed by tile). tile_lo[i] =
    first segment index of segment i's tile (segments sorted by ax)."""
    from .fill import _fill_bits

    n = len(segs)
    ax, ay, bx, by = segs.ax, segs.ay, segs.bx, segs.by
    Xi = ax + bx
    Yi = ay + by
    # candidate window: same-tile segments with 2*ax <= Xi (ax sorted)
    hi = np.searchsorted(2 * ax, Xi, side="right")
    counts = np.maximum(hi - tile_lo, 0)
    total = int(counts.sum())
    wind_s = np.zeros(n, dtype=np.int64)
    wind_c = np.zeros(n, dtype=np.int64)
    if total:
        cum = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(counts)])
        subj_f = segs.subj.astype(np.float64)
        clip_f = segs.clip.astype(np.float64)

        def _chunk(qlo: int, qhi: int):
            # enumerate the [qlo, qhi) rows' windows; bincount with float
            # weights replaces np.add.at (unbuffered ufunc.at is ~5-10x
            # slower) — winding sums stay exact: |weights| are tiny ints and
            # any partial sum is far under 2^53
            cnt = counts[qlo:qhi]
            tt = int(cum[qhi] - cum[qlo])
            if not tt:
                return None
            q = np.repeat(np.arange(qlo, qhi, dtype=np.int64), cnt)
            t = np.arange(tt, dtype=np.int64) - (cum[q] - cum[qlo]) + tile_lo[q]
            dt = bx[t] - ax[t]
            Xq = Xi[q]
            m = (dt > 0) & (Xq < 2 * bx[t])  # non-vertical t, span upper bound
            if not m.any():
                return None
            q, t, dt, Xq = q[m], t[m], dt[m], Xq[m]
            num = 2 * ay[t] * dt + (by[t] - ay[t]) * (Xq - 2 * ax[t])
            below = num < Yi[q] * dt
            if not below.any():
                return None
            q, t = q[below], t[below]
            q -= qlo
            ln = qhi - qlo
            ws = np.bincount(q, weights=subj_f[t], minlength=ln).astype(np.int64)
            wc = np.bincount(q, weights=clip_f[t], minlength=ln).astype(np.int64)
            return qlo, ln, ws, wc

        # chunk by window totals: bounds peak temporaries to ~8 arrays x
        # chunk pairs, and the chunks thread (pure numpy, GIL released)
        from .fill import _resolve_fill_threads

        target = 8_000_000
        bnds = [0]
        while bnds[-1] < n:
            stop = int(np.searchsorted(cum, cum[bnds[-1]] + target, side="left"))
            bnds.append(min(max(stop, bnds[-1] + 1), n))
        spans = list(zip(bnds[:-1], bnds[1:]))
        k = min(_resolve_fill_threads(None, total), len(spans))
        if k > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(k) as ex:
                results = list(ex.map(lambda se: _chunk(*se), spans))
        else:
            results = [_chunk(*se) for se in spans]
        for r in results:
            if r is None:
                continue
            qlo, ln, ws, wc = r
            wind_s[qlo : qlo + ln] += ws
            wind_c[qlo : qlo + ln] += wc
    return _fill_bits(segs, wind_s, wind_c, fill_rule)


_EMPTY = "empty"


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
    n = len(segs)
    if n == 0:
        return _EMPTY
    starts = np.searchsorted(segs.ax, np.arange(nj + 1, dtype=np.int64) * W)
    seg_tile = np.searchsorted(starts, np.arange(n, dtype=np.int64), side="right") - 1
    all_fills = _fills_batch(segs, fill_rule, starts[seg_tile])
    return segs, all_fills, starts, off, y0


def graph_batch(
    jobs: list[tuple[list[np.ndarray], list[np.ndarray]]],
    fill_rule: FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
):
    """Batched split+fill: per-job (Segments, fills) in ORIGINAL coordinates, via
    one tiled split_segments + _fills_batch pass. Returns None when the batch needs
    the scalar path (caller falls back to per-job build_graph)."""
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
    over prefetched lists, and ring validation/areas still run vectorized in
    _finalize_fast. Any unusual shape (dead end, over-cap ring) bails the tile
    to the scalar path, which guarantees identical output.

    Returns (slot, rank, hole, first_pts, lens, buf_x, buf_y) for the walked
    rings, in TILED coordinates (caller converts per job), or None."""
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
    fx: list[int] = []
    fy: list[int] = []
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
                px, py = BX[top], BY[top]
                nd = AN[top]
                last_nd = BN[top]
            else:
                px, py = AX[top], AY[top]
                nd = BN[top]
                last_nd = AN[top]
            VIS[top] = 1
            last_link = _next_link(top, last_nd, not dflag)
            if last_link < 0:
                bail = True  # isolated degenerate pair
                break
            lk = top
            rx: list[int] = []
            ry: list[int] = []
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
            if not ok or len(rx) + 1 > max_ring:
                bail = True  # over-cap or pathological: whole tile -> scalar
                break
            o_slot.append(ti)
            o_rank.append(rank_c)
            o_hole.append(hole_f)
            o_len.append(len(rx) + 1)
            fx.append(px)
            fy.append(py)
            flat_x.extend(rx)
            flat_y.extend(ry)
            rank_c += 1
        if bail:
            tile_fast[ti] = False
            del o_slot[n0:], o_rank[n0:], o_hole[n0:], o_len[n0:]
            del fx[n0:], fy[n0:], flat_x[f0:], flat_y[f0:]
    k = len(o_slot)
    if k == 0:
        return None
    lens = np.asarray(o_len, dtype=np.int64)
    w = int(lens.max())
    bx = np.zeros((k, w), dtype=np.int64)
    by = np.zeros((k, w), dtype=np.int64)
    vx = np.asarray(flat_x, dtype=np.int64)
    vy = np.asarray(flat_y, dtype=np.int64)
    row = np.repeat(np.arange(k), lens - 1)
    offs = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens - 1)])
    col = np.arange(len(vx)) - offs[row]
    bx[row, col] = vx
    by[row, col] = vy
    first_pts = np.stack([np.asarray(fx, dtype=np.int64), np.asarray(fy, dtype=np.int64)], axis=1)
    return (
        np.asarray(o_slot, dtype=np.int64),
        np.asarray(o_rank, dtype=np.int64),
        np.asarray(o_hole, dtype=bool),
        first_pts,
        lens,
        bx,
        by,
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

    Returns (tile_fast: bool per slot, contours: dict slot -> [(ring, hole)])."""
    from .extract import rule_inside

    pos = np.flatnonzero(mask)
    m = len(pos)
    nslots = len(starts) - 1
    tile_fast = np.ones(nslots, dtype=bool)
    if m == 0:
        return tile_fast, None
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
        return tile_fast, None

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
    lens = ring_len[s]
    # ring-buffer memory guard: (nrings x L_max) pairs; overly long rings
    # beyond the budget take the scalar walk
    cap = min(max_ring, max(256, 32_000_000 // max(len(s), 1)))
    big = s[lens > cap]
    if len(big):
        tile_fast[np.unique(link_slot[big])] = False
        fast_links = tile_fast[link_slot]
        s = s[fast_links[s]]
        lens = ring_len[s]
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
        first_x = np.where(d, lbx[top], lax[top])
        first_y = np.where(d, lby[top], lay[top])
        cur = np.where(d, 2 * top + 0, 2 * top + 1)  # toward a_node when d
        L_max = int(lens.max())
    else:
        hole = np.empty(0, dtype=bool)
        first_x = first_y = np.empty(0, dtype=np.int64)
        L_max = 1

    # node point lookup (any entry of the node); narrow mode stores coordinates
    # relative to (mnx, mny) in int32 — converted back to per-job int64 after
    # the walk, so downstream (finalize) sees identical values
    cdt = np.int32 if narrow else np.int64
    node_x = np.zeros(n_nodes, dtype=cdt)
    node_y = np.zeros(n_nodes, dtype=cdt)
    if narrow:
        node_x[inv] = ends[:, 0] - mnx
        node_y[inv] = ends[:, 1] - mny
    else:
        node_x[inv] = ends[:, 0]
        node_y[inv] = ends[:, 1]

    buf_x = np.zeros((nrings, L_max), dtype=cdt)
    buf_y = np.zeros((nrings, L_max), dtype=cdt)
    if nrings == 0:
        pass
    elif L_max <= 64:
        # short rings (the common batch shape): per-step column writes
        for step in range(L_max - 1):
            tn = to_node[cur]
            buf_x[:, step] = node_x[tn]
            buf_y[:, step] = node_y[tn]
            cur = perm[cur]
    else:
        # LONG rings (e.g. one 400k-point spiral ring): the per-step python
        # loop would run L_max iterations, so compute each directed edge's
        # RANK from its ring's start edge by pointer-doubling list ranking
        # (O(m log m) vectorized) and scatter points into the buffers.
        # Ranks follow the INVERSE permutation from each edge back to its
        # ring's absorbing start edge; the reverse-direction orbit of a ring
        # shares its label but never reaches the absorbing edge, so its
        # ranks blow past the ring length and the <= L-2 filter drops it.
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
        buf_x[rows_e[ee], dist[ee]] = node_x[tn]
        buf_y[rows_e[ee], dist[ee]] = node_y[tn]

    # back to per-job coordinates (vectorized); emission order = scalar walk
    # order (ascending start link within each slot)
    r_slot = link_slot[s]
    first_x = first_x - off[r_slot]
    first_y = first_y + y0
    if narrow:
        # int32 relative -> int64 per-job (broadcast with an int64 operand
        # forces the widening; padding beyond each ring's length is unused)
        buf_x = buf_x + (mnx - off[r_slot])[:, None]
        buf_y = np.add(buf_y, mny + y0, dtype=np.int64)
    else:
        buf_x = buf_x - off[r_slot][:, None]
        buf_y = buf_y + np.int64(y0)
    emit_rank = s.astype(np.int64)
    lens = lens.astype(np.int64)

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
            s_slot, s_rank, s_hole, s_first, s_lens, s_bx, s_by = sim
            k = len(s_slot)
            if k:
                Lm = max(L_max, int(s_lens.max()))
                if Lm > L_max:
                    pad = np.zeros((nrings, Lm), dtype=buf_x.dtype)
                    pad[:, :L_max] = buf_x
                    buf_x = pad
                    pad = np.zeros((nrings, Lm), dtype=buf_y.dtype)
                    pad[:, :L_max] = buf_y
                    buf_y = pad
                elif s_bx.shape[1] < Lm:
                    pad = np.zeros((k, Lm), dtype=np.int64)
                    pad[:, : s_bx.shape[1]] = s_bx
                    s_bx = pad
                    pad = np.zeros((k, Lm), dtype=np.int64)
                    pad[:, : s_by.shape[1]] = s_by
                    s_by = pad
                s_bx = s_bx - off[s_slot][:, None]
                s_by = s_by + np.int64(y0)
                r_slot = np.concatenate([r_slot, s_slot])
                hole = np.concatenate([hole, s_hole])
                lens = np.concatenate([lens, s_lens])
                first_x = np.concatenate([first_x, s_first[:, 0] - off[s_slot]])
                first_y = np.concatenate([first_y, s_first[:, 1] + y0])
                buf_x = np.concatenate([np.asarray(buf_x, dtype=np.int64), s_bx])
                buf_y = np.concatenate([np.asarray(buf_y, dtype=np.int64), s_by])
                emit_rank = np.concatenate([emit_rank, s_rank])

    if len(r_slot) == 0:
        return tile_fast, None
    # emission order = scalar trigger order: ascending start link per slot
    # (sim tiles recorded their replayed trigger rank)
    order_r = np.lexsort((emit_rank, r_slot))
    ring_data = {
        "slot": r_slot[order_r],
        "hole": hole[order_r],
        "len": lens[order_r],
        "first_x": first_x[order_r],
        "first_y": first_y[order_r],
        "buf_x": buf_x[order_r],
        "buf_y": buf_y[order_r],
        "fast_slots": np.flatnonzero(tile_fast),
    }
    return tile_fast, ring_data


def _finalize_fast(ring_data, options) -> dict[int, tuple]:
    """Vectorized validate + classify for the fast-walk rings of the slots
    _finalize_fast_flat cannot serve (dirty rings, multi-hull hole binding):
    {slot: (shapes, areas)}. Rings are grouped by length into regular (k, L)
    blocks, duplicate/collinear-vertex detection and the shoelace area run as
    array ops, and only DIRTY rings take the scalar simplify path. Output
    equals extract_shapes(..., with_areas=True) over the same contours."""
    from .extract import bind_holes, ring_area2, simplify_ring

    empty = ([], [])
    out: dict[int, tuple] = {int(sl): empty for sl in ring_data["fast_slots"]}
    n = len(ring_data["slot"])
    if n == 0:
        return {sl: empty for sl in out}
    hulls_by_slot: dict[int, list] = {}
    holes_by_slot: dict[int, list] = {}
    min_area2 = 2 * options.min_output_area
    simplify = not options.preserve_output_collinear

    lens = ring_data["len"]
    for L in np.unique(lens).tolist():
        sel = np.flatnonzero(lens == L)
        k = len(sel)
        block = np.empty((k, L, 2), dtype=np.int64)
        block[:, 0, 0] = ring_data["first_x"][sel]
        block[:, 0, 1] = ring_data["first_y"][sel]
        if L > 1:
            block[:, 1:, 0] = ring_data["buf_x"][sel, : L - 1]
            block[:, 1:, 1] = ring_data["buf_y"][sel, : L - 1]
        prv = np.roll(block, 1, axis=1)
        nxt = np.roll(block, -1, axis=1)
        if simplify:
            dup = np.all(block == prv, axis=2).any(axis=1)
            a = block - prv
            b = nxt - block
            cr = a[:, :, 0] * b[:, :, 1] - a[:, :, 1] * b[:, :, 0]
            dirty = dup | (cr == 0).any(axis=1) | (L < 3)
        else:
            dirty = np.zeros(k, dtype=bool)
        # int64 shoelace guard: route the whole L-group to the exact python-int
        # path when term sums could overflow (scalar ring_area2 is object-int)
        mx = int(np.abs(block).max(initial=0))
        if L * mx * mx >= (1 << 62):
            dirty[:] = True
        # shoelace (valid for clean rings; dirty recomputed after simplify)
        x = block[:, :, 0]
        y = block[:, :, 1]
        a2 = (x * np.roll(y, -1, axis=1)).sum(axis=1) - (
            np.roll(x, -1, axis=1) * y
        ).sum(axis=1)

        slots = ring_data["slot"][sel]
        holes_f = ring_data["hole"][sel]
        for t in range(k):
            ri = int(sel[t])
            if dirty[t]:
                ring = list(map(tuple, block[t].tolist()))
                if simplify:
                    ring = simplify_ring(ring)
                if len(ring) < 3:
                    continue
                ra2 = ring_area2(ring)
                arr = np.array(ring, dtype=np.int64)
            else:
                ra2 = int(a2[t])
                arr = block[t]
            if ra2 == 0 or (min_area2 > 0 and abs(ra2) < min_area2):
                continue
            sl = int(slots[t])
            tgt = holes_by_slot if holes_f[t] else hulls_by_slot
            tgt.setdefault(sl, []).append((ri, arr, int(ra2)))

    for sl in out:
        hulls = sorted(hulls_by_slot.get(sl, []), key=lambda t: t[0])
        holes = sorted(holes_by_slot.get(sl, []), key=lambda t: t[0])
        if not holes:
            out[sl] = ([[arr] for _, arr, _ in hulls], [[a2] for _, _, a2 in hulls])
            continue
        amap = {id(arr): a2 for _, arr, a2 in hulls + holes}
        shapes = bind_holes([h for _, h, _ in hulls], [h for _, h, _ in holes])
        out[sl] = (
            [[np.array(r, dtype=np.int64) for r in shape] for shape in shapes],
            [[amap[id(r)] for r in shape] for shape in shapes],
        )
    return out


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


def _flat_gather_rings(pts_src, src_pos, lens):
    """Gather rings (src_pos[i] start, lens[i] points each) out of pts_src into
    one contiguous (sum(lens), 2) buffer, in the given ring order."""
    total = int(lens.sum())
    if total == 0:
        return np.empty((0, 2), dtype=np.int64)
    out_start = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=out_start[1:])
    idx = np.repeat(src_pos - out_start, lens) + np.arange(total, dtype=np.int64)
    return pts_src[idx]


def _shapes_to_flat(slot_shapes):
    """[(slot, (shapes, areas))] -> flat tuple (python loop — fallback slots only)."""
    slots, sids, cidxs, lens, a2 = [], [], [], [], []
    pieces = []
    for sl, (shapes, areas) in slot_shapes:
        for sid, (shape, s_areas) in enumerate(zip(shapes, areas)):
            for ci, (ring, a) in enumerate(zip(shape, s_areas)):
                slots.append(sl)
                sids.append(sid)
                cidxs.append(ci)
                lens.append(len(ring))
                a2.append(a)
                pieces.append(np.asarray(ring, dtype=np.int64).reshape(-1, 2))
    if not slots:
        return _FLAT_EMPTY
    pts = np.concatenate(pieces) if pieces else np.empty((0, 2), dtype=np.int64)
    return (
        np.asarray(slots, dtype=np.int64),
        np.asarray(sids, dtype=np.int64),
        np.asarray(cidxs, dtype=np.int64),
        np.asarray(lens, dtype=np.int64),
        pts,
        np.asarray(a2, dtype=np.int64),
    )


def _merge_flat(parts):
    """Concatenate flat tuples and re-sort rings by (job, shape, contour)."""
    parts = [p for p in parts if len(p[0])]
    if not parts:
        return _FLAT_EMPTY
    if len(parts) == 1:
        return parts[0]
    slot = np.concatenate([p[0] for p in parts])
    sid = np.concatenate([p[1] for p in parts])
    cidx = np.concatenate([p[2] for p in parts])
    lens = np.concatenate([p[3] for p in parts])
    a2 = np.concatenate([p[5] for p in parts])
    pts = np.concatenate([p[4] for p in parts])
    # ring start offsets into the concatenated pts, pre-sort
    src_pos = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=src_pos[1:])
    order = np.lexsort((cidx, sid, slot))
    return (
        slot[order],
        sid[order],
        cidx[order],
        lens[order],
        _flat_gather_rings(pts, src_pos[order], lens[order]),
        a2[order],
    )


def _finalize_fast_flat(ring_data, options):
    """Vectorized validate + classify straight to FLAT arrays.

    Returns (flat, fb_slots): flat = (slot, shape_id, contour_idx, lens, pts,
    area2) sorted by (slot, shape, contour), covering every fast slot this path
    can serve exactly; fb_slots = fast slots it cannot (a dirty ring needing the
    scalar simplify, or hole binding beyond the single-hull case) — the caller
    must finalize those via _finalize_fast and merge. Output rings for served
    slots equal _finalize_fast's exactly: hulls in emission order = shapes;
    single-hull slots bind every hole to the hull in emission order (bind_holes
    with one hull resolves every hole to it — anchors of walk-emitted holes lie
    strictly inside the lone hull on degree-2 tiles)."""
    slot = ring_data["slot"]
    n = len(slot)
    if n == 0:
        return _FLAT_EMPTY, np.empty(0, dtype=np.int64)
    hole = ring_data["hole"]
    lens = ring_data["len"]
    min_area2 = 2 * options.min_output_area
    simplify = not options.preserve_output_collinear

    a2_all = np.empty(n, dtype=np.int64)
    dirty_all = np.zeros(n, dtype=bool)
    pos = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=pos[1:])
    pts_src = np.empty((int(lens.sum()), 2), dtype=np.int64)
    for L in np.unique(lens).tolist():
        sel = np.flatnonzero(lens == L)
        k = len(sel)
        block = np.empty((k, L, 2), dtype=np.int64)
        block[:, 0, 0] = ring_data["first_x"][sel]
        block[:, 0, 1] = ring_data["first_y"][sel]
        if L > 1:
            block[:, 1:, 0] = ring_data["buf_x"][sel, : L - 1]
            block[:, 1:, 1] = ring_data["buf_y"][sel, : L - 1]
        if simplify:
            prv = np.roll(block, 1, axis=1)
            nxt = np.roll(block, -1, axis=1)
            dup = np.all(block == prv, axis=2).any(axis=1)
            a = block - prv
            b = nxt - block
            cr = a[:, :, 0] * b[:, :, 1] - a[:, :, 1] * b[:, :, 0]
            dirty = dup | (cr == 0).any(axis=1) | (L < 3)
        else:
            dirty = np.zeros(k, dtype=bool)
        mx = int(np.abs(block).max(initial=0))
        if L * mx * mx >= (1 << 62):
            dirty[:] = True
        x = block[:, :, 0]
        y = block[:, :, 1]
        a2 = (x * np.roll(y, -1, axis=1)).sum(axis=1) - (
            np.roll(x, -1, axis=1) * y
        ).sum(axis=1)
        a2_all[sel] = a2
        dirty_all[sel] = dirty
        idx = (pos[sel][:, None] + np.arange(L, dtype=np.int64)).ravel()
        pts_src[idx] = block.reshape(-1, 2)

    keep = ~dirty_all & (a2_all != 0)
    if min_area2 > 0:
        keep &= np.abs(a2_all) >= min_area2

    # dense slot index (slot is sorted ascending)
    sb = np.empty(n, dtype=bool)
    sb[0] = True
    np.not_equal(slot[1:], slot[:-1], out=sb[1:])
    sidx = np.cumsum(sb) - 1
    ns = int(sidx[-1]) + 1
    slot_of = slot[sb]
    has_dirty = np.bincount(sidx[dirty_all], minlength=ns) > 0
    hulls_kept = np.bincount(sidx[keep & ~hole], minlength=ns)
    holes_kept = np.bincount(sidx[keep & hole], minlength=ns)
    fb_mask = has_dirty | ((holes_kept > 0) & (hulls_kept > 1))
    fb_slots = slot_of[fb_mask]
    # orphan holes (every hull of the slot dropped): bind_holes drops them
    keep &= ~(hole & (hulls_kept[sidx] == 0))
    emit = keep & ~fb_mask[sidx]
    e = np.flatnonzero(emit)
    if len(e) == 0:
        return _FLAT_EMPTY, fb_slots
    # (slot, hole, emission rank) order: hulls first — matches _finalize_fast's
    # per-slot [hulls by rank, then bound holes by rank]
    eo = e[np.lexsort((e, hole[e], sidx[e]))]
    sidx_eo = sidx[eo]
    gb = np.empty(len(eo), dtype=bool)
    gb[0] = True
    np.not_equal(sidx_eo[1:], sidx_eo[:-1], out=gb[1:])
    gstart = np.flatnonzero(gb)
    gid = np.cumsum(gb) - 1
    rank_in_slot = np.arange(len(eo), dtype=np.int64) - gstart[gid]
    hole_eo = hole[eo]
    hk = hulls_kept[sidx_eo]
    sid = np.where(hole_eo, 0, rank_in_slot)
    cidx = np.where(hole_eo, rank_in_slot - hk + 1, 0)
    lens_eo = lens[eo].astype(np.int64, copy=False)
    flat = (
        slot[eo],
        sid.astype(np.int64, copy=False),
        cidx.astype(np.int64, copy=False),
        lens_eo,
        _flat_gather_rings(pts_src, pos[eo], lens_eo),
        a2_all[eo],
    )
    return flat, fb_slots


def _overlay_tail_flat(t, nj, rules, options):
    """Extraction over split+filled tiled parts -> {rule: flat tuple} sorted by
    (job, shape, contour). Per rule, the vectorized degree-2 walk serves every
    tile it can (_finalize_fast_flat, with _finalize_fast for its fallback
    slots); the remaining tiles take the scalar walk."""
    if t == _EMPTY:
        return {rule: _FLAT_EMPTY for rule in rules}
    segs, all_fills, starts, off, y0 = t
    from ..options import ContourDirection
    from .extract import boundary_mask

    clockwise_output = options.output_direction == ContourDirection.CLOCKWISE
    rule_masks = {rule: boundary_mask(all_fills, rule) for rule in rules}
    per_rule: dict = {}
    fast_mask: dict = {}
    for rule in rules:
        tile_fast, ring_data = _fast_contours_batch(
            segs, rule_masks[rule], all_fills, starts, rule, clockwise_output, off, y0
        )
        fast_mask[rule] = tile_fast
        if ring_data is None:
            per_rule[rule] = [_FLAT_EMPTY]
            continue
        flat, fb_slots = _finalize_fast_flat(ring_data, options)
        parts = [flat]
        if len(fb_slots):
            sel = np.isin(ring_data["slot"], fb_slots)
            sub = {
                k: (fb_slots if k == "fast_slots" else v[sel])
                for k, v in ring_data.items()
            }
            per_slot = _finalize_fast(sub, options)
            parts.append(
                _shapes_to_flat([(int(sl), per_slot[int(sl)]) for sl in fb_slots])
            )
        per_rule[rule] = parts

    any_slow = np.zeros(nj, dtype=bool)
    for rule in rules:
        any_slow |= ~fast_mask[rule]
    nonempty = np.diff(starts) > 0
    slow_slots = np.flatnonzero(any_slow & nonempty)
    if len(slow_slots):
        # job-local endpoint lists for EVERY link, adjusted batch-wide in numpy;
        # per tile these are list slices feeding ONE _LinkGraph shared by every
        # rule's walk (dead links pre-visited per rule)
        from .extract import _LinkGraph, finalize_contours, walk_contours

        link_off = np.repeat(off, np.diff(starts))
        all_pa = list(zip((segs.ax - link_off).tolist(), (segs.ay + y0).tolist()))
        all_pb = list(zip((segs.bx - link_off).tolist(), (segs.by + y0).tolist()))
        all_fl = all_fills.tolist()
        slow_acc: dict = {rule: [] for rule in rules}
        for slot in slow_slots.tolist():
            lo, hi = int(starts[slot]), int(starts[slot + 1])
            g = _LinkGraph(all_pa[lo:hi], all_pb[lo:hi], all_fl[lo:hi])
            for rule in rules:
                if fast_mask[rule][slot]:
                    continue
                contours = walk_contours(
                    None, None, rule, clockwise_output, rule_masks[rule][lo:hi], g
                )
                slow_acc[rule].append(
                    (slot, finalize_contours(contours, options, with_areas=True))
                )
        for rule in rules:
            if slow_acc[rule]:
                per_rule[rule].append(_shapes_to_flat(slow_acc[rule]))
    return {rule: _merge_flat(per_rule[rule]) for rule in rules}


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
    kernel's (build_graph + extract_shapes(..., with_areas=True)); jobs need
    not be pre-sorted in ring_job. Falls back to the scalar kernel per job
    when coordinates are large enough to need python-int math batch-wide."""
    rules = [OverlayRule(r) for r in rules]
    if nj == 0:
        return {rule: _FLAT_EMPTY for rule in rules}
    t = None
    if nj > 1:
        t = _tiled_graph(P, counts, ring_job, ring_subj, nj, fill_rule, options)
    if nj == 1 or t is None:
        res = _scalar_batch(
            _jobs_from_flat(P, counts, ring_job, ring_subj, nj), rules, fill_rule, options
        )
        return {
            rule: _shapes_to_flat([(j, res[j][rule]) for j in range(nj)])
            for rule in rules
        }
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
