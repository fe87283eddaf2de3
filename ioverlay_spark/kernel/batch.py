"""Batched multi-pair overlay: run MANY small boolean jobs through ONE vectorized
pipeline pass.

The per-pair kernel costs ~600us/pair in numpy-call overhead when jobs are tiny
(10-segment polygons). This module amortizes it: every job of a batch is translated
into its own disjoint x-tile (slot * W) with its y starting at 0, all segments are
concatenated, and sort/merge/split/fill run ONCE over the whole batch — the
bbox-overlap candidate pairs never join segments from different tiles, and a fill
ray never meets another tile's segment, so results are bit-identical to running
each job alone (differential-tested in tests/test_batch_kernel.py). Every gate
downstream measures extents, not positions, so where the jobs sit does not change
the path they take; a batch whose tiles would leave int64 runs as consecutive
chunks of jobs (_tile_place).

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
  extract       — extract.walk_rings over the whole batch per rule (the vectorized
                  cycle walk for every tile it proves, junction tiles included;
                  the python trigger loop for tiles with dangling ends,
                  zero-length links or a left-top pick among several links), one
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
    bind_holes,
    boundary_mask,
    ring_gather_index,
    ring_starts,
    validate_rings,
    walk_rings,
)
from .fill import compute_fills_windowed
from .segments import Segments, build_segments
from .split import split_segments
from .gcpause import gc_paused_fn

Shapes = list[list[np.ndarray]]


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


def vectorized_ring_segments(ring_pts, ring_job, ring_subj, options=DEFAULT_OPTIONS):
    """Vectorized ingest of many rings at once: normalized directed segments with
    winding counts and per-segment job ids. Clean rings build entirely in numpy;
    dirty rings (dup/collinear vertices) take the reference-exact scalar cleanup.

    Returns (ax, ay, bx, by, subj, clip, ejob) or _EMPTY."""
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
    (operators/overlay_df.py's mapInArrow worker).

    The duplicate and collinear tests read offsets from each ring's own min
    corner (uint64 differences: exact at any position). A ring whose extent
    reaches 2^31 counts as dirty, so the collinear cross is exact in int64 on
    every clean ring."""
    nr = len(counts)
    if nr == 0 or len(P) == 0:
        return _EMPTY
    P = np.asarray(P, dtype=np.int64)
    S = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(counts)])
    ring_of = np.repeat(np.arange(nr, dtype=np.int64), counts)
    idx = np.arange(len(P), dtype=np.int64)
    start = S[ring_of]
    end = S[ring_of + 1]
    nxt = np.where(idx + 1 == end, start, idx + 1)

    # dirty ring = any consecutive duplicate or (unless preserved) collinear
    # vertex, or an extent of 2^31 or more
    dirty = np.zeros(nr, dtype=bool)
    dirty[counts < 3] = True
    ne = np.flatnonzero(counts)
    corner = np.zeros((nr, 2), dtype=np.int64)
    corner[ne] = np.minimum.reduceat(P, S[ne], axis=0)
    L = P.view(np.uint64) - corner[ring_of].view(np.uint64)
    dirty[ne[np.maximum.reduceat(L.max(axis=1), S[ne]) >= 1 << 31]] = True
    L = L.view(np.int64)
    dup = np.all(P == P[nxt], axis=1)
    dirty[ring_of[dup]] = True
    if not options.preserve_input_collinear:
        prv = np.where(idx == start, end - 1, idx - 1)
        a = L - L[prv]
        b = L - L[nxt]
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


def _tile_place(ax, ay, bx, by, ejob, nj):
    """Tile placement shared by the batch kernels (a < b segment endpoints,
    ejob each segment's job): (xoff, yoff, W, per). Job j moves by
    (xoff[j], yoff[j]) into x-tile k = j % per of its chunk, [k * W,
    (k + 1) * W), with its min corner at (k * W + 2, 0). Tiles never share an
    x, so no stage pairs segments or casts a ray across jobs, and each job's
    y starts at 0, so a gate that reads a chunk's y extent sees one job's
    height. W is the widest job plus 8; chunks of per = max(1, 2^62 // W)
    consecutive jobs keep their tiles inside int64. A job 2^62 or more wide,
    alone in its chunk, keeps its x; one 2^63 or more tall keeps its y.
    Offsets wrap in int64: placed and restored coordinates are exact."""
    lo = np.full((2, nj), np.iinfo(np.int64).max)
    hi = np.full((2, nj), np.iinfo(np.int64).min)
    np.minimum.at(lo[0], ejob, ax)  # a < b lexicographically: ax is the min x
    np.maximum.at(hi[0], ejob, bx)
    np.minimum.at(lo[1], ejob, np.minimum(ay, by))
    np.maximum.at(hi[1], ejob, np.maximum(ay, by))
    absent = hi[0] < lo[0]
    lo[:, absent] = hi[:, absent] = 0
    # extents as uint64 differences: exact at any int64 span
    ext = hi.view(np.uint64) - lo.view(np.uint64)
    W = int(ext[0].max()) + 8
    per = max(1, (1 << 62) // W)
    step = W if per > 1 else 0
    xoff = np.where(ext[0] < 1 << 62, np.arange(nj) % per * step + 2 - lo[0], 0)
    yoff = np.where(ext[1] < 1 << 63, -lo[1], 0)
    return xoff, yoff, W, per


def _placed_chunks(t, nj):
    """The placed chunks of an ingested batch t = (ax, ay, bx, by, subj, clip,
    ejob): (j0, segs, xoff, yoff, W) per chunk of jobs [j0, j0 + len(xoff)),
    segs in tiled coordinates, xoff / yoff the chunk's per-slot offsets."""
    ax, ay, bx, by, subj, clip, ejob = t
    xoff, yoff, W, per = _tile_place(ax, ay, bx, by, ejob, nj)
    dx, dy = xoff[ejob], yoff[ejob]
    segs = Segments(ax + dx, ay + dy, bx + dx, by + dy, subj, clip)
    if per >= nj:
        yield 0, segs, xoff, yoff, W
        return
    o = np.argsort(ejob, kind="stable")
    cut = np.searchsorted(ejob[o], np.arange(0, nj + per, per)).tolist()
    for j0, lo, hi in zip(range(0, nj, per), cut, cut[1:]):
        yield j0, segs.take(o[lo:hi]), xoff[j0:j0 + per], yoff[j0:j0 + per], W


def _slot_starts(ax, nslots, W):
    """Slot k's first row in tiled segments sorted by ax, k in [0, nslots]."""
    inner = np.searchsorted(ax, np.arange(1, nslots, dtype=np.int64) * W)
    return np.concatenate([[0], inner, [len(ax)]]).astype(np.int64)


def _tiled_graph(raw, nslots, W, fill_rule):
    """Split + fill of one placed chunk: (segs, fills, starts) in tiled
    coordinates, slot k owning segments [starts[k], starts[k + 1]), or
    _EMPTY."""
    segs = split_segments(raw, threads=1)
    if len(segs) == 0:
        return _EMPTY
    # one fill over the whole chunk: tiles are disjoint in x, so a ray never
    # meets another tile's segment
    return segs, compute_fills_windowed(segs, fill_rule, threads=1), _slot_starts(
        segs.ax, nslots, W
    )


def graph_batch(
    jobs: list[tuple[list[np.ndarray], list[np.ndarray]]],
    fill_rule: FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
):
    """Batched split+fill: per-job (Segments, fills) in ORIGINAL coordinates, via
    one tiled split_segments + compute_fills_windowed pass per chunk."""
    nj = len(jobs)
    empty = (Segments.empty(), np.empty(0, dtype=np.uint8))
    out = [empty] * nj
    t = vectorized_ring_segments_flat(*_flatten_jobs(jobs), options)
    if t == _EMPTY:
        return out
    for j0, raw, xoff, yoff, W in _placed_chunks(t, nj):
        g = _tiled_graph(raw, len(xoff), W, fill_rule)
        if g == _EMPTY:
            continue
        segs, fills, starts = g
        for k, (lo, hi) in enumerate(zip(starts.tolist(), starts[1:].tolist())):
            if lo < hi:
                dx, dy = xoff[k], yoff[k]
                out[j0 + k] = (Segments(
                    segs.ax[lo:hi] - dx, segs.ay[lo:hi] - dy, segs.bx[lo:hi] - dx,
                    segs.by[lo:hi] - dy, segs.subj[lo:hi], segs.clip[lo:hi],
                ), fills[lo:hi])
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


def _overlay_tail_flat(t, xoff, yoff, rules, options):
    """Extraction over one split+filled placed chunk -> {rule: flat tuple}
    sorted by (slot, shape, contour), rings back in job coordinates: per rule
    one extract.walk_rings over every tile, one validate_rings pass and
    _bind_flat."""
    if t == _EMPTY:
        return {rule: _FLAT_EMPTY for rule in rules}
    segs, all_fills, starts = t
    clockwise_output = options.output_direction == ContourDirection.CLOCKWISE
    return {
        rule: _bind_flat(*validate_rings(walk_rings(
            segs, boundary_mask(all_fills, rule), all_fills, starts, rule,
            clockwise_output, xoff, yoff,
        ), options))
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
    kernel's (build_graph + extract_shapes(..., with_areas=True)) at any
    coordinate width: both check their walked rings with
    extract.validate_rings. Jobs need not be pre-sorted in ring_job."""
    rules = [OverlayRule(r) for r in rules]
    t = _EMPTY if nj == 0 else vectorized_ring_segments_flat(
        P, counts, ring_job, ring_subj, options
    )
    if t == _EMPTY:
        return {rule: _FLAT_EMPTY for rule in rules}
    parts: dict = {rule: [] for rule in rules}
    for j0, raw, xoff, yoff, W in _placed_chunks(t, nj):
        g = _tiled_graph(raw, len(xoff), W, fill_rule)
        for rule, flat in _overlay_tail_flat(g, xoff, yoff, rules, options).items():
            parts[rule].append((flat[0] + j0, *flat[1:]))
    return {
        rule: p[0] if len(p) == 1 else tuple(np.concatenate(c) for c in zip(*p))
        for rule, p in parts.items()
    }


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
