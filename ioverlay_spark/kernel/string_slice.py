"""Shared-pipeline slice (StringRule::Slice): body and wall edges run through ONE
snap-rounding split fixpoint, so body edges split at (rounded) wall crossings
inside the fixpoint — the reference architecture, replacing the round-2
clip+arrangement slice that bent boundaries post-hoc and diverged at unit scale.

Reference mapping:
  - ShapeCountString {subj: i32, clip: u8-bitmask} counts: body rings ingest as
    subject (+-1), wall edges carry direction bits (FORWARD/BACK); coincident
    merge sums subj and ORs clip; direction inversion negates subj and swaps the
    bits (iOverlay/src/segm/string.rs:6-88, iOverlay/src/string/overlay.rs:128-281).
  - The SAME SplitSolver fixpoint as boolean overlay splits all segments
    together (iOverlay/src/string/overlay.rs:252-281 -> split/solver.rs).
  - The fill accumulates subj windings only (the boolean kernel's segment-tree
    fill with clip weights zeroed); the string SegmentFill is
    subj_top | subj_bot << 1 | clip_bits << 2 (iOverlay/src/build/string.rs:90-150).
  - Slice extraction: working fills = fill & SUBJ_BOTH; every link is walked
    once per remaining subj side (walls inside the body carry SUBJ_BOTH and are
    walked from both sides), consuming one side bit per visit; next link chosen
    by nearest-vector rotation (iOverlay/src/string/extract.rs:42-230,
    iOverlay/src/string/filter.rs:9-58).
  - Self-touching tour paths split into loops at repeated vertices
    (iOverlay/src/string/split.rs:20-63), then holes bind to hulls.
"""

from __future__ import annotations

import numpy as np

from ..options import ContourDirection, FillRule, OverlayOptions
from .extract import _LinkGraph, _nearest_link, bind_ring_lists, link_graph, ring_area2
from .fill import SUBJ_BOTH, SUBJ_BOTTOM, SUBJ_TOP, compute_fills_windowed
from .segments import Segments, _dedup_consecutive, _drop_collinear, build_segments
from .split import find_marks

# wall-direction bits (iOverlay/src/segm/string.rs:13-14)
BACK_CLIP = 0b01
FORWARD_CLIP = 0b10


def build_string_segments(
    body: list[np.ndarray],
    paths: list[np.ndarray],
    preserve_collinear: bool = False,
) -> Segments:
    """Body rings as subject segments; wall polylines as string segments whose
    `clip` column holds direction BITS (not winding counts): an edge a->b with
    a < b lexicographically records BACK_CLIP, a > b swaps endpoints and records
    FORWARD_CLIP (iOverlay/src/string/overlay.rs:128-160)."""
    segs = build_segments(body, True, preserve_collinear)
    axs, ays, bxs, bys, bits = [], [], [], [], []
    for path in paths:
        pts = np.asarray(path, dtype=np.int64).reshape(-1, 2)
        if len(pts) > 1:
            # OPEN-path consecutive dedup (segments.dedup is ring-oriented and
            # would strip the deliberate first==last closing point of a window
            # contour); a==b edges are skipped below anyway, so this is just
            # tidiness for long runs
            keep = np.ones(len(pts), dtype=bool)
            keep[1:] = np.any(pts[1:] != pts[:-1], axis=1)
            pts = pts[keep]
        for k in range(len(pts) - 1):
            a = (int(pts[k][0]), int(pts[k][1]))
            b = (int(pts[k + 1][0]), int(pts[k + 1][1]))
            if a == b:
                continue
            if a < b:
                axs.append(a[0]); ays.append(a[1]); bxs.append(b[0]); bys.append(b[1])
                bits.append(BACK_CLIP)
            else:
                axs.append(b[0]); ays.append(b[1]); bxs.append(a[0]); bys.append(a[1])
                bits.append(FORWARD_CLIP)
    if not axs:
        return segs
    walls = Segments(
        np.array(axs, dtype=np.int64),
        np.array(ays, dtype=np.int64),
        np.array(bxs, dtype=np.int64),
        np.array(bys, dtype=np.int64),
        np.zeros(len(axs), dtype=np.int64),
        np.array(bits, dtype=np.int64),
    )
    return Segments.concat([segs, walls])


def sort_and_merge_string(segs: Segments) -> Segments:
    """Coincident merge with the string winding algebra: subj sums, clip ORs;
    a segment is dropped only when both are zero
    (ShapeCountString::add / is_not_empty, iOverlay/src/segm/string.rs:67-76)."""
    n = len(segs)
    if n == 0:
        return segs
    order = np.lexsort((segs.by, segs.bx, segs.ay, segs.ax))
    s = segs.take(order)
    key = np.stack([s.ax, s.ay, s.bx, s.by], axis=1)
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = np.any(key[1:] != key[:-1], axis=1)
    first = np.flatnonzero(new_group)
    gid = np.cumsum(new_group) - 1
    ngroups = int(gid[-1]) + 1
    subj = np.bincount(gid, weights=s.subj, minlength=ngroups).astype(np.int64)
    clip = np.bitwise_or.reduceat(s.clip, first)
    keep = (subj != 0) | (clip != 0)
    idx = first[keep]
    return Segments(s.ax[idx], s.ay[idx], s.bx[idx], s.by[idx], subj[keep], clip[keep])


def _invert_bits(c: int) -> int:
    return ((c & BACK_CLIP) << 1) | ((c & FORWARD_CLIP) >> 1)


def _apply_marks_string(segs: Segments, marks: list[tuple[int, int, int]]) -> Segments:
    """split._apply_marks with the string count algebra on direction inversion:
    subj negates, clip bits swap (ShapeCountString::invert,
    iOverlay/src/segm/string.rs:78-88)."""
    by_seg: dict[int, set[tuple[int, int]]] = {}
    for idx, x, y in marks:
        by_seg.setdefault(idx, set()).add((x, y))

    keep_mask = np.ones(len(segs), dtype=bool)
    new_rows = []
    for idx, pts in by_seg.items():
        keep_mask[idx] = False
        a = (int(segs.ax[idx]), int(segs.ay[idx]))
        b = (int(segs.bx[idx]), int(segs.by[idx]))
        subj = int(segs.subj[idx])
        clip = int(segs.clip[idx])
        ysign = 1 if b[1] >= a[1] else -1
        chain = sorted(pts - {a, b}, key=lambda p: (p[0], ysign * p[1]))
        prev = a
        for p in chain + [b]:
            if p == prev:
                continue
            if prev < p:
                new_rows.append((prev[0], prev[1], p[0], p[1], subj, clip))
            else:
                new_rows.append((p[0], p[1], prev[0], prev[1], -subj, _invert_bits(clip)))
            prev = p

    base = segs.take(np.flatnonzero(keep_mask))
    if not new_rows:
        return base
    arr = np.array(new_rows, dtype=np.int64)
    extra = Segments(arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3], arr[:, 4], arr[:, 5])
    return Segments.concat([base, extra])


def split_segments_string(segs: Segments, max_rounds: int = 64) -> Segments:
    """Snap-radius split fixpoint over the COMBINED body+wall segment set —
    identical schedule and mark finder (split.find_marks) to the boolean
    pipeline (iOverlay/src/split/solver.rs, snap_radius.rs), with the string
    merge/invert algebra."""
    segs = sort_and_merge_string(segs)
    exp = 0
    for _ in range(max_rounds):
        if len(segs) < 2:
            return segs
        seg_idx, mx, my, rnd, _ = find_marks(segs, 1 << exp, threads=1)
        if not len(seg_idx):
            return segs
        marks = zip(seg_idx.tolist(), mx.tolist(), my.tolist())
        segs = sort_and_merge_string(_apply_marks_string(segs, marks))
        exp = min(60, exp + 1)
        if not rnd.any():
            return segs
    return segs


def compute_string_fills(segs: Segments, fill_rule: FillRule) -> np.ndarray:
    """String SegmentFill: subj winding classification on the two sides plus the
    segment's own wall-direction bits shifted into the clip nibble
    (iOverlay/src/build/string.rs:90-150). Valid on a tiled batch of jobs
    disjoint in x, like the boolean fill; threads=1 since slice batches run
    inside Spark tasks."""
    zero = np.zeros(len(segs), dtype=np.int64)
    tmp = Segments(segs.ax, segs.ay, segs.bx, segs.by, segs.subj, zero)
    # zero clip weights leave the CLIP bits clear under every fill rule
    return compute_fills_windowed(tmp, fill_rule, threads=1) | (
        segs.clip.astype(np.uint8) << 2
    )


def _visit_fill(fill: int, is_a: bool, clockwise: bool) -> int:
    # links are a<b normalized, so the reference's `direct` flag is always True
    # (iOverlay/src/string/filter.rs:9-24)
    if is_a:
        mask = SUBJ_TOP if clockwise else SUBJ_BOTTOM
    else:
        mask = SUBJ_BOTTOM if clockwise else SUBJ_TOP
    return fill & ~mask


def _is_move_possible(fill: int, is_a: bool, clockwise: bool) -> bool:
    # (iOverlay/src/string/filter.rs:26-43)
    if fill == SUBJ_BOTH:
        return True
    if fill == 0:
        return False
    left = (fill & SUBJ_TOP) != 0  # direct is always True
    return is_a == (clockwise == left)


def _find_nearest(g: _LinkGraph, work, target: int, node: int, clockwise: bool) -> int:
    # (iOverlay/src/string/extract.rs:131-230)
    cands = [
        lid for lid in g.ent[g.first[node]:g.first[node + 1]]
        if lid != target and _is_move_possible(int(work[lid]), g.an[lid] == node, clockwise)
    ]
    if not cands:
        if _is_move_possible(int(work[target]), g.an[target] == node, clockwise):
            return target
        raise RuntimeError("string slice walk: no move found")
    if len(cands) == 1:
        return cands[0]
    return _nearest_link(g, target, node, cands, clockwise)


def _get_path(g: _LinkGraph, work, start: int, clockwise: bool) -> list[tuple[int, int]]:
    # (iOverlay/src/string/extract.rs:93-129)
    link_id = start
    node_id = g.bn[start]
    last = g.an[start]
    path = [(g.ax[start], g.ay[start])]
    work[start] = _visit_fill(int(work[start]), True, clockwise)
    while node_id != last:
        link_id = _find_nearest(g, work, link_id, node_id, clockwise)
        is_a = g.an[link_id] == node_id
        work[link_id] = _visit_fill(int(work[link_id]), is_a, clockwise)
        if is_a:
            path.append((g.ax[link_id], g.ay[link_id]))
            node_id = g.bn[link_id]
        else:
            path.append((g.bx[link_id], g.by[link_id]))
            node_id = g.an[link_id]
    return path


def _split_loops(path: list[tuple[int, int]], min_area: int) -> list[list[tuple[int, int]]]:
    """Split a self-touching tour at repeated vertices
    (iOverlay/src/string/split.rs:20-63). NOTE the reference's validate_area
    keeps a loop when min_area == 0 OR abs_area < min_area (split.rs:167-175,
    mirrored verbatim including that quirk); the trailing remainder is kept
    unconditionally when it has > 2 points."""
    if not path:
        return []
    # exact BinStore semantics: a point registers the index AFTER its first
    # occurrence, registrations are never updated or removed (truncated points
    # keep their stale position — deterministic reference behavior)
    buf: list[tuple[int, int]] = []
    pos_of: dict[tuple[int, int], int] = {}
    out: list[list[tuple[int, int]]] = []
    for point in path:
        next_pos = len(buf) + 1
        pos = pos_of.setdefault(point, next_pos)
        if pos != next_pos and pos < len(buf):
            tail_len = len(buf) - pos
            if tail_len < 2:
                del buf[pos:]
            else:
                tail = buf[pos:]
                del buf[pos:]
                tail.append(point)
                if min_area == 0 or (abs(ring_area2(tail)) >> 1) < min_area:
                    out.append(tail)
        else:
            buf.append(point)
    if len(buf) > 2:
        out.append(buf)
    return out


def slice_extract(
    segs: Segments, fills: np.ndarray, options: OverlayOptions
) -> list[list[np.ndarray]]:
    """StringRule::Slice extraction over the whole link set
    (iOverlay/src/string/extract.rs:42-91)."""
    n = len(segs)
    if n == 0:
        return []
    g = link_graph(segs.ax, segs.ay, segs.bx, segs.by)
    work = (fills & SUBJ_BOTH).astype(np.int64)
    clockwise_out = options.output_direction == ContourDirection.CLOCKWISE
    hulls: list[list[tuple[int, int]]] = []
    holes: list[list[tuple[int, int]]] = []
    i = 0
    while i < n:
        f = int(work[i])
        if f == 0:
            i += 1
            continue
        direction = (f & SUBJ_TOP) == SUBJ_TOP
        path = _get_path(g, work, i, direction)
        for lp in _split_loops(path, options.min_output_area):
            a2 = ring_area2(lp)
            if a2 == 0:
                continue
            order = a2 < 0  # clockwise-ordered = negative shoelace (y-up ints)
            is_hole = order == direction
            if is_hole:
                if clockwise_out == order:
                    lp = lp[::-1]
                holes.append(lp)
            else:
                if clockwise_out != order:
                    lp = lp[::-1]
                hulls.append(lp)
    shapes = bind_ring_lists(hulls, holes)
    return [[np.array(r, dtype=np.int64) for r in shape] for shape in shapes]


def slice_shape_shared(
    body: list[np.ndarray],
    paths: list[np.ndarray],
    fill_rule: FillRule = FillRule.NON_ZERO,
    options: OverlayOptions = OverlayOptions(),
) -> list[list[np.ndarray]]:
    """Slice a polygon by polylines on the shared body+wall pipeline
    (reference IntSlice::slice_by_paths, iOverlay/src/string/slice.rs:11-160)."""
    segs = build_string_segments(body, paths, options.preserve_input_collinear)
    segs = split_segments_string(segs)
    if len(segs) == 0:
        return []
    fills = compute_string_fills(segs, fill_rule)
    return slice_extract(segs, fills, options)
