"""Segment ingest + coincident-merge — the engine's central IR is a struct-of-arrays
"segments" table: (ax, ay, bx, by, subj, clip) with a < b lexicographically (x then y)
and winding counts +-1 per directed edge.

Semantics match the reference ingest (iOverlay/src/segm/build.rs:35-127: collinear-point
filter while building; iOverlay/src/segm/build.rs:130-146: a<b normalization with
direct/invert winding) and coincident merge (iOverlay/src/segm/merge.rs:26-87: equal
(a,b) segments collapse, winding counts sum, zero-count segments dropped).

Everything here is vectorized numpy over int64 — this same code runs inside Arrow-batched
pandas UDFs in the Spark layer.
"""

from __future__ import annotations

import numpy as np

# Struct-of-arrays segment table dtype
SEG_FIELDS = ("ax", "ay", "bx", "by", "subj", "clip")


class Segments:
    """Columnar segment batch (int64 arrays of equal length)."""

    __slots__ = ("ax", "ay", "bx", "by", "subj", "clip")

    def __init__(self, ax, ay, bx, by, subj, clip):
        self.ax = np.asarray(ax, dtype=np.int64)
        self.ay = np.asarray(ay, dtype=np.int64)
        self.bx = np.asarray(bx, dtype=np.int64)
        self.by = np.asarray(by, dtype=np.int64)
        self.subj = np.asarray(subj, dtype=np.int64)
        self.clip = np.asarray(clip, dtype=np.int64)

    def __len__(self) -> int:
        return len(self.ax)

    @classmethod
    def empty(cls) -> "Segments":
        z = np.zeros(0, dtype=np.int64)
        return cls(z, z, z, z, z, z)

    @classmethod
    def concat(cls, parts: list["Segments"]) -> "Segments":
        parts = [p for p in parts if len(p)]
        if not parts:
            return cls.empty()
        return cls(*(np.concatenate([getattr(p, f) for p in parts]) for f in SEG_FIELDS))

    def take(self, idx) -> "Segments":
        return Segments(*(getattr(self, f)[idx] for f in SEG_FIELDS))


def _drop_collinear(pts: np.ndarray) -> np.ndarray:
    """Iteratively remove consecutive-duplicate and collinear vertices of a closed ring.

    Mirrors the DropCollinear ingest filter (iOverlay/src/segm/build.rs:122-127):
    vertex p1 is dropped when cross(p1-p0, p1-p2) == 0 (straight-through AND spikes).
    """
    pts = np.asarray(pts, dtype=np.int64).reshape(-1, 2)
    if len(pts) < 3:
        return pts[:0]
    # crosses on offsets from the ring's own min corner (uint64 differences:
    # exact at any position); int64 products of their differences are exact
    # while the ring's extent stays below 2^31, python ints (object) past it
    x, y = (c.view(np.uint64) - c.min().view(np.uint64) for c in (pts[:, 0], pts[:, 1]))
    wide = int(max(x.max(), y.max())) >= 1 << 31
    x, y = (c.astype(object) if wide else c.view(np.int64) for c in (x, y))
    kept = np.arange(len(pts))
    while True:
        if len(kept) < 3:
            return pts[:0]
        # cross(p1 - p0, p1 - p2) at every vertex p1
        dx0, dy0 = x - np.roll(x, 1), y - np.roll(y, 1)
        dx2, dy2 = x - np.roll(x, -1), y - np.roll(y, -1)
        keep = dx0 * dy2 - dy0 * dx2 != 0
        if keep.all():
            return pts if len(kept) == len(pts) else pts[kept]
        kept, x, y = kept[keep], x[keep], y[keep]


def _dedup_consecutive(pts: np.ndarray) -> np.ndarray:
    pts = np.asarray(pts, dtype=np.int64).reshape(-1, 2)
    if len(pts) == 0:
        return pts
    same_as_prev = np.all(pts == np.roll(pts, 1, axis=0), axis=1)
    return pts[~same_as_prev]


def build_segments(
    contours: list[np.ndarray],
    is_subject: bool,
    preserve_collinear: bool = False,
) -> Segments:
    """Rings -> normalized directed segments with winding counts.

    For each edge p0->p1: if p0 < p1 lexicographically the count is +1 ("direct"),
    else endpoints swap and the count is -1 ("invert") — reference
    iOverlay/src/segm/build.rs:130-146 and winding constants
    iOverlay/src/segm/boolean.rs:10-15.
    """
    axs, ays, bxs, bys, cnts = [], [], [], [], []
    for ring in contours:
        pts = _dedup_consecutive(ring)
        if not preserve_collinear:
            pts = _drop_collinear(pts)
        n = len(pts)
        if n < 2:
            continue
        p0 = pts
        p1 = np.roll(pts, -1, axis=0)
        keep = np.any(p0 != p1, axis=1)
        p0, p1 = p0[keep], p1[keep]
        # lexicographic a<b: (x, y)
        fwd = (p0[:, 0] < p1[:, 0]) | ((p0[:, 0] == p1[:, 0]) & (p0[:, 1] < p1[:, 1]))
        a = np.where(fwd[:, None], p0, p1)
        b = np.where(fwd[:, None], p1, p0)
        cnt = np.where(fwd, 1, -1).astype(np.int64)
        axs.append(a[:, 0])
        ays.append(a[:, 1])
        bxs.append(b[:, 0])
        bys.append(b[:, 1])
        cnts.append(cnt)
    if not axs:
        return Segments.empty()
    ax = np.concatenate(axs)
    ay = np.concatenate(ays)
    bx = np.concatenate(bxs)
    by = np.concatenate(bys)
    cnt = np.concatenate(cnts)
    zero = np.zeros_like(cnt)
    if is_subject:
        return Segments(ax, ay, bx, by, cnt, zero)
    return Segments(ax, ay, bx, by, zero, cnt)


def sort_and_merge(segs: Segments) -> Segments:
    """Sort by (a, b) and collapse coincident segments, summing winding counts;
    segments whose summed counts are both zero are dropped
    (reference iOverlay/src/segm/merge.rs:26-87).

    Spark analog: groupBy(ax,ay,bx,by).agg(sum(subj), sum(clip)).filter(subj!=0 | clip!=0).
    """
    n = len(segs)
    if n == 0:
        return segs
    # pack (ax,ay) and (bx,by) into one uint64 each when the offset extents fit
    # 32 bits: the 4-key lexsort becomes a 2-key one (half the radix passes) and
    # the coincidence test two integer compares instead of a (n,4) row compare
    x_lo = min(int(segs.ax.min()), int(segs.bx.min()))
    y_lo = min(int(segs.ay.min()), int(segs.by.min()))
    x_hi = max(int(segs.ax.max()), int(segs.bx.max()))
    y_hi = max(int(segs.ay.max()), int(segs.by.max()))
    if max(x_hi - x_lo, y_hi - y_lo) < (1 << 32):
        ka = ((segs.ax - x_lo).astype(np.uint64) << np.uint64(32)) | (
            segs.ay - y_lo
        ).astype(np.uint64)
        kb = ((segs.bx - x_lo).astype(np.uint64) << np.uint64(32)) | (
            segs.by - y_lo
        ).astype(np.uint64)
        order = np.lexsort((kb, ka))
        s = segs.take(order)
        ka = ka[order]
        kb = kb[order]
        new_group = np.empty(n, dtype=bool)
        new_group[0] = True
        new_group[1:] = (ka[1:] != ka[:-1]) | (kb[1:] != kb[:-1])
        gid = np.cumsum(new_group) - 1
        ngroups = gid[-1] + 1
        subj = np.bincount(gid, weights=s.subj, minlength=ngroups).astype(np.int64)
        clip = np.bincount(gid, weights=s.clip, minlength=ngroups).astype(np.int64)
        first = np.flatnonzero(new_group)
        keep = (subj != 0) | (clip != 0)
        idx = first[keep]
        return Segments(
            s.ax[idx], s.ay[idx], s.bx[idx], s.by[idx], subj[keep], clip[keep]
        )
    order = np.lexsort((segs.by, segs.bx, segs.ay, segs.ax))
    s = segs.take(order)
    key = np.stack([s.ax, s.ay, s.bx, s.by], axis=1)
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = np.any(key[1:] != key[:-1], axis=1)
    gid = np.cumsum(new_group) - 1
    ngroups = gid[-1] + 1
    subj = np.bincount(gid, weights=s.subj, minlength=ngroups).astype(np.int64)
    clip = np.bincount(gid, weights=s.clip, minlength=ngroups).astype(np.int64)
    first = np.flatnonzero(new_group)
    keep = (subj != 0) | (clip != 0)
    idx = first[keep]
    return Segments(s.ax[idx], s.ay[idx], s.bx[idx], s.by[idx], subj[keep], clip[keep])
