"""Spatial predicates (no geometry output) over the fills of a split segment set.

Vectorized re-derivation of the reference's early-exit sweep handlers
(iOverlay/src/core/predicate.rs:100-330, relate API iOverlay/src/float/relate.rs:48-420):
instead of breaking out of a sequential sweep, each predicate is a cheap boolean
reduction over the per-segment fill bits — the distributed-friendly form
(SURVEY.md §2.3: one boolean per segment, aggregated).
"""

from __future__ import annotations

import numpy as np

from ..options import FillRule
from .fill import (
    BOTH_BOTTOM,
    BOTH_TOP,
    CLIP_BOTH,
    CLIP_BOTTOM,
    CLIP_TOP,
    SUBJ_BOTH,
    SUBJ_BOTTOM,
    SUBJ_TOP,
    compute_fills_windowed,
)
from .segments import Segments, build_segments, sort_and_merge
from .split import split_segments


def _point_coincidence(segs: Segments, fills: np.ndarray) -> bool:
    """Subject-only and clip-only boundary endpoints share a point
    (reference PointCoincidenceChecker, iOverlay/src/core/predicate.rs:14-98)."""
    subj_interior = (fills & SUBJ_BOTH) == SUBJ_BOTH
    clip_interior = (fills & CLIP_BOTH) == CLIP_BOTH
    skip = subj_interior | clip_interior | (fills == 0)
    is_subj = (fills & SUBJ_BOTH) != 0
    is_clip = (fills & CLIP_BOTH) != 0
    shared = is_subj & is_clip
    use = ~skip & ~shared
    su = use & is_subj
    cu = use & is_clip
    if not su.any() or not cu.any():
        return False
    sp = set()
    for i in np.flatnonzero(su):
        sp.add((int(segs.ax[i]), int(segs.ay[i])))
        sp.add((int(segs.bx[i]), int(segs.by[i])))
    for i in np.flatnonzero(cu):
        if (int(segs.ax[i]), int(segs.ay[i])) in sp or (int(segs.bx[i]), int(segs.by[i])) in sp:
            return True
    return False


class Relation:
    """All pairwise predicates computed from one split+fill pass."""

    __slots__ = ("intersects", "interiors_intersect", "touches", "point_intersects", "within")

    def __init__(self, segs: Segments, fills: np.ndarray):
        has_both = ((fills & SUBJ_BOTH) != 0) & ((fills & CLIP_BOTH) != 0)
        interiors = ((fills & BOTH_TOP) == BOTH_TOP) | ((fills & BOTH_BOTTOM) == BOTH_BOTTOM)
        s_top = (fills & SUBJ_TOP) != 0
        s_bot = (fills & SUBJ_BOTTOM) != 0
        c_top = (fills & CLIP_TOP) != 0
        c_bot = (fills & CLIP_BOTTOM) != 0

        any_interior = bool(interiors.any())
        any_both = bool(has_both.any())
        coincide = _point_coincidence(segs, fills)
        subj_present = bool((s_top | s_bot).any())
        violation = bool(((s_top & ~c_top) | (s_bot & ~c_bot)).any())

        self.intersects = any_both or any_interior or coincide
        self.interiors_intersect = any_interior
        self.touches = (not any_interior) and (any_both or coincide)
        self.point_intersects = (not any_interior) and (not any_both) and coincide
        self.within = subj_present and not violation

    @property
    def disjoint(self) -> bool:
        return not self.intersects

    def as_dict(self) -> dict[str, bool]:
        return {
            "intersects": self.intersects,
            "disjoint": self.disjoint,
            "interiors_intersect": self.interiors_intersect,
            "touches": self.touches,
            "point_intersects": self.point_intersects,
            "within": self.within,
        }


def relate(
    subj: list[np.ndarray],
    clip: list[np.ndarray],
    fill_rule: FillRule = FillRule.EVEN_ODD,
) -> Relation:
    """Compute all predicates for one subject/clip multipolygon pair."""
    segs = sort_and_merge(
        Segments.concat([build_segments(subj, True), build_segments(clip, False)])
    )
    # runs per pair inside relate_df tasks: no thread pools
    segs = split_segments(segs, threads=1)
    fills = compute_fills_windowed(segs, fill_rule, threads=1)
    return Relation(segs, fills)


def covers(
    outer: list[np.ndarray],
    inner: list[np.ndarray],
    fill_rule: FillRule = FillRule.EVEN_ODD,
) -> bool:
    """covers(a, b) == within(b, a) (reference iOverlay/src/float/relate.rs:242-420)."""
    return relate(inner, outer, fill_rule).within
