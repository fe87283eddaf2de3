"""Single-pair overlay orchestration: the numpy kernel the Spark operators wrap.

Pipeline per reference lifecycle (SURVEY.md §3.1 / iOverlay/src/core/overlay.rs:354-372):
ingest -> sort+merge -> snap-rounded split fixpoint -> winding fill -> per-rule
boundary filter + face extraction + hole binding.

`OverlayGraph` mirrors `build_graph_view` (iOverlay/src/core/overlay.rs:303-313):
split + fill computed once, N cheap extracts reuse them.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..options import DEFAULT_OPTIONS, FillRule, OverlayOptions, OverlayRule
from .extract import extract_shapes
from .fill import compute_fills_windowed
from .segments import Segments
from .split import split_segments

Shapes = list[list[np.ndarray]]  # shapes -> rings (hull first) -> (n,2) int64


@dataclass
class OverlayGraph:
    segments: Segments
    fills: np.ndarray
    options: OverlayOptions

    def extract(self, rule: OverlayRule) -> Shapes:
        return extract_shapes(self.segments, self.fills, rule, self.options)


from .gcpause import gc_paused_fn


@gc_paused_fn
def build_graph(
    subj: list[np.ndarray],
    clip: list[np.ndarray],
    fill_rule: FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
    threads: int | None = None,
) -> OverlayGraph:
    """Split and fill one job's rings into an OverlayGraph. `threads` goes to
    the split's pair enumeration and to the fill; None sizes their pools from
    the host, 1 (callers inside a Spark task) starts none."""
    rings = [np.asarray(r, dtype=np.int64).reshape(-1, 2) for r in subj] + [
        np.asarray(r, dtype=np.int64).reshape(-1, 2) for r in clip
    ]
    from .batch import _EMPTY, vectorized_ring_segments

    # batched ingest: one numpy pass over all rings; dirty rings take the
    # reference-exact scalar cleanup inside
    t = vectorized_ring_segments(
        rings,
        np.zeros(len(rings), dtype=np.int64),
        [True] * len(subj) + [False] * len(clip),
        options,
    )
    if t == _EMPTY:
        segs = Segments.empty()
    else:
        ax, ay, bx, by, s, c, _ = t
        segs = Segments(ax, ay, bx, by, s, c)
    segs = split_segments(segs, threads=threads)  # sorts + merges first (A1/A2), then splits
    fills = compute_fills_windowed(segs, fill_rule, threads=threads)
    return OverlayGraph(segs, fills, options)


# one-shot jobs with at least this many rings try spatial cluster
# decomposition (kernel/cluster.py) before the monolithic pipeline.
CLUSTER_MIN_RINGS = 256


@gc_paused_fn
def overlay(
    subj: list[np.ndarray],
    clip: list[np.ndarray],
    rule: OverlayRule,
    fill_rule: FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
) -> Shapes:
    """One-shot boolean overlay of two multipolygons (integer coordinates).

    Large separable jobs (many contours whose bbox-overlap graph splits into
    independent components — disjoint islands) are decomposed and routed
    through the batched tile kernel, which is exactly equivalent (see
    kernel/cluster.py for the proof sketch) and orders of magnitude faster
    than one monolithic fixpoint over the union of all islands.

    Output SHAPE ORDER is not stable across code paths: the clustered route
    groups shapes by cluster first-appearance while the monolithic route emits
    extraction order. The set of shapes is identical either way; this matches
    the reference contract (its own fixture comparator is order-canonical,
    iOverlay/tests/util.rs) — consumers must not index output positionally."""
    if len(subj) + len(clip) >= CLUSTER_MIN_RINGS:
        from .batch import _flat_to_job_shapes, _flatten_jobs, overlay_batch_flat_out
        from .cluster import cluster_labels

        # flat end-to-end: one concatenate + per-ring bboxes, labels as the
        # ring->job map, the batch kernel's flat ingest/emit — no per-ring
        # python job lists anywhere (they were ~30% of large one-shots and made
        # every GC pass O(rings))
        P, counts, _, ring_subj = _flatten_jobs([(subj, clip)])
        nr = len(counts)
        starts = np.zeros(nr, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        ok = counts > 0
        red = starts[ok]
        minx = np.minimum.reduceat(P[:, 0], red) if ok.any() else np.empty(0, np.int64)
        if ok.all() and nr >= 2:
            maxx = np.maximum.reduceat(P[:, 0], red)
            miny = np.minimum.reduceat(P[:, 1], red)
            maxy = np.maximum.reduceat(P[:, 1], red)
            labels = cluster_labels(minx, miny, maxx, maxy)
            if labels is not None:
                nj = int(labels.max()) + 1
                flat = overlay_batch_flat_out(
                    P, counts, labels, ring_subj, nj, [rule], fill_rule, options
                )[rule]
                return [s for job in _flat_to_job_shapes(flat, nj) for s in job]
    return build_graph(subj, clip, fill_rule, options).extract(rule)


def simplify(
    shapes: list[np.ndarray],
    fill_rule: FillRule = FillRule.NON_ZERO,
    options: OverlayOptions = DEFAULT_OPTIONS,
) -> Shapes:
    """Self-union: resolve self-intersections of one multipolygon
    (reference Simplify, iOverlay/src/core/simplify.rs:23-426)."""
    return overlay(shapes, [], OverlayRule.SUBJECT, fill_rule, options)
