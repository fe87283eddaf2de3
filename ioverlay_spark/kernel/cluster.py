"""Spatial cluster decomposition of one overlay job into independent sub-jobs.

A boolean overlay is separable across connected components of the CLOSED
bbox-overlap graph over input contours:

- Fill (winding classification) at a point p counts signed crossings of the
  downward ray from p. A closed contour whose bbox does not contain p either
  never crosses the vertical line through p, lies fully below p (net winding 0
  — entered and exited), or lies fully above p (no crossings below p). So every
  contour contributing nonzero winding at p has p inside its bbox — and is
  therefore bbox-connected to p's own contour.
- Hole binding: the filled annulus between a hole and its parent hull is
  connected, and at every interior point some contour contributes nonzero
  winding (its bbox covers the point), so hull and hole chain through
  pairwise-overlapping bboxes into one component.
- Integer coordinates + closed-interval overlap: contours in different
  components are >= 1 unit apart somewhere on every axis pairing, so the split
  stage can never produce a crossing, snap mark, or coincident segment between
  components.

Hence running the kernel per component (as jobs of the batched tile kernel —
the flagship's vectorized engine) is exactly equivalent to the monolithic run.
The components come from the one bbox-overlap enumerator's spanning edges
(overlap.overlap_edges: O(n log n) of them whatever the number of overlapping
pairs) and a vectorized union-find, so any input labels in O(n log^2 n).
This is the one-shot analogue of the reference's fragmentation insight
(iOverlay/src/split/solver_fragment.rs grid independence), lifted from the
split stage to the whole pipeline: a job whose geometry is a million disjoint
islands should cost what a million tiny jobs cost, not what one million-segment
fixpoint costs. The reference perf scenarios not_overlap / windows / wind_mill /
nested_squares (performance/rust_app/src/test/) are all of this shape, as is
any planet-scale map layer at 100 TB.
"""
from __future__ import annotations

import numpy as np

from .gcpause import gc_paused_fn
from .overlap import overlap_edges


def _cc_label_arrays(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized min-label connected components with pointer jumping (numpy,
    O(E) per round, O(log diameter) rounds) — the python-dict DSU this replaces
    was the extract stage's single-threaded bottleneck at ~1M edges (lines_net
    audit, BENCH.md). Labels are indices into the SORTED unique node array, so
    the converged minimum label is exactly the minimum node id.

    Returns (nodes, parent): unique sorted node ids and, per node, the index of
    its component's minimum node."""
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u):]
    parent = np.arange(len(nodes), dtype=np.int64)
    while True:
        m = np.minimum(parent[ui], parent[vi])
        new = parent.copy()
        np.minimum.at(new, ui, m)
        np.minimum.at(new, vi, m)
        while True:
            nn = new[new]
            if np.array_equal(nn, new):
                break
            new = nn
        if np.array_equal(new, parent):
            break
        parent = new
    return nodes, parent


@gc_paused_fn
def cluster_labels(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
) -> np.ndarray | None:
    """Connected components of the exact closed-interval bbox-overlap graph.

    Returns dense labels (0..k-1, numbered by first appearance in input order)
    or None when the boxes form a single component (nothing to decompose)."""
    n = len(minx)
    if n < 2:
        return None
    ui, vi = overlap_edges(minx, maxx, miny, maxy)
    labels = np.arange(n, dtype=np.int64)
    if not len(ui):
        # no exact overlaps at all: every ring is its own cluster and arange is
        # already the dense first-appearance labeling — skip the O(n log n)
        # relabel (measured 2.4 s of a 9 s call at 2.1M disjoint rings)
        return labels
    nodes, parent = _cc_label_arrays(ui, vi)
    labels[nodes] = nodes[parent]
    # dense relabel by first appearance (deterministic, input-order-stable)
    uniq, inv = np.unique(labels, return_inverse=True)
    k = len(uniq)
    if k < 2:
        return None
    # first appearance per label: reversed fancy store keeps the EARLIEST index
    # as the last write (vectorized; ~10x np.minimum.at on 2M elements)
    order_of_first = np.empty(k, dtype=np.int64)
    order_of_first[inv[::-1]] = np.arange(n - 1, -1, -1, dtype=np.int64)
    rank = np.empty(k, dtype=np.int64)
    rank[np.argsort(order_of_first, kind="stable")] = np.arange(k, dtype=np.int64)
    return rank[inv]
