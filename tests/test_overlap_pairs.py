"""Differential of the one bbox-overlap enumerator (kernel/overlap.py) against
the brute-force triangle: overlap_pairs must return exactly the closed-box
overlap pairs, each once, and overlap_edges must span the same components.

The inputs are seeded and mix the shapes that break enumerators: ties and
duplicate boxes, zero-extent boxes (points, verticals, horizontals),
closed-interval touching (x1_p == x0_q, y1_p == y0_q), nested long bars that
share every x-window, and coordinates up to +-2^62. The task size is shrunk so
that threads=4 splits these small inputs across the pool as large ones are.
"""

from __future__ import annotations

import numpy as np
import pytest

from ioverlay_spark.kernel import overlap as ov


def _brute(x0, x1, y0, y1):
    i, j = np.triu_indices(len(x0), k=1)
    m = (x0[j] <= x1[i]) & (x0[i] <= x1[j]) & (y0[j] <= y1[i]) & (y0[i] <= y1[j])
    return np.stack([i[m], j[m]], axis=1)


def _boxes(rng, kind: str, n: int):
    if kind == "ties":
        # few distinct coordinates: many equal x0/y0, duplicate boxes
        x0 = rng.integers(0, 6, n) * 10
        y0 = rng.integers(0, 6, n) * 10
        x1 = x0 + rng.integers(0, 3, n) * 10
        y1 = y0 + rng.integers(0, 3, n) * 10
        x0[n // 2 :], x1[n // 2 :], y0[n // 2 :], y1[n // 2 :] = (
            x0[: n - n // 2], x1[: n - n // 2], y0[: n - n // 2], y1[: n - n // 2]
        )
    elif kind == "degenerate":
        # points, verticals and horizontals on a small lattice
        x0 = rng.integers(0, 40, n)
        y0 = rng.integers(0, 40, n)
        shape = rng.integers(0, 3, n)
        x1 = x0 + np.where(shape == 1, 0, rng.integers(0, 9, n)) * (shape != 0)
        y1 = y0 + np.where(shape == 2, 0, rng.integers(0, 9, n)) * (shape != 0)
    elif kind == "touching":
        # a grid of unit cells: neighbours share exactly one edge or corner
        k = int(np.sqrt(n)) + 1
        gx, gy = np.meshgrid(np.arange(k), np.arange(k))
        x0, y0 = gx.ravel()[:n] * 4, gy.ravel()[:n] * 4
        x1, y1 = x0 + 4, y0 + 4
    elif kind == "nested":
        # nested_squares-like bars: long horizontals and verticals, every bar
        # in every other bar's x-window, few true overlaps
        s = np.arange(n // 4, dtype=np.int64) * 3
        c = 10 * n
        x0 = np.concatenate([c - s, c - s, c - s, c + s])
        x1 = np.concatenate([c + s, c + s, c - s, c + s])
        y0 = np.concatenate([c - s, c + s, c - s, c - s])
        y1 = np.concatenate([c - s, c + s, c + s, c + s])
    elif kind == "wide":
        # coordinates up to +-2^62, lengths spread over decades
        e = 1 << 62
        x0 = rng.integers(-e, e // 2, n)
        y0 = rng.integers(-e, e // 2, n)
        x1 = x0 + rng.integers(0, e // 2, n) // (1 << rng.integers(0, 40, n))
        y1 = y0 + rng.integers(0, e // 2, n) // (1 << rng.integers(0, 40, n))
    else:  # mixed lengths: short boxes plus long windows over many levels
        x0 = rng.integers(0, 1 << 16, n)
        y0 = rng.integers(0, 1 << 16, n)
        x1 = x0 + rng.integers(0, 1 << 16, n) // (1 << rng.integers(0, 12, n))
        y1 = y0 + rng.integers(0, 1 << 16, n) // (1 << rng.integers(0, 12, n))
    perm = rng.permutation(len(x0))  # input order need not be x order
    return tuple(np.asarray(a, dtype=np.int64)[perm] for a in (x0, x1, y0, y1))


def _components(n, u, v):
    from ioverlay_spark.kernel.cluster import _cc_label_arrays

    labels = np.arange(n, dtype=np.int64)
    if len(u):
        nodes, parent = _cc_label_arrays(u, v)
        labels[nodes] = nodes[parent]
    return labels


KINDS = ["ties", "degenerate", "touching", "nested", "wide", "mixed"]


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("threads", [1, 4])
def test_overlap_pairs_match_brute_force(kind, threads, monkeypatch):
    monkeypatch.setattr(ov, "_CHUNK", 64)
    rng = np.random.default_rng(KINDS.index(kind))
    for n in (0, 1, 2, 37, 600, 1500):
        x0, x1, y0, y1 = _boxes(rng, kind, n)
        want = _brute(x0, x1, y0, y1)
        got = ov.overlap_pairs(x0, x1, y0, y1, threads=threads)
        assert got.shape[1] == 2 and np.all(got[:, 0] < got[:, 1])
        assert len(np.unique(got, axis=0)) == len(got)  # no pair twice
        assert set(map(tuple, got.tolist())) == set(map(tuple, want.tolist()))
        u, v = ov.overlap_edges(x0, x1, y0, y1, threads=threads)
        assert np.array_equal(
            _components(len(x0), u, v), _components(len(x0), want[:, 0], want[:, 1])
        )
