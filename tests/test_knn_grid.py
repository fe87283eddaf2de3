"""Exact differential of the broadcast-grid kNN against numpy brute force.

Every case compares the full (p_id, r_id, d2, rnk) row set: each point's k
nearest centers by squared distance in doubled coordinates, ties broken by
r_id, fewer rows when there are fewer centers than k. The cases cover
duplicate and equidistant centers, clustered centers (ring expansion past the
first block), points outside the centers' box and outside the 2^20 grid, k
above the center count, empty point partitions, and explicit and automatic
grid levels."""

import numpy as np
import pytest

from ioverlay_spark.operators import spatial
from ioverlay_spark.operators.spatial import knn_batch, knn_broadcast_grid, knn_grid


def brute(p_id, px, py, r_id, cx2, cy2, k):
    rows = []
    for i in range(len(p_id)):
        d2 = (2 * px[i] - cx2) ** 2 + (2 * py[i] - cy2) ** 2
        o = np.lexsort((r_id, d2))[:k]
        rows += [(int(p_id[i]), int(r_id[j]), int(d2[j]), n + 1) for n, j in enumerate(o)]
    return sorted(rows)


def _ids(rng, n):
    return int(rng.integers(0, 1 << 40)) + rng.permutation(n).astype(np.int64) * 7


def case_uniform(rng):
    n, m = 3000, 700
    ctr_x, ctr_y = rng.integers(0, 1 << 21, m), rng.integers(0, 1 << 21, m)
    return rng.integers(0, 1 << 20, n), rng.integers(0, 1 << 20, n), ctr_x, ctr_y, 3


def case_ties(rng):
    """Centers on a lattice, each site held by one to three r_ids, points on
    the lattice's cell middles: four equidistant sites per point, and ties at
    the k-th distance."""
    step = 1 << 12
    gx, gy = np.meshgrid(np.arange(40), np.arange(40))
    sites = np.stack([gx.ravel(), gy.ravel()], 1) * step + (1 << 18)
    sites = np.repeat(sites, rng.integers(1, 4, len(sites)), axis=0)
    n = 1500
    qx, qy = rng.integers(0, 39, n), rng.integers(0, 39, n)
    px = (qx * step + step // 2 + (1 << 18)) // 2
    py = (qy * step + step // 2 + (1 << 18)) // 2
    return px, py, sites[:, 0], sites[:, 1], 5


def case_clustered(rng):
    """Three tight clusters far apart: most grid cells are empty, so points
    between the clusters expand their block several times."""
    cx = np.concatenate([c + rng.integers(0, 1 << 11, 150) for c in (1 << 14, 1 << 20, 3 << 19)])
    cy = np.concatenate([c + rng.integers(0, 1 << 11, 150) for c in (1 << 20, 1 << 15, 3 << 19)])
    n = 2000
    return rng.integers(0, 1 << 20, n), rng.integers(0, 1 << 20, n), cx, cy, 4


def case_outside(rng):
    """Centers in a small box; points around it, below 0 and past 2^20."""
    m = 300
    cx, cy = (1 << 19) + rng.integers(0, 1 << 16, m), (1 << 19) + rng.integers(0, 1 << 16, m)
    n = 1200
    px = rng.integers(-(1 << 21), 3 << 20, n)
    py = rng.integers(-(1 << 21), 3 << 20, n)
    return px, py, cx, cy, 3


def case_few_centers(rng):
    """k above the center count: every point gets each center once."""
    n = 200
    return (
        rng.integers(0, 1 << 20, n),
        rng.integers(0, 1 << 20, n),
        rng.integers(0, 1 << 21, 2),
        rng.integers(0, 1 << 21, 2),
        5,
    )


def case_sparse_points(rng):
    """Five points over the context's partitions: most partitions are empty."""
    m = 400
    return (
        rng.integers(0, 1 << 20, 5),
        rng.integers(0, 1 << 20, 5),
        rng.integers(0, 1 << 21, m),
        rng.integers(0, 1 << 21, m),
        3,
    )


CASES = {
    f.__name__[5:]: f
    for f in (
        case_uniform,
        case_ties,
        case_clustered,
        case_outside,
        case_few_centers,
        case_sparse_points,
    )
}


def _inputs(name, seed):
    rng = np.random.default_rng(seed)
    px, py, cx2, cy2, k = CASES[name](rng)
    return _ids(rng, len(px)), np.asarray(px), np.asarray(py), _ids(rng, len(cx2)), cx2, cy2, k


@pytest.mark.parametrize(
    "name,level",
    [
        ("uniform", None),
        ("uniform", 6),
        ("ties", None),
        ("ties", 9),
        ("clustered", None),
        ("clustered", 11),
        ("outside", None),
        ("few_centers", None),
        ("sparse_points", 5),
    ],
)
def test_knn_broadcast_grid_matches_brute_force(spark, name, level):
    import pyarrow as pa

    p_id, px, py, r_id, cx2, cy2, k = _inputs(name, 20261019)
    pts = spark.createDataFrame(pa.table({"p_id": p_id, "px": px, "py": py}))
    ctr = spark.createDataFrame(pa.table({"r_id": r_id, "cx2": cx2, "cy2": cy2}))
    if name == "sparse_points":
        pts = pts.repartition(16)  # five rows: the map meets empty partitions
        assert pts.rdd.glom().map(len).collect().count(0) > 0
    got = sorted(tuple(r) for r in knn_broadcast_grid(pts, ctr, k=k, level=level).collect())
    assert got == brute(p_id, px, py, r_id, cx2, cy2, k)


@pytest.mark.parametrize("name", sorted(CASES))
def test_knn_batch_chunked_matches_brute_force(monkeypatch, name):
    """The in-process kernel over several seeds, with the candidate chunk cut
    small so that each round runs in many chunks."""
    monkeypatch.setattr(spatial, "_KNN_CHUNK", 97)
    for seed in range(3):
        p_id, px, py, r_id, cx2, cy2, k = _inputs(name, seed)
        cols = knn_batch(knn_grid(r_id, cx2, cy2), p_id, px, py, k)
        got = sorted(zip(*(c.tolist() for c in cols)))
        assert got == brute(p_id, px, py, r_id, cx2, cy2, k), seed


def test_knn_without_centers_or_points_is_empty():
    g = knn_grid([], [], [])
    assert all(len(c) == 0 for c in knn_batch(g, [1, 2], [5, 6], [7, 8], 3))
    g = knn_grid([1], [10], [10])
    assert all(len(c) == 0 for c in knn_batch(g, [], [], [], 3))
