"""Batched clip/slice kernels vs the scalar string kernels: bit-identity +
microbench speedup (VERDICT round-1 item 4)."""

import time

import numpy as np

from ioverlay_spark.kernel.string_ops import (
    clip_path,
    clip_paths_batch,
    slice_batch,
    slice_shape,
)
from ioverlay_spark.options import FillRule


def _rand_jobs(n, rng, closed_body=True):
    jobs = []
    for k in range(n):
        x0, y0 = int(rng.integers(0, 3000)), int(rng.integers(0, 3000))
        w, h = int(rng.integers(50, 400)), int(rng.integers(50, 400))
        body = [
            np.array(
                [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]], np.int64
            )
        ]
        if k % 3 == 0:  # L-shaped body: non-convex case
            body = [
                np.array(
                    [
                        [x0, y0],
                        [x0 + w, y0],
                        [x0 + w, y0 + h // 2],
                        [x0 + w // 2, y0 + h // 2],
                        [x0 + w // 2, y0 + h],
                        [x0, y0 + h],
                    ],
                    np.int64,
                )
            ]
        # zig-zag path crossing the body
        pts = []
        for i in range(4):
            pts.append(
                [x0 - 50 + i * (w + 100) // 3, y0 + (i % 2) * h + (-20 if i % 2 else 20)]
            )
        jobs.append((body, np.array(pts, np.int64)))
    return jobs


def _paths_key(paths):
    return [p.tolist() for p in paths]


def test_clip_batch_bit_identical_and_fast():
    rng = np.random.default_rng(3)
    jobs = _rand_jobs(300, rng)
    for fr in (FillRule.NON_ZERO, FillRule.EVEN_ODD):
        for boundary_included in (True, False):
            t0 = time.perf_counter()
            scalar = [
                clip_path(b, p, fr, boundary_included=boundary_included)
                for b, p in jobs
            ]
            t1 = time.perf_counter()
            batched = clip_paths_batch(jobs, fr, boundary_included=boundary_included)
            t2 = time.perf_counter()
            for i, (s, b) in enumerate(zip(scalar, batched)):
                assert _paths_key(s) == _paths_key(b), f"job {i} diverged"
            if fr == FillRule.NON_ZERO and boundary_included:
                speedup = (t1 - t0) / max(t2 - t1, 1e-9)
                assert speedup >= 4.0, f"clip batch speedup only {speedup:.1f}x"


def test_clip_batch_invert_and_degenerate():
    rng = np.random.default_rng(5)
    jobs = _rand_jobs(40, rng)
    jobs.append(([], np.array([[0, 0], [100, 0]], np.int64)))  # empty body
    jobs.append(([np.array([[0, 0], [10, 0]], np.int64)], np.array([[0, 5], [20, 5]], np.int64)))
    scalar = [clip_path(b, p, invert=True) for b, p in jobs]
    batched = clip_paths_batch(jobs, invert=True)
    for i, (s, b) in enumerate(zip(scalar, batched)):
        assert _paths_key(s) == _paths_key(b), f"job {i} diverged"


def _shape_key(shapes):
    return sorted(
        sorted(tuple(map(tuple, r.tolist())) for r in shape) for shape in shapes
    )


def test_slice_batch_bit_identical():
    rng = np.random.default_rng(9)
    jobs = []
    for k in range(120):
        x0, y0 = int(rng.integers(0, 2000)), int(rng.integers(0, 2000))
        w, h = int(rng.integers(100, 300)), int(rng.integers(100, 300))
        body = [
            np.array(
                [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]], np.int64
            )
        ]
        xs = x0 + w // 3
        cuts = [np.array([[xs, y0 - 16], [xs, y0 + h + 16]], np.int64)]
        if k % 2:
            ys = y0 + h // 3
            cuts.append(np.array([[x0 - 16, ys], [x0 + w + 16, ys]], np.int64))
        jobs.append((body, cuts))
    # the same jobs moved by 2^40: the batch places them like the overlay batch
    d = 1 << 40
    far = [([r + d for r in b], [p + d for p in ps]) for b, ps in jobs]
    for case in (jobs, far):
        scalar = [slice_shape(b, ps) for b, ps in case]
        batched = slice_batch(case)
        for i, (s, b) in enumerate(zip(scalar, batched)):
            assert _shape_key(s) == _shape_key(b), f"job {i} diverged"
