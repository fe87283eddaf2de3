"""Differential tests: overlay_batch_flat_out (FLAT job/shape/contour/lens/pts/
area2 arrays) vs the per-job scalar kernel (build_graph + extract_shapes(...,
with_areas=True)) — ring sets, ordering, and areas must be BIT-IDENTICAL (the
batch is an execution strategy, not an approximation), across random stars,
holes, degenerates, multi-hull slots with holes (bind_holes' ray shot),
unsorted ring_job layouts, long rings, jobs far from the origin and jobs as
wide as int64 (batches that run as several chunks). The batch also takes the
same path wherever its jobs sit: moved jobs give the moved output with the
same scalar-fallback call counts.
Also covers overlay()'s >=256-ring clustered flat route vs the monolithic
graph, order-canonically (output shape order is not contract, kernel/overlay.py
docstring)."""

import math
import random

import numpy as np
import pytest

from ioverlay_spark.kernel.batch import overlay_batch_flat_out
from ioverlay_spark.kernel.extract import extract_shapes
from ioverlay_spark.kernel.overlay import CLUSTER_MIN_RINGS, build_graph, overlay
from ioverlay_spark.options import ALL_RULES, DEFAULT_OPTIONS, FillRule, OverlayRule

RULES = list(ALL_RULES)


def rect(x, y, w, h):
    return np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]], dtype=np.int64)


def star(cx, cy, r1, r2, n, rot=0.0):
    pts = []
    for k in range(2 * n):
        r = r1 if k % 2 == 0 else r2
        a = rot + math.pi * k / n
        pts.append([int(cx + r * math.cos(a)), int(cy + r * math.sin(a))])
    return np.array(pts, dtype=np.int64)


def flatten_jobs(jobs, shuffle_seed=None):
    """(subj, clip) jobs -> (P, counts, ring_job, ring_subj, nj); optionally
    shuffle ring order so ring_job is NOT sorted (the docstring contract)."""
    rings, job_ids, subj_flags = [], [], []
    for j, (subj, clip) in enumerate(jobs):
        for r in subj:
            rings.append(np.asarray(r, dtype=np.int64).reshape(-1, 2))
            job_ids.append(j)
            subj_flags.append(True)
        for r in clip:
            rings.append(np.asarray(r, dtype=np.int64).reshape(-1, 2))
            job_ids.append(j)
            subj_flags.append(False)
    order = list(range(len(rings)))
    if shuffle_seed is not None:
        random.Random(shuffle_seed).shuffle(order)
    rings = [rings[i] for i in order]
    job_ids = [job_ids[i] for i in order]
    subj_flags = [subj_flags[i] for i in order]
    counts = np.array([len(r) for r in rings], dtype=np.int64)
    P = (
        np.concatenate(rings)
        if rings
        else np.empty((0, 2), dtype=np.int64)
    )
    return (
        P,
        counts,
        np.array(job_ids, dtype=np.int64),
        np.array(subj_flags, dtype=bool),
        len(jobs),
    )


def flat_to_jobs(flat, nj):
    """flat tuple -> per-job [(ring_pts_list, ring_area_list), ...] preserving
    emission order, for exact comparison against the Shapes API."""
    job, sid, cidx, lens, pts, a2 = flat
    per_job = [[] for _ in range(nj)]
    splits = np.split(pts, np.cumsum(lens[:-1])) if len(lens) else []
    for j, s, c, ring, a in zip(
        job.tolist(), sid.tolist(), cidx.tolist(), splits, a2.tolist()
    ):
        per_job[j].append((s, c, ring.tolist(), a))
    return per_job


def scalar_rows(subj, clip, fill_rule, rule):
    """Per-job scalar kernel result for one rule ->
    [(shape_id, contour_idx, ring_pts, area2), ...] in emission order."""
    g = build_graph(subj, clip, fill_rule)
    shapes, areas = extract_shapes(
        g.segments, g.fills, rule, DEFAULT_OPTIONS, with_areas=True
    )
    rows = []
    for s, (shape, s_areas) in enumerate(zip(shapes, areas)):
        for c, (ring, a) in enumerate(zip(shape, s_areas)):
            rows.append((s, c, np.asarray(ring).tolist(), int(a)))
    return rows


def assert_flat_matches(jobs, fill_rule, shuffle_seed=None):
    P, counts, ring_job, ring_subj, nj = flatten_jobs(jobs, shuffle_seed)
    flat = overlay_batch_flat_out(P, counts, ring_job, ring_subj, nj, RULES, fill_rule)
    for rule in RULES:
        got_per_job = flat_to_jobs(flat[rule], nj)
        for j, (subj, clip) in enumerate(jobs):
            want = scalar_rows(subj, clip, fill_rule, rule)
            assert got_per_job[j] == want, f"job {j} rule {rule.value}"


def test_one_job_batch_runs_on_the_calling_thread(monkeypatch):
    """A one-job batch takes the tiled kernel (threads=1): a job of 52k
    segments (two stars, a bar across the first), past the fill's 48k
    strip-pool bound for threads=None, runs with every thread pool patched to
    raise and equals the scalar kernel ring for ring."""
    import concurrent.futures

    from ioverlay_spark.kernel import overlap

    jobs = [([star(0, 0, 10**6, 9 * 10**5, 13_000), rect(-10**5, -50, 2 * 10**5, 100)],
             [star(2_500_000, 0, 10**6, 9 * 10**5, 13_000)])]
    g = build_graph(*jobs[0], FillRule.NON_ZERO)
    want = {}
    for rule in RULES:
        shapes, areas = extract_shapes(g.segments, g.fills, rule, DEFAULT_OPTIONS, True)
        want[rule] = [
            (s, c, np.asarray(ring).tolist(), int(a))
            for s, (shape, s_areas) in enumerate(zip(shapes, areas))
            for c, (ring, a) in enumerate(zip(shape, s_areas))
        ]

    def no_pool(*args, **kwargs):
        raise AssertionError("one-job batch started a thread pool")

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", no_pool)
    monkeypatch.setattr(overlap, "ThreadPoolExecutor", no_pool)
    P, counts, ring_job, ring_subj, nj = flatten_jobs(jobs)
    flat = overlay_batch_flat_out(P, counts, ring_job, ring_subj, nj, RULES, FillRule.NON_ZERO)
    for rule in RULES:
        assert flat_to_jobs(flat[rule], 1)[0] == want[rule], rule.value


def test_past_cap_job_runs_on_the_calling_thread(monkeypatch):
    """A job far from the origin runs the same tiled kernel on the calling
    thread: the two-star job above, moved to 2^31, runs with every thread
    pool patched to raise and equals build_graph + extract_shapes."""
    import concurrent.futures

    from ioverlay_spark.kernel import overlap

    d = 1 << 31
    jobs = [([star(d, d, 10**6, 9 * 10**5, 13_000), rect(d - 10**5, d - 50, 2 * 10**5, 100)],
             [star(d + 2_500_000, d, 10**6, 9 * 10**5, 13_000)])]
    g = build_graph(*jobs[0], FillRule.NON_ZERO)
    want = {}
    for rule in RULES:
        shapes, areas = extract_shapes(g.segments, g.fills, rule, DEFAULT_OPTIONS, True)
        want[rule] = [
            (s, c, np.asarray(ring).tolist(), int(a))
            for s, (shape, s_areas) in enumerate(zip(shapes, areas))
            for c, (ring, a) in enumerate(zip(shape, s_areas))
        ]

    def no_pool(*args, **kwargs):
        raise AssertionError("far batch started a thread pool")

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", no_pool)
    monkeypatch.setattr(overlap, "ThreadPoolExecutor", no_pool)
    P, counts, ring_job, ring_subj, nj = flatten_jobs(jobs)
    flat = overlay_batch_flat_out(P, counts, ring_job, ring_subj, nj, RULES, FillRule.NON_ZERO)
    for rule in RULES:
        assert flat_to_jobs(flat[rule], 1)[0] == want[rule], rule.value


def _translation_jobs():
    """Seeded flagship L-hexagon x rect jobs, stars, rects with holes, a ring
    with duplicate and collinear vertices and side-by-side rects whose union
    keeps a collinear vertex (both take the scalar cleanups)."""
    rnd = random.Random(53)
    jobs = []
    for _ in range(24):
        x1, y1 = rnd.randrange(0, 1 << 19), rnd.randrange(0, 1 << 19)
        x2, y2 = x1 + rnd.randrange(256, 8192), y1 + rnd.randrange(256, 8192)
        xm, ym = (x1 + x2) // 2, (y1 + y2) // 2
        hexagon = np.array(
            [[x1, y1], [x2, y1], [x2, ym], [xm, ym], [xm, y2], [x1, y2]], dtype=np.int64
        )
        cx, cy = x1 + rnd.randrange(0, 6000), y1 + rnd.randrange(0, 6000)
        w, h = rnd.randrange(200, 4096), rnd.randrange(200, 4096)
        jobs.append(([hexagon], [rect(cx, cy, w, h)]))
    for _ in range(12):
        cx, cy = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        jobs.append(([star(cx, cy, 3000, 800, rnd.randrange(3, 9), rnd.random())],
                     [star(cx + 400, cy - 300, 2500, 1500, rnd.randrange(3, 9), rnd.random())]))
    for _ in range(8):
        x, y = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        jobs.append(([rect(x, y, 2000, 2000), rect(x + 500, y + 500, 800, 800)[::-1].copy()],
                     [rect(x + 300, y + 300, 1500, 1500)]))
    dirty = np.array(
        [[0, 0], [50, 0], [100, 0], [100, 0], [100, 100], [0, 100]], dtype=np.int64
    )
    jobs.append(([dirty], [rect(50, 50, 100, 100)]))
    jobs.append(([rect(0, 0, 10, 10)], [rect(10, 0, 10, 10)]))
    return jobs


def test_batch_is_translation_invariant(monkeypatch):
    """Where a batch sits does not change the path it takes: moved by
    (2^30, 0), (2^40, -2^40) and (-2^61, 2^61), every rule's flat output is
    the unmoved output shifted (slot, shape, contour, lens, points in order,
    area2), with as many scalar ring validations, scalar ingest cleanups and
    python-int orientation tests as unmoved. The second batch adds a job
    2^31 wide, whose crossings take the python-int split."""
    from collections import Counter

    from ioverlay_spark.kernel import batch, extract, split

    calls = Counter()

    def count(mod, name):
        f = getattr(mod, name)

        def counted(*a, **k):
            calls[name] += 1
            return f(*a, **k)

        monkeypatch.setattr(mod, name, counted)

    count(extract, "_validate_ring")
    count(batch, "build_segments")
    count(split, "_orient")
    plain = _translation_jobs()
    wide = ([rect(0, 0, 1 << 31, 10)], [rect(1 << 30, -5, 10, 20), rect(3, 3, 100, 2)])
    for jobs in (plain, [wide] + plain[:3]):
        P, counts, ring_job, ring_subj, nj = flatten_jobs(jobs, shuffle_seed=3)
        calls.clear()
        base = overlay_batch_flat_out(P, counts, ring_job, ring_subj, nj, RULES)
        base_calls = dict(calls)
        assert base_calls["build_segments"] > 0 and base_calls["_validate_ring"] > 0
        assert (base_calls.get("_orient", 0) > 0) == (jobs[0] is wide)
        for dx, dy in ((1 << 30, 0), (1 << 40, -(1 << 40)), (-(1 << 61), 1 << 61)):
            calls.clear()
            moved = overlay_batch_flat_out(
                P + np.array([dx, dy], dtype=np.int64), counts, ring_job, ring_subj, nj, RULES
            )
            assert dict(calls) == base_calls, (dx, dy)
            for rule in RULES:
                b, m = base[rule], moved[rule]
                for k in (0, 1, 2, 3, 5):
                    assert np.array_equal(b[k], m[k]), (dx, dy, rule.value, k)
                assert np.array_equal(b[4] + np.array([dx, dy]), m[4]), (dx, dy, rule.value)


def test_batch_at_full_int64_width():
    """A job spanning x in [-2^63 + 4, 2^63 - 4] runs in its own chunk with
    its own coordinates, between two small jobs, and equals build_graph +
    extract_shapes on every rule, area2 values past int64 included; jobs
    2^60 wide run in chunks of three."""
    lo, hi = -(1 << 63) + 4, (1 << 63) - 4
    mid = ([np.array([[lo, -5], [hi, -7], [hi, 9], [lo, 3]], dtype=np.int64)],
           [np.array([[-10, lo], [20, lo], [30, hi], [-15, hi]], dtype=np.int64)])
    jobs = [([rect(0, 0, 10, 10)], [rect(5, 5, 10, 10)]), mid,
            ([rect(100, 100, 50, 50)], [rect(120, 90, 10, 100)])]
    assert_flat_matches(jobs, FillRule.EVEN_ODD)
    flat = overlay_batch_flat_out(*flatten_jobs(jobs), [OverlayRule.UNION])
    assert max(abs(int(a)) for a in flat[OverlayRule.UNION][5]) >= 1 << 63
    w = 1 << 60
    assert_flat_matches(
        [([rect(j * 7, 0, w, 100)], [rect(w // 3, 30 + j, 1000, 100)]) for j in range(7)],
        FillRule.NON_ZERO,
    )


@pytest.mark.parametrize("fill_rule", [FillRule.EVEN_ODD, FillRule.NON_ZERO])
def test_flat_out_random_stars(fill_rule):
    rnd = random.Random(37)
    jobs = []
    for _ in range(90):
        cx, cy = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        subj = [star(cx, cy, rnd.randrange(50, 4000), rnd.randrange(10, 2000),
                     rnd.randrange(3, 9), rnd.random())]
        clip = [star(cx + rnd.randrange(-500, 500), cy + rnd.randrange(-500, 500),
                     rnd.randrange(50, 4000), rnd.randrange(10, 2000),
                     rnd.randrange(3, 9), rnd.random())]
        jobs.append((subj, clip))
    assert_flat_matches(jobs, fill_rule, shuffle_seed=5)


def test_flat_out_holes_multihull_degenerate():
    """Slots with several hulls and holes take bind_holes' ray shot, slots
    with one hull its shortcut; rings of 300 links come back whole; all must
    come back in exact order."""
    rnd = random.Random(41)
    jobs = []
    for _ in range(25):
        x, y = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        outer = rect(x, y, 2000, 2000)
        hole = rect(x + 500, y + 500, 800, 800)[::-1].copy()
        jobs.append(([outer, hole], [rect(x + 300, y + 300, 1500, 1500)]))
    for _ in range(25):
        # two disjoint donuts in ONE job -> >=2 hulls each with a hole:
        # the hole binding's ray shot picks each hole's hull
        x, y = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        subj = [
            rect(x, y, 1000, 1000), rect(x + 200, y + 200, 600, 600)[::-1].copy(),
            rect(x + 5000, y, 1000, 1000),
            rect(x + 5200, y + 200, 600, 600)[::-1].copy(),
        ]
        jobs.append((subj, [rect(x - 100, y - 100, 7000, 1200)]))
    for _ in range(5):
        # a 300-vertex circle around a small clip: SUBJECT, UNION, XOR and
        # DIFFERENCE keep a 300-link ring
        x, y = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        jobs.append(([star(x, y, 5000, 5000, 150, rnd.random())],
                     [rect(x - 1000, y - 1000, 2000, 2000)]))
    jobs += [
        ([], [rect(0, 0, 10, 10)]),
        ([rect(0, 0, 10, 10)], []),
        ([np.array([[0, 0], [5, 0], [10, 0]], dtype=np.int64)], [rect(0, 0, 4, 4)]),
        ([], []),
        ([rect(0, 0, 100, 100)], [rect(0, 0, 100, 100)]),
    ]
    rnd.shuffle(jobs)
    assert_flat_matches(jobs, FillRule.EVEN_ODD, shuffle_seed=7)
    assert_flat_matches(jobs, FillRule.NON_ZERO, shuffle_seed=8)


def _canon(shapes):
    return sorted(
        sorted(tuple(map(tuple, np.asarray(r).tolist())) for r in shape)
        for shape in shapes
    )


@pytest.mark.parametrize("rule", [OverlayRule.UNION, OverlayRule.XOR,
                                  OverlayRule.DIFFERENCE])
def test_overlay_cluster_flat_route_matches_monolithic(rule):
    """overlay() >= CLUSTER_MIN_RINGS takes the flat clustered route; the ring
    set must equal the monolithic graph's, order-canonically."""
    n = CLUSTER_MIN_RINGS // 2 + 8
    subj = [rect(i * 3000, (i % 7) * 3000, 1200, 1200) for i in range(n)]
    clip = [rect(i * 3000 + 600, (i % 7) * 3000 + 600, 1200, 1200) for i in range(n)]
    got = overlay(subj, clip, rule)
    want = build_graph(subj, clip).extract(rule)
    assert _canon(got) == _canon(want)


def test_overlay_cluster_flat_route_touching_clusters():
    """Touching bboxes (shared edges across the would-be cluster boundary) must
    still merge into correct output through the clustered route."""
    n = CLUSTER_MIN_RINGS
    subj = [rect(i * 1000, 0, 1000, 1000) for i in range(n)]  # seamless strip
    clip = [rect(i * 1000 + 500, 500, 1000, 1000) for i in range(0, n, 2)]
    got = overlay(subj, clip, OverlayRule.UNION)
    want = build_graph(subj, clip).extract(OverlayRule.UNION)
    assert _canon(got) == _canon(want)
