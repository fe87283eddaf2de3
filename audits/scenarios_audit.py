"""End-to-end audit of the reference perf scenarios: the six of
performance/rust_app/src/test/test_{1,4,5,6,7,8}_*.rs (geometry re-derived in
ioverlay_spark/scenarios.py, correctness oracles in tests/test_perf_scenarios.py)
and the spiral self-union of test_3_spiral.rs (geometry re-derived from
util.rs:181-227 below; SUBJECT / NON_ZERO on the i32-scale quantized band),
plus hull_holes (one hull DIFFERENCE k^2 holes, the hole binder's row; no
reference number), hull_holes_far (the same plus one disjoint hull of the
same size, one hull-width to the right: the scalar overlay() clusters it into
two jobs and runs the batch kernel, so the row times the batch fill on one
big tile), lines_net (n vertical x n horizontal strips of width 10 at spacing
20, INTERSECT, test_2_lines_net.rs: n^2 squares of area 100; one component,
so the scalar overlay() runs the monolithic split, fill and walk on it),
lines_net_xor (the same strips, XOR: one tile whose every strip crossing is a
degree-4 node, the vectorized junction walk's largest single-tile case; no
reference number) and
not_overlap_far (not_overlap moved by (2^40, -2^40), with not_overlap's
closed form: the batch kernel's tiles are position-independent, so the row
should read as not_overlap's).

Usage:
    python audits/scenarios_audit.py                      # all scenarios, default ladders, scalar kernel
    python audits/scenarios_audit.py not_overlap 256 512  # one scenario, chosen n
    python audits/scenarios_audit.py spiral 65536          # the spiral self-union
    python audits/scenarios_audit.py windows 512 --spark  # distributed path (session.get_spark)
    python audits/scenarios_audit.py hull_holes 64 --spark --monolithic  # one hull, 64^2 holes
    python audits/scenarios_audit.py hull_holes_far 64 128  # batch kernel, one big tile
    python audits/scenarios_audit.py lines_net 512 1024   # monolithic one-shot, peak RSS
    python audits/scenarios_audit.py lines_net_xor 128 256  # junction walk, one tile
    python audits/scenarios_audit.py not_overlap_far 128    # not_overlap far from the origin
    ... --reps 3

Each row prints the measured wall (best of reps) with the CPU seconds of that
rep (the row's own threads on the scalar path; the driver, JVM and Python
workers together with --spark), the closed-form oracle verdict where one
exists, and the reference's published i32 multithreading-on s/op for that n
(the comment blocks in the test_*.rs files). A scalar row runs in its own
child process and also prints that process's peak RSS (ru_maxrss), so one
row's high-water mark never carries into the next."""
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import numpy as np
from procs import ProcTree

from ioverlay_spark import scenarios
from ioverlay_spark.kernel import overlay, ring_area2
from ioverlay_spark.options import FillRule, OverlayRule

# reference i32 MT-on seconds per op, keyed by n (comment blocks, test_*.rs)
REF = {
    "spiral": {65536: 0.0742, 262144: 0.3509, 524288: 0.7445},
    "not_overlap": {256: 0.036901, 512: 0.177118, 1024: 0.745187, 2048: 3.282416},
    "not_overlap_far": {},
    "lines_net": {1024: 0.1452, 2048: 0.6222, 4096: 2.6878},
    "windows": {128: 0.010892, 256: 0.049875, 512: 0.224817, 1024: 1.007965},
    "hull_holes": {},
    "hull_holes_far": {},
    "lines_net_xor": {},
    "nested_squares": {16384: 0.322707, 32768: 0.653741, 65536: 2.410910},
    "corrosion": {64: 0.033293, 128: 0.133794, 256: 0.594231, 512: 2.297538},
    "concentric": {64: 0.034357, 128: 0.134210, 256: 0.563524, 512: 2.367582},
    "wind_mill": {64: 0.015072, 128: 0.061520, 256: 0.280049, 512: 1.243484},
}

DEFAULT_NS = {
    "spiral": [65536, 262144, 524288],
    "not_overlap": [256, 512, 1024],
    "not_overlap_far": [128, 256],
    "lines_net": [256, 512],
    "windows": [128, 256, 512, 1024],
    "hull_holes": [64, 128, 256],
    "hull_holes_far": [64, 128],
    "lines_net_xor": [128, 256],
    "nested_squares": [16384, 32768],
    "corrosion": [64, 128, 256],
    "concentric": [64, 128, 256],
    "wind_mill": [64, 128, 256],
}

RULES = {
    "spiral": OverlayRule.SUBJECT,
    "not_overlap": OverlayRule.UNION,
    "not_overlap_far": OverlayRule.UNION,
    "lines_net": OverlayRule.INTERSECT,
    "windows": OverlayRule.DIFFERENCE,
    "hull_holes": OverlayRule.DIFFERENCE,
    "hull_holes_far": OverlayRule.DIFFERENCE,
    "lines_net_xor": OverlayRule.XOR,
    "nested_squares": OverlayRule.XOR,
    "corrosion": OverlayRule.DIFFERENCE,
    "concentric": OverlayRule.INTERSECT,
    "wind_mill": OverlayRule.INTERSECT,
}

FLOAT_SCENARIOS = {"corrosion", "concentric", "spiral"}


def spiral(count: int, radius: float) -> np.ndarray:
    """Zigzag spiral band (width 0.1 r, zigzag +-0.2 r) whose inner and outer
    rails cross each other: one float ring of 4 * count points."""
    a_path, b_path = [], []
    a, r = 0.0, radius
    w = 0.1 * radius
    p0 = np.array([0.0, 0.0])
    for i in range(count):
        sx, sy = math.cos(a), math.sin(a)
        rr = r + 0.2 * radius if i % 2 == 0 else r - 0.2 * radius
        p = np.array([rr * sx, rr * sy])
        d = p - p0
        n = d / math.hypot(d[0], d[1])
        t = np.array([w * -n[1], w * n[0]])
        a_path.append(p0 + t)
        a_path.append(p + t)
        b_path.append(p0 - t)
        b_path.append(p - t)
        a += radius / r
        r = radius * (1.0 + a / (2.0 * math.pi))
        p0 = p
    b_path.reverse()
    return np.array(a_path + b_path)


def oracle(name: str, n: int, count: int, area2: int, base_cell_area2: int | None,
           rings: int | None = None):
    if name in ("not_overlap", "not_overlap_far"):
        exp = n * n + (n - 1) * (n - 1)
        return count == exp and area2 == 200 * exp
    if name == "windows":
        # n^2 frame shapes, each hull + one hole ring
        return count == n * n and (rings is None or rings == 2 * n * n) and area2 == 600 * n * n
    if name == "hull_holes":
        # one shape: the hull and its n^2 holes
        return count == 1 and (rings is None or rings == n * n + 1) and (
            area2 == 2 * ((20 * n + 10) ** 2 - 100 * n * n)
        )
    if name == "hull_holes_far":
        # the hull_holes shape plus the far hull
        side = 20 * n + 10
        return count == 2 and (rings is None or rings == n * n + 2) and (
            area2 == 2 * (2 * side * side - 100 * n * n)
        )
    if name == "nested_squares":
        return count == 4 * n and area2 == 64 * n * n
    if name == "lines_net":
        # one 10 x 10 square per strip crossing
        return count == n * n and (rings is None or rings == n * n) and area2 == 200 * n * n
    if name == "lines_net_xor":
        # the strips' union minus their n^2 crossing squares, w = 10, s = 10n
        w, s = LINES_NET_A // 2, LINES_NET_A * n // 2
        return area2 == 2 * (4 * n * w * s - 2 * n * n * w * w)
    if name == "wind_mill":
        return count == 4 * n * n and (
            base_cell_area2 is None or area2 == n * n * base_cell_area2
        )
    if name == "spiral":
        return count == 1 and (rings is None or rings == 1)
    return None  # corrosion/concentric: no closed form; identities live in tests


LINES_NET_A = 20


def lines_net(n: int) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """n vertical (subject) x n horizontal (clip) strips of width a/2 at
    spacing a, a = LINES_NET_A (the reference lines_net geometry)."""
    a = LINES_NET_A
    w, s = a // 2, a * n // 2
    starts = range(-s + w // 2, -s + w // 2 + a * n, a)
    subj = [np.array([(x, -s), (x + w, -s), (x + w, s), (x, s)]) for x in starts]
    clip = [np.array([(-s, y), (s, y), (s, y + w), (-s, y + w)]) for y in starts]
    return subj, clip


def build_int_inputs(name: str, n: int):
    if name == "spiral":
        subj, clip = [spiral(n, 100.0)], []
    elif name in ("lines_net", "lines_net_xor"):
        subj, clip = lines_net(n)
    elif name == "not_overlap_far":
        far = np.array([1 << 40, -(1 << 40)], dtype=np.int64)
        subj, clip = (
            [r + far for r in rings] for rings in scenarios.not_overlap(n)
        )
    elif name == "hull_holes_far":
        subj, clip = scenarios.hull_holes(n)
        subj = subj + [subj[0] + np.array([2 * (20 * n + 10), 0], dtype=np.int64)]
    else:
        subj, clip = getattr(scenarios, name)(n)
    if name in FLOAT_SCENARIOS:
        from ioverlay_spark.functions.float_shell import NumpyFloatAdapter

        adapter = NumpyFloatAdapter.fit(np.concatenate(subj + clip))
        subj = [adapter.quantize(r) for r in subj]
        clip = [adapter.quantize(r) for r in clip]
    return subj, clip


def _scalar_row(name: str, n: int, reps: int) -> str:
    """One scalar row, meant to run in a fresh child process."""
    import resource

    base_cell = None
    if name == "wind_mill":
        s1 = overlay(*scenarios.wind_mill(1), RULES[name], FillRule.NON_ZERO)
        base_cell = sum(ring_area2(r) for sh in s1 for r in sh)
    subj, clip = build_int_inputs(name, n)
    npolys = len(subj) + len(clip)
    best, cpu, count, area2 = float("inf"), 0.0, 0, 0
    for _ in range(reps):
        t0, c0 = time.perf_counter(), time.process_time()
        shapes = overlay(subj, clip, RULES[name], FillRule.NON_ZERO)
        wall = time.perf_counter() - t0
        if wall < best:
            best, cpu = wall, time.process_time() - c0
        count = sum(1 for _ in shapes)
        rings = sum(len(s) for s in shapes)
        area2 = sum(ring_area2(r) for s in shapes for r in s)
        del shapes
    peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024  # KiB on Linux
    ok = oracle(name, n, count, area2, base_cell, rings)
    ref = REF[name].get(n)
    return (
        f"SCALAR {name} n={n} polys={npolys} wall={best:.3f}s cpu={cpu:.3f}s "
        f"peak_rss={peak:.0f}MB shapes={count} "
        f"rings={rings} area2={area2} oracle={'n/a' if ok is None else ok} "
        f"ref_i32_mt={ref if ref is not None else 'n/a'}"
        + (f" ratio={best/ref:.1f}x" if ref else "")
    )


def run_scalar(name: str, ns: list[int], reps: int):
    import multiprocessing

    # spawn, not fork: a forked child inherits this process's high-water mark
    ctx = multiprocessing.get_context("spawn")
    for n in ns:
        with ctx.Pool(1) as pool:
            print(pool.apply(_scalar_row, (name, n, reps)), flush=True)


def run_spark(name: str, ns: list[int], reps: int, monolithic: bool = False):
    from ioverlay_spark.operators.cluster_overlay import cluster_overlay
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )
    from ioverlay_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    tree = ProcTree()

    def _noop(it):
        import ioverlay_spark.operators.distributed_extract  # noqa: F401

        for pdf in it:
            yield pdf

    spark.range(64).repartition(16).mapInPandas(_noop, "id long").count()

    base_cell = None
    if name == "wind_mill":
        s1 = overlay(*scenarios.wind_mill(1), RULES[name], FillRule.NON_ZERO)
        base_cell = sum(ring_area2(r) for sh in s1 for r in sh)

    import pyarrow as pa

    for n in ns:
        subj, clip = build_int_inputs(name, n)
        npolys = len(subj) + len(clip)
        rings = subj + clip
        counts = np.fromiter((len(r) for r in rings), dtype=np.int64, count=npolys)
        offs = np.zeros(npolys + 1, dtype=np.int32)
        np.cumsum(counts, out=offs[1:])
        P = np.concatenate(rings)
        tbl = pa.table(
            {
                "role": pa.array(["subject"] * len(subj) + ["clip"] * len(clip)),
                "cid": pa.array(np.arange(npolys, dtype=np.int64)),
                "pts_x": pa.ListArray.from_arrays(pa.array(offs), pa.array(P[:, 0].copy())),
                "pts_y": pa.ListArray.from_arrays(pa.array(offs), pa.array(P[:, 1].copy())),
            }
        )
        df = spark.createDataFrame(tbl).localCheckpoint(eager=True)
        best, cpu, count, area2 = float("inf"), 0.0, 0, 0
        for _ in range(reps):
            t0, c0 = time.perf_counter(), sum(tree.cpu().values())
            if monolithic:
                out = distributed_overlay(
                    contours_to_segments_df(spark, df),
                    RULES[name],
                    FillRule.NON_ZERO,
                    force_distributed=True,
                )
                shapes_expr = "count(distinct shape_id) AS shapes"
            else:
                out = cluster_overlay(df, RULES[name], FillRule.NON_ZERO)
                shapes_expr = "count(distinct cluster_id, shape_id) AS shapes"
            agg = out.selectExpr(
                "count(*) AS rings", "sum(area2) AS area2", shapes_expr
            ).first()
            wall = time.perf_counter() - t0
            if wall < best:
                best, cpu = wall, sum(tree.cpu().values()) - c0
            count, area2 = agg["shapes"], int(agg["area2"])
            rings = agg["rings"]
        ok = oracle(name, n, count, area2, base_cell, rings)
        ref = REF[name].get(n)
        # a leading newline: Spark's console progress bar ends in a carriage
        # return, so with stderr merged the row would not start a line
        print(
            f"\nSPARK {name} n={n} polys={npolys} wall={best:.3f}s cpu={cpu:.3f}s shapes={count} "
            f"rings={rings} area2={area2} oracle={'n/a' if ok is None else ok} "
            f"ref_i32_mt={ref if ref is not None else 'n/a'}"
            + (f" ratio={best/ref:.1f}x" if ref else ""),
            flush=True,
        )
    spark.stop()


def main():
    args = [a for a in sys.argv[1:]]
    use_spark = "--spark" in args
    monolithic = "--monolithic" in args
    reps = 2
    if "--reps" in args:
        reps = int(args[args.index("--reps") + 1])
        del args[args.index("--reps") : args.index("--reps") + 2]
    args = [a for a in args if not a.startswith("--")]
    names = [a for a in args if not a.isdigit()] or list(RULES)
    ns = [int(a) for a in args if a.isdigit()]
    for name in names:
        if use_spark:
            run_spark(name, ns or DEFAULT_NS[name], reps, monolithic=monolithic)
        else:
            run_scalar(name, ns or DEFAULT_NS[name], reps)


if __name__ == "__main__":
    main()
