"""Float adapter (quantize/dequantize exactness, fixed-scale variant) and the
distributed split's skew-salting path (hot cells re-covered on a finer grid)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ioverlay_spark.functions.adapter import FloatAdapter, fit_adapter, fixed_scale_adapter


def test_fit_adapter_roundtrip_exact(spark):
    # floats on a 2^-6 grid roundtrip exactly through a power-of-two adapter
    rows = [(i, [i / 64.0, (i + 300) / 64.0], [(i * 7) / 64.0]) for i in range(0, 4000, 13)]
    df = spark.createDataFrame(rows, ["id", "xs", "ys"])
    a = fit_adapter(df, ["xs"], ["ys"])
    assert a.scale == float(int(a.scale))  # power of two
    q = df.select(
        "id",
        F.transform("xs", lambda c: a.quantize_x(c)).alias("qx"),
        F.col("xs"),
    )
    back = q.select(
        "id", "xs", F.transform("qx", lambda c: a.dequantize_x(c)).alias("bx")
    )
    bad = back.where(F.expr("exists(zip_with(xs, bx, (u, v) -> u != v), b -> b)")).count()
    assert bad == 0


def test_fixed_scale_adapter():
    a = fixed_scale_adapter(1 / 1024.0)
    assert a.scale == 1024.0
    assert a.offset_x == 0.0


def test_adapter_quantize_matches_reference_rounding(spark):
    # reference FloatPointAdapter rounds half AWAY from zero (Rust f64::round):
    # exact halves on the negative side go to the more-negative integer
    a = FloatAdapter(0.0, 0.0, 2.0)
    df = spark.createDataFrame([(0.25,), (0.75,), (-0.25,), (-0.75,)], ["v"])
    got = [r[0] for r in df.select(a.quantize_x(F.col("v"))).collect()]
    assert got == [1, 2, -1, -2]


def test_salting_growth_proportional_to_hot_share(spark):
    """Targeted salting must re-explode ONLY hot-cell segments: exploded-row growth
    is bounded by the hot-cell share of the cover, and the found marks are
    identical to an unsalted (huge-threshold) round. split_round does not
    dedupe (a pair is found once per shared cell), so the marks compare as
    sets."""
    from ioverlay_spark.operators.distributed import (
        _checkpoint_segments,
        salted_cover,
        split_round,
    )

    # one dense bundle in the lower-left cell + a sparse far-away diagonal field
    rows = []
    for k in range(40):  # dense: 40 segments through one small cell
        rows.append((0, k, 63, 63 - k, 1, 0))
    for k in range(40):  # sparse: spread over a 16x16-cell area
        rows.append((1000 + 17 * k, 1000 + 13 * k, 1040 + 17 * k, 1060 + 13 * k, 1, 0))
    df = spark.createDataFrame(rows, ["ax", "ay", "bx", "by", "subj", "clip"])

    cover_salted, loads = salted_cover(df, cells_per_axis=32, hot_threshold=8)
    cover_plain, _ = salted_cover(df, cells_per_axis=32, hot_threshold=10**9)
    n_salted, n_plain = cover_salted.count(), cover_plain.count()
    hot_rows = (
        loads.where(F.col("count") > 8).agg(F.sum("count")).collect()[0][0] or 0
    )
    # growth only from hot-cell rows, each re-exploded into <= 16 sub-cells
    assert n_salted - n_plain <= 16 * hot_rows
    # the sparse field must NOT have grown: cold rows keep exactly one salt
    assert n_salted < n_plain + 16 * hot_rows + 1
    assert n_plain >= 80  # sanity: every segment covered at least once

    # split rounds read the `_sid` row key their marks refer to
    sdf, _ = _checkpoint_segments(df)
    marks_salted, _ = split_round(sdf, cells_per_axis=32, hot_threshold=8)
    marks_plain, _ = split_round(sdf, cells_per_axis=32, hot_threshold=10**9)
    a = set(map(tuple, marks_salted.collect()))
    b = set(map(tuple, marks_plain.collect()))
    assert a == b and len(a) > 0


def test_split_round_salting_triggers_and_stays_correct(spark):
    """Force the hot-cell path (threshold=4) on a dense crossing bundle and check
    the distributed split still matches the exact kernel result."""
    from ioverlay_spark.kernel import build_segments, sort_and_merge, split_segments
    from ioverlay_spark.kernel.segments import Segments
    from ioverlay_spark.operators.distributed import (
        _checkpoint_segments,
        apply_marks_df,
        merge_segments_df,
        split_round,
    )

    # a fan of segments through one point + a crossing grid: one very hot cell
    rings = []
    for k in range(12):
        rings.append(np.array([[0, k * 8], [256, 256 - k * 8], [256, 257 - k * 8]], dtype=np.int64))
    segs_local = Segments.concat([build_segments([r], True) for r in rings])
    expect = split_segments(Segments.concat([build_segments([r], True) for r in rings]))

    rows = [
        (int(a), int(b), int(c), int(d), int(s), int(cl))
        for a, b, c, d, s, cl in zip(
            segs_local.ax, segs_local.ay, segs_local.bx, segs_local.by,
            segs_local.subj, segs_local.clip,
        )
    ]
    df = spark.createDataFrame(rows, ["ax", "ay", "bx", "by", "subj", "clip"])
    segs, _ = _checkpoint_segments(merge_segments_df(df))
    for rnd in range(8):
        # the fixpoint's snap radius progression, 2^round
        marks, loads = split_round(segs, cells_per_axis=2, hot_threshold=4, radius=1 << rnd)
        # the salting branch must actually engage on this input
        assert loads.where(F.col("count") > 4).count() >= 1
        marks = marks.localCheckpoint(eager=True)
        if marks.isEmpty():
            break
        segs, _ = _checkpoint_segments(apply_marks_df(segs, marks))

    got = sorted(
        (r["ax"], r["ay"], r["bx"], r["by"], r["subj"], r["clip"])
        for r in segs.collect()
    )
    want = sorted(
        (int(a), int(b), int(c), int(d), int(s), int(cl))
        for a, b, c, d, s, cl in zip(
            expect.ax, expect.ay, expect.bx, expect.by, expect.subj, expect.clip
        )
    )
    assert got == want
