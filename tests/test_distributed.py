"""Distributed huge-overlay pipeline vs the exact single-kernel result
(differential test, SURVEY.md §7 hard-part (c))."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F


def checkerboard(n: int, cell: int = 16):
    """The reference's headline scenario (performance/rust_app checkerboard): an
    n x n grid of SUBJECT squares XORed with an (n-1) x (n-1) grid of offset
    CLIP squares (performance/rust_app/src/test/test_0_checkerboard.rs)."""
    subj, clip = [], []
    for i in range(n):
        for j in range(n):
            x, y = i * cell * 2, j * cell * 2
            subj.append([(x, y), (x + 2 * cell, y), (x + 2 * cell, y + 2 * cell), (x, y + 2 * cell)])
    for i in range(n - 1):
        for j in range(n - 1):
            x, y = i * cell * 2 + cell, j * cell * 2 + cell
            clip.append([(x, y), (x + 2 * cell, y), (x + 2 * cell, y + 2 * cell), (x, y + 2 * cell)])
    return subj, clip


def rings_to_contours_rows(subj, clip):
    rows = [
        ("subject", i, [p[0] for p in r], [p[1] for p in r]) for i, r in enumerate(subj)
    ]
    rows += [
        ("clip", len(subj) + i, [p[0] for p in r], [p[1] for p in r])
        for i, r in enumerate(clip)
    ]
    return rows


@pytest.fixture(scope="module")
def board(spark):
    subj, clip = checkerboard(6)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    return subj, clip, df


def kernel_reference(subj, clip, rule, fill_rule):
    from ioverlay_spark.kernel import build_graph
    from ioverlay_spark.kernel.extract import ring_area2

    g = build_graph(
        [np.array(r, dtype=np.int64) for r in subj],
        [np.array(r, dtype=np.int64) for r in clip],
        fill_rule,
    )
    shapes = g.extract(rule)
    return sorted(ring_area2(ring) for shape in shapes for ring in shape)


def _kernel_split(subj, clip):
    from ioverlay_spark.kernel import build_segments, sort_and_merge, split_segments
    from ioverlay_spark.kernel.segments import Segments

    segs = Segments.concat(
        [
            build_segments([np.array(r, dtype=np.int64) for r in subj], True),
            build_segments([np.array(r, dtype=np.int64) for r in clip], False),
        ]
    )
    return split_segments(sort_and_merge(segs))


def kernel_rings(subj, clip, rule, fill_rule):
    """(is_hole, |area2|, sorted points) multiset of the scalar kernel's overlay."""
    from ioverlay_spark.kernel import overlay, ring_area2

    shapes = overlay(
        [np.array(r, dtype=np.int64) for r in subj],
        [np.array(r, dtype=np.int64) for r in clip],
        rule,
        fill_rule,
    )
    return sorted(
        (k > 0, abs(ring_area2(ring)), tuple(sorted(map(tuple, np.asarray(ring).tolist()))))
        for shape in shapes
        for k, ring in enumerate(shape)
    )


def kernel_fill_rows(subj, clip, fill_rule, boundary_rule=None):
    """Sorted (ax, ay, bx, by, fill) rows of the scalar kernel's split + fill,
    optionally kept to one overlay rule's result boundary."""
    from ioverlay_spark.kernel import compute_fills
    from ioverlay_spark.kernel.extract import boundary_mask

    ker = _kernel_split(subj, clip)
    kf = compute_fills(ker, fill_rule)
    keep = np.ones(len(kf), dtype=bool)
    if boundary_rule is not None:
        keep = boundary_mask(kf.astype(np.uint8), boundary_rule)
    cols = (ker.ax, ker.ay, ker.bx, ker.by, kf)
    return sorted(zip(*(c[keep].tolist() for c in cols)))


def fill_rows(fills):
    """Sorted (ax, ay, bx, by, fill) rows of a compute_fills_df result, either
    FILL_SCHEMA rows or BOUNDARY_BLOB_SCHEMA rows (unpacked)."""
    from ioverlay_spark.operators.distributed_extract import _blob_boundary_arrays

    if "xyf" in fills.columns:
        cols = _blob_boundary_arrays(fills.toArrow())
        return sorted(zip(*(c.tolist() for c in cols)))
    pdf = fills.toPandas()
    return sorted(map(tuple, pdf[["ax", "ay", "bx", "by", "fill"]].to_numpy().tolist()))


def ring_multiset(pdf):
    """(is_hole, |area2|, sorted points) multiset of distributed output rings."""
    return sorted(
        (bool(r.is_hole), abs(int(r.area2)), tuple(sorted(zip(r.pts_x, r.pts_y))))
        for r in pdf.itertuples()
    )


def assert_holes_bound(pdf):
    """Every hole's shape_id is the ring_id of some hull."""
    hull_ids = set(pdf.loc[~pdf["is_hole"], "ring_id"])
    assert set(pdf.loc[pdf["is_hole"], "shape_id"]).issubset(hull_ids)


def shifted(rings, shift):
    return [[(x + shift, y + shift) for (x, y) in r] for r in rings]


def test_distributed_split_merge_matches_kernel(spark, board):
    subj, clip, df = board
    from ioverlay_spark.operators.distributed import contours_to_segments_df, split_segments_df

    segs_df = contours_to_segments_df(spark, df)
    out = split_segments_df(segs_df).segs.toPandas()

    ker = _kernel_split(subj, clip)
    got = sorted(map(tuple, out[["ax", "ay", "bx", "by", "subj", "clip"]].to_numpy().tolist()))
    exp = sorted(
        zip(
            ker.ax.tolist(),
            ker.ay.tolist(),
            ker.bx.tolist(),
            ker.by.tolist(),
            ker.subj.tolist(),
            ker.clip.tolist(),
        )
    )
    assert got == exp


def test_distributed_fills_match_kernel(spark, board):
    subj, clip, df = board
    from ioverlay_spark.kernel import compute_fills
    from ioverlay_spark.options import FillRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    split = split_segments_df(contours_to_segments_df(spark, df))
    fills = compute_fills_df(split, FillRule.EVEN_ODD, n_strips=7).toPandas()

    ker = _kernel_split(subj, clip)
    kf = compute_fills(ker, FillRule.EVEN_ODD)
    exp = sorted(
        zip(ker.ax.tolist(), ker.ay.tolist(), ker.bx.tolist(), ker.by.tolist(), kf.tolist())
    )
    got = sorted(map(tuple, fills[["ax", "ay", "bx", "by", "fill"]].to_numpy().tolist()))
    assert got == exp


@pytest.mark.parametrize("n_strips", [1, 64])
def test_distributed_fills_strip_counts_match_kernel(spark, board, n_strips):
    """One strip (no edges: every segment is home in strip 0) and many strips
    (64 on 44 segments, so most strips are empty or a single segment wide):
    fills must still be exact."""
    from ioverlay_spark.options import FillRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    subj, clip, df = board
    split = split_segments_df(contours_to_segments_df(spark, df))
    fills = compute_fills_df(split, FillRule.EVEN_ODD, n_strips=n_strips)
    assert fill_rows(fills) == kernel_fill_rows(subj, clip, FillRule.EVEN_ODD)


def test_packed_fill_matches_kernel(spark, board):
    """The packed strip shuffle must give exactly the scalar kernel's fills:
    as FILL_SCHEMA rows, and with a boundary_rule as the boundary blobs, whose
    coordinate words are int32 below 2^31 and int64 above it."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    subj, clip, _ = board
    for shift, word in ((0, 4), (1 << 40, 8)):
        s_s, c_s = shifted(subj, shift), shifted(clip, shift)
        df = spark.createDataFrame(
            rings_to_contours_rows(s_s, c_s), ["role", "cid", "pts_x", "pts_y"]
        )
        split = split_segments_df(contours_to_segments_df(spark, df)).segs.localCheckpoint()
        for br in (None, OverlayRule.UNION):
            fills = compute_fills_df(split, FillRule.EVEN_ODD, n_strips=5, boundary_rule=br)
            got = fill_rows(fills)
            assert got == kernel_fill_rows(s_s, c_s, FillRule.EVEN_ODD, br)
            assert len(got) > 0
            if br is not None:
                assert set(fills.select("wc").toPandas()["wc"]) == {word}


def test_distributed_fills_match_kernel_long_chords(spark):
    """Regression: the strip fill must NOT use the sweep path (sweep windings
    propagate at insertion x, which needs the FULL set — a strip group only
    holds segments crossing the strip). Long dense chords are exactly the
    inputs whose est/n would trigger the sweep dispatch; seen as a wrong ring
    count on the distributed spiral audit."""
    import math

    import numpy as np

    from ioverlay_spark.kernel import compute_fills
    from ioverlay_spark.options import FillRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    # zigzag spiral band (the reference test_3_spiral geometry, small n)
    a_path, b_path = [], []
    a, r, radius = 0.0, 100.0, 100.0
    w = 0.1 * radius
    p0 = np.array([0.0, 0.0])
    for i in range(2048):
        sx, sy = math.cos(a), math.sin(a)
        rr = r + 0.2 * radius if i % 2 == 0 else r - 0.2 * radius
        p = np.array([rr * sx, rr * sy])
        d = p - p0
        nrm = d / math.hypot(d[0], d[1])
        t = np.array([w * -nrm[1], w * nrm[0]])
        a_path += [p0 + t, p + t]
        b_path += [p0 - t, p - t]
        a += radius / r
        r = radius * (1.0 + a / (2.0 * math.pi))
        p0 = p
    ring = np.round(np.array(a_path + b_path[::-1]) * 500).astype(np.int64)
    df = spark.createDataFrame(
        [("subject", 0, ring[:, 0].tolist(), ring[:, 1].tolist())],
        ["role", "cid", "pts_x", "pts_y"],
    )
    split = split_segments_df(contours_to_segments_df(spark, df))
    fills = compute_fills_df(split, FillRule.NON_ZERO, n_strips=5).toPandas()
    pdf = split.segs.toPandas()
    from ioverlay_spark.kernel.segments import Segments

    ker = Segments(
        pdf["ax"].to_numpy(np.int64),
        pdf["ay"].to_numpy(np.int64),
        pdf["bx"].to_numpy(np.int64),
        pdf["by"].to_numpy(np.int64),
        pdf["subj"].to_numpy(np.int64),
        pdf["clip"].to_numpy(np.int64),
    )
    kf = compute_fills(ker, FillRule.NON_ZERO)
    exp = sorted(
        zip(ker.ax.tolist(), ker.ay.tolist(), ker.bx.tolist(), ker.by.tolist(), kf.tolist())
    )
    got = sorted(map(tuple, fills[["ax", "ay", "bx", "by", "fill"]].to_numpy().tolist()))
    assert got == exp


@pytest.mark.parametrize("rule_name", ["xor", "union", "intersect", "difference"])
def test_distributed_extract_matches_kernel_areas(spark, board, rule_name):
    subj, clip, df = board
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import contours_to_segments_df, distributed_overlay

    rule = OverlayRule(rule_name)
    out = distributed_overlay(
        contours_to_segments_df(spark, df), rule, FillRule.EVEN_ODD, force_distributed=True
    )
    pdf = out.toPandas()
    got = sorted(int(a) for a in pdf["area2"].tolist())
    exp = kernel_reference(subj, clip, rule, FillRule.EVEN_ODD)
    assert got == exp
    # hole binding sanity: every hole's shape_id is some hull's ring_id
    hull_ids = set(pdf.loc[~pdf["is_hole"], "ring_id"])
    assert set(pdf.loc[pdf["is_hole"], "shape_id"]).issubset(hull_ids)
    # strategy dispatch: the small-path one-task kernel must agree with the
    # fully distributed plan (areas + hole structure)
    small_df = distributed_overlay(
        contours_to_segments_df(spark, df), rule, FillRule.EVEN_ODD
    )
    plan = small_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "FlatMapGroupsInPandas" not in plan, plan
    small = small_df.toPandas()
    assert sorted(small["area2"].tolist()) == got
    assert sorted(small["is_hole"].tolist()) == sorted(pdf["is_hole"].tolist())


def test_hole_binding_nested_innermost(spark):
    """bind_holes_df picks the innermost CONTAINING hull among nested candidates
    and resolves island-inside-hole configurations without iteration."""
    from ioverlay_spark.operators.distributed_extract import bind_holes_df

    def sq(rid, x0, y0, s):
        return (rid, [x0, x0 + s, x0 + s, x0], [y0, y0, y0 + s, y0 + s], 2 * s * s)

    # hull 1 (big), hull 2 (island inside hull 1's hole), hull 3 (far away)
    hulls = spark.createDataFrame(
        [sq(1, 0, 0, 100), sq(2, 40, 40, 20), sq(3, 1000, 1000, 10)],
        ["ring_id", "pts_x", "pts_y", "area2"],
    )
    holes = spark.createDataFrame(
        [
            # hole of hull 1 (contains hull 2): anchor inside hull 1 only
            (10, 20, 20),
            # hole of the island hull 2: anchor inside both 1 and 2 -> innermost = 2
            (11, 45, 45),
        ],
        ["ring_id", "anchor_x", "anchor_y"],
    )
    got = {
        r["hole_ring_id"]: r["shape_id"] for r in bind_holes_df(hulls, holes).collect()
    }
    assert got == {10: 1, 11: 2}


def test_distributed_extract_no_ring_collect(spark, board, monkeypatch):
    """North-rule scale guard: the distributed extractor must not materialize
    ring/segment data on the driver — only O(1) scalar rows (bounds aggregates)
    may be collected."""
    import pyspark.sql.dataframe as dfmod
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )
    from ioverlay_spark.operators.distributed_extract import extract_shapes_df

    subj, clip, df = board
    fills = compute_fills_df(
        split_segments_df(contours_to_segments_df(spark, df)), FillRule.EVEN_ODD
    ).localCheckpoint(eager=True)

    collected = []
    real_collect = dfmod.DataFrame.collect

    def counting_collect(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(dfmod.DataFrame, "collect", counting_collect)
    out = extract_shapes_df(fills, OverlayRule.XOR)
    pdf = real_collect(out)
    # board-6 XOR: both tilings are contiguous -> one frame hull + one hole
    assert len(pdf) == 2 and any(r["is_hole"] for r in pdf)
    assert sum(collected) <= 4, f"driver materialized {sum(collected)} rows"


def test_fused_extract_matches_salted_path(spark, board, monkeypatch):
    """extract_shapes_df on FILL_SCHEMA rows (filtered and packed to boundary
    blobs inside extract): the fused single-task CC+walk and the broadcast-CC +
    salt-walk plan must both give the kernel's rings, with the same point
    sets and hole binding (XOR board: frame hull + hole)."""
    import ioverlay_spark.operators.distributed_extract as dx
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    subj, clip, df = board
    fills = compute_fills_df(
        split_segments_df(contours_to_segments_df(spark, df)), FillRule.EVEN_ODD
    ).localCheckpoint(eager=True)

    fused = dx.extract_shapes_df(fills, OverlayRule.XOR).toPandas()
    monkeypatch.setattr(dx, "_FUSED_EXTRACT_CAP", 0)
    salted = dx.extract_shapes_df(fills, OverlayRule.XOR).toPandas()
    assert ring_multiset(fused) == ring_multiset(salted)
    assert len(fused) == 2
    exp = kernel_rings(subj, clip, OverlayRule.XOR, FillRule.EVEN_ODD)
    for pdf in (fused, salted):
        assert ring_multiset(pdf) == exp
        assert_holes_bound(pdf)


def lines_net(n: int, a: int = 20):
    """The reference's lines_net scenario (performance/rust_app many_lines_x/y):
    n vertical strips (subject) x n horizontal strips (clip), width a/2 at
    spacing a — INTERSECT is exactly n^2 squares of (a/2)^2."""
    w = a // 2
    s = a * n // 2
    subj, clip = [], []
    x = -s + w // 2
    for _ in range(n):
        subj.append([(x, -s), (x + w, -s), (x + w, s), (x, s)])
        x += a
    y = -s + w // 2
    for _ in range(n):
        clip.append([(-s, y), (s, y), (s, y + w), (-s, y + w)])
        y += a
    return subj, clip


def test_lines_net_intersect_closed_form(spark):
    """Real-crossing workload (nothing cancels at merge): n^2 intersection
    squares; checks the dispatch pair-bound guard + both plans against the
    closed form."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    n, a = 24, 20
    subj, clip = lines_net(n, a)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    expect_area2 = 2 * n * n * (a // 2) * (a // 2)
    for forced in (False, True):
        out = distributed_overlay(
            contours_to_segments_df(spark, df),
            OverlayRule.INTERSECT,
            FillRule.EVEN_ODD,
            force_distributed=forced,
        ).toPandas()
        assert len(out) == n * n, f"forced={forced}: {len(out)} rings"
        assert int(out["area2"].sum()) == expect_area2


def test_lines_net_pair_guard_routes_to_distributed(spark):
    """With a tiny pair threshold the dispatch must refuse the single-task path
    even though the pre-split segment count is small."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    n, a = 16, 20
    subj, clip = lines_net(n, a)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    out = distributed_overlay(
        contours_to_segments_df(spark, df),
        OverlayRule.INTERSECT,
        FillRule.EVEN_ODD,
        pair_threshold=10,  # force the distributed plan via the pair bound
    ).toPandas()
    assert len(out) == n * n
    # distributed extractor ids are component-derived (small path uses 0..k);
    # n^2 separate squares -> n^2 distinct shape ids either way
    assert out["shape_id"].nunique() == n * n


@pytest.mark.parametrize("shift", [0, 1 << 40], ids=["int32", "int64"])
@pytest.mark.parametrize("case", ["board_xor", "lines_net"])
def test_distributed_overlay_matches_kernel(spark, monkeypatch, case, shift):
    """The distributed pipeline (pack -> strip fill -> in-kernel boundary blob
    -> fused extract; the pack stage also runs the terminal apply on
    lines_net at shift 0) against the scalar kernel, at int32 and
    int64 blob words, and through the giant-boundary fallback
    (_FUSED_EXTRACT_CAP=0: blob -> row unpack -> salted plan). Both extract
    paths must give the kernel's rings: hole flags, areas and point sets."""
    import ioverlay_spark.operators.distributed_extract as dx
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    if case == "board_xor":
        (subj, clip), rule = checkerboard(6), OverlayRule.XOR
    else:
        (subj, clip), rule = lines_net(12, 20), OverlayRule.INTERSECT
    subj, clip = shifted(subj, shift), shifted(clip, shift)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    segs = contours_to_segments_df(spark, df)

    def run():
        return distributed_overlay(
            segs, rule, FillRule.EVEN_ODD, force_distributed=True
        ).toPandas()

    fused = run()
    monkeypatch.setattr(dx, "_FUSED_EXTRACT_CAP", 0)
    salted = run()
    exp = kernel_rings(subj, clip, rule, FillRule.EVEN_ODD)
    for pdf in (fused, salted):
        assert ring_multiset(pdf) == exp
        assert_holes_bound(pdf)


@pytest.mark.parametrize(
    "off",
    [
        5_000_000,          # > 2^21: the round-2 packing would silently collide
        (1 << 30) + 4096,   # >= _NODE_CAP: exact dense-id fallback path
    ],
)
def test_distributed_extract_wide_coordinates(spark, off):
    """Node-id guard (VERDICT r02 Wrong #3): distributed extraction must produce
    correct components for coordinate grids beyond 2^21 — widened packing up to
    2^30, exact dense ids beyond."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    subj, clip = checkerboard(3)
    subj = [[(x + off, y + off) for (x, y) in r] for r in subj]
    clip = [[(x + off, y + off) for (x, y) in r] for r in clip]
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    out = distributed_overlay(
        contours_to_segments_df(spark, df),
        OverlayRule.XOR,
        FillRule.EVEN_ODD,
        force_distributed=True,
    ).toPandas()
    got = sorted(int(a) for a in out["area2"].tolist())
    exp = kernel_reference(subj, clip, OverlayRule.XOR, FillRule.EVEN_ODD)
    assert got == exp
    hull_ids = set(out.loc[~out["is_hole"], "ring_id"])
    assert set(out.loc[out["is_hole"], "shape_id"]).issubset(hull_ids)


def test_fused_apply_pack_plan_and_fills(spark):
    """Fill-level check of the lazy-terminal path: the eligible terminal
    round hands its apply to the fill stage (SplitResult.pending), the fill
    plan has no Generate (the apply runs in numpy inside the pack stage), and
    the boundary blobs hold exactly the scalar kernel's boundary fills."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        _checkpoint_segments,
        compute_fills_df,
        contours_to_segments_df,
        merge_segments_df,
        split_segments_df,
    )

    subj, clip = lines_net(48, 20)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    ).localCheckpoint()
    merged, bounds = _checkpoint_segments(
        merge_segments_df(contours_to_segments_df(spark, df))
    )
    split = split_segments_df(merged, bounds=bounds, checkpoint_last=False)
    assert split.pending is not None

    fills = compute_fills_df(split, FillRule.EVEN_ODD, boundary_rule=OverlayRule.INTERSECT)
    plan = fills._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan
    got = fill_rows(fills)
    assert len(got) > 0
    assert got == kernel_fill_rows(subj, clip, FillRule.EVEN_ODD, OverlayRule.INTERSECT)


def snap_case(shift: int = 0):
    """Seeded star polygons whose edges cross at non-integer points: the first
    split round snap-rounds its marks, so the fixpoint runs a second round."""
    rng = np.random.default_rng(11)

    def star(cx, cy):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
        rad = rng.uniform(8, 30, 7)
        pts = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        return [(int(x) + shift, int(y) + shift) for x, y in np.round(pts)]

    subj = [star(30, 30), star(55, 40)]
    clip = [star(40, 50), star(45, 25)]
    return subj, clip


def _segments_df(spark, subj, clip):
    from ioverlay_spark.operators.distributed import contours_to_segments_df

    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    return contours_to_segments_df(spark, df)


@pytest.mark.parametrize(
    "case",
    [
        "no_marks", "empty", "snap_two_rounds", "checkpoint_dir", "wide_2e40",
        "wide_strips_xor", "wide_strips_intersect", "far_hole_2e53",
        "far_hole_2e53_salted", "nested_2e40_salted",
    ],
)
def test_distributed_overlay_edge_cases_match_kernel(spark, monkeypatch, tmp_path, case):
    """Edge cases of the observed checkpoints and the one-exchange mark
    apply, each against the scalar kernel: a split that finds no marks (the
    fixpoint stops on the observed count 0), no segments at all, a
    snap-rounding input that needs a second round (a non-terminal apply and
    its observed bounds; the rounds must grow the snap radius as the kernel
    does), the same through parquet checkpoints (checkpoint_dir) and shifted
    by 2^40, and two thin strips crossing with 2^41 extents (XOR and
    INTERSECT): their segments are past the cell kernel's int64 gate, so
    every candidate pair must reach the python-int solver. Every round ships
    the one mark form, (_sid, px, py, is_round, col_ovl), at every width.
    far_hole_2e53: a 1,024-square minus its centred 512-square shifted by
    2^53, whose hole must bind on the fused extract and, with the fused cap
    at 0, on the salted extract's relational binder. nested_2e40_salted:
    a 2^40-extent hull with a hole holding an island with its own hole, XOR
    on the salted extract, whose binder's below test and innermost pick must
    stay exact at that width."""
    import ioverlay_spark.operators.distributed as dist
    import ioverlay_spark.operators.distributed_extract as dx
    from ioverlay_spark.options import FillRule, OverlayRule

    rounds = []
    real_split_round = dist.split_round

    def counting_split_round(*args, **kwargs):
        marks, loads = real_split_round(*args, **kwargs)
        rounds.append(marks.columns)
        return marks, loads

    monkeypatch.setattr(dist, "split_round", counting_split_round)
    rule, ckpt = OverlayRule.XOR, None
    if case == "no_marks":
        subj = [[(0, 0), (10, 0), (10, 10), (0, 10)]]
        clip = [[(20, 0), (30, 0), (30, 10), (20, 10)]]
    elif case == "empty":
        subj, clip = [], []
    elif case.startswith("wide_strips"):
        S, w = 1 << 40, 1 << 10
        subj = [[(-S, -S), (S, S - w), (S, S), (-S, -S + w)]]
        clip = [[(-S, S - w), (S, -S), (S, -S + w), (-S, S)]]
        if case == "wide_strips_intersect":
            rule = OverlayRule.INTERSECT
    elif case.startswith("far_hole"):
        subj = shifted([[(0, 0), (1024, 0), (1024, 1024), (0, 1024)]], 1 << 53)
        clip = shifted([[(256, 256), (768, 256), (768, 768), (256, 768)]], 1 << 53)
        rule = OverlayRule.DIFFERENCE
        if case.endswith("salted"):
            monkeypatch.setattr(dx, "_FUSED_EXTRACT_CAP", 0)
    elif case == "nested_2e40_salted":
        # nested slope-1 strips inset by k/16 in x and in vertical offset:
        # 2^40 extents whose area2 still fits LONG
        S, T = 1 << 40, 1 << 16

        def strip(k):
            x0, x1, lo, hi = k * S // 16, (16 - k) * S // 16, k * T // 16, (16 - k) * T // 16
            return [(x0, x0 + lo), (x1, x1 + lo), (x1, x1 + hi), (x0, x0 + hi)]

        subj = [strip(0), strip(6)]
        clip = [strip(4), strip(7)]
        monkeypatch.setattr(dx, "_FUSED_EXTRACT_CAP", 0)
    else:
        subj, clip = snap_case(1 << 40 if case == "wide_2e40" else 0)
        if case == "checkpoint_dir":
            ckpt = str(tmp_path)
    if subj:
        segs = _segments_df(spark, subj, clip)
    else:
        segs = spark.createDataFrame(
            [], "ax long, ay long, bx long, by long, subj long, clip long"
        )
    out = dist.distributed_overlay(
        segs, rule, FillRule.EVEN_ODD, checkpoint_dir=ckpt, force_distributed=True
    ).toPandas()
    exp = kernel_rings(subj, clip, rule, FillRule.EVEN_ODD)
    assert ring_multiset(out) == exp
    assert_holes_bound(out)
    if case in ("no_marks", "empty", "nested_2e40_salted") or case.startswith("far_hole"):
        assert len(rounds) == 1
    else:
        assert len(exp) > 0 and len(rounds) >= 2
    assert all(cols == ["_sid", "px", "py", "is_round", "col_ovl"] for cols in rounds), rounds
    if case == "checkpoint_dir":
        assert (tmp_path / "split_r0").is_dir()


def _brute_marks(segs, radius):
    """{(segment, x, y, is_round, col_ovl)} from the python-int cross_pair over
    every bbox-overlapping pair of `segs`, a list of (ax, ay, bx, by) tuples.
    col_ovl is the pair's collinear class below the int64 gate (every x/y
    extent < 2^30) and True past it."""
    from ioverlay_spark.kernel.split import _orient, cross_pair

    wide = max(max(abs(s[2] - s[0]), abs(s[3] - s[1])) for s in segs) >= 1 << 30
    out = set()
    for i, s in enumerate(segs):
        for t in segs[i + 1 :]:
            if max(s[0], t[0]) <= min(s[2], t[2]) and max(
                min(s[1], s[3]), min(t[1], t[3])
            ) <= min(max(s[1], s[3]), max(t[1], t[3])):
                pm, rnd = cross_pair(s, t, radius)
                col = wide or not any(
                    _orient(*u, *p) for u, v in ((s, t), (t, s)) for p in (v[:2], v[2:])
                )
                out |= {((s, t)[w], x, y, rnd, col) for w, x, y in pm}
    return out


def _cell_kernel_marks(segs, radius, rng):
    """_find_marks_kernel's marks over `segs` (rows shuffled) as the
    _brute_marks set, each mark's segment found through its `_sid`."""
    from ioverlay_spark.operators.distributed import _find_marks_kernel

    rows = [segs[i] for i in rng.permutation(len(segs))]
    sids = (np.arange(len(rows)) * 7 + 3).tolist()
    cols = dict(zip(("ax", "ay", "bx", "by"), map(list, zip(*rows))), _sid=sids)
    tbl = pa.table(cols, schema=pa.schema([(c, pa.int64()) for c in cols]))
    out = _find_marks_kernel(tbl, radius=radius).to_pydict()
    seg = [rows[sids.index(i)] for i in out["_sid"]]
    return set(zip(seg, out["px"], out["py"], out["is_round"], out["col_ovl"]))


def test_cell_kernel_matches_brute_force_cross_pair(monkeypatch):
    """The distributed cell kernel (_find_marks_kernel) finds exactly the
    marks of the python-int cross_pair over every bbox-overlapping pair:
    seeded random segments plus collinear chains, T-junctions and a
    duplicated row, at 2^29, 2^33, 2^40 and 2^60, all in the one
    (_sid, px, py) mark form. A small soup translated by 2^40 keeps every
    extent under the int64 gate, so it must give the untranslated marks
    shifted, with no python-int cross_pair call."""
    import ioverlay_spark.kernel.split as sp
    from ioverlay_spark.kernel.segments import Segments, build_segments

    def norm(x0, y0, x1, y1):
        return (x0, y0, x1, y1) if (x0, y0) < (x1, y1) else (x1, y1, x0, y0)

    rng = np.random.default_rng(17)
    for e in (29, 33, 40, 60):
        S = 1 << e
        pts = rng.integers(-S, S, (24, 4)).tolist()
        P = rng.integers(-S // 2, S // 2, 2)
        d = rng.integers(-S // 16, S // 16, 2)
        line = [(P + t * d).tolist() for t in range(9)]
        for _ in range(6):  # collinear chains: overlaps and shared endpoints
            t0, t1 = rng.choice(9, 2, replace=False)
            pts.append(line[t0] + line[t1])
        for _ in range(3):  # T-junctions on the chain's line
            pts.append(rng.integers(-S, S, 2).tolist() + line[int(rng.integers(1, 8))])
        segs = [norm(*map(int, p)) for p in pts if p[:2] != p[2:]]
        segs.append(segs[0])  # the same segment twice in one cell
        for radius in (2, 1 << 24):
            exp = _brute_marks(segs, radius)
            assert len(exp) > 0
            assert _cell_kernel_marks(segs, radius, rng) == exp, (e, radius)

    # every python-int cross_pair call runs split._orient, whichever module
    # bound the name cross_pair
    calls = [0]
    scalar = sp._orient

    def counted(*a):
        calls[0] += 1
        return scalar(*a)

    mk = lambda: rng.integers(-5_000, 5_000, (int(rng.integers(3, 13)), 2))
    soup = Segments.concat(
        [build_segments([mk() for _ in range(4)], b) for b in (True, False)]
    )
    segs = list(zip(soup.ax.tolist(), soup.ay.tolist(), soup.bx.tolist(), soup.by.tolist()))
    t = 1 << 40
    moved = [tuple(v + t for v in s) for s in segs]
    base = _cell_kernel_marks(segs, 2, rng)
    assert base == _brute_marks(segs, 2) and len(base) > 0
    exp = {(tuple(v + t for v in s), x + t, y + t, r, c) for s, x, y, r, c in base}
    monkeypatch.setattr(sp, "_orient", counted)
    assert _cell_kernel_marks(moved, 2, rng) == exp
    assert calls[0] == 0


@pytest.mark.parametrize("shift", [0, 1 << 40], ids=["narrow", "wide"])
def test_apply_marks_df_payload_matches_reference(spark, shift):
    """The one-exchange apply against the scalar walk _apply_marks_ref with a
    string payload column: every sub-segment carries its parent's payload,
    unmarked segments pass through, marks whose `_sid` matches no segment are
    ignored, and a segment whose marks arrive in a different Arrow batch
    (many marks per segment) is still split at all of them; at shift 0 and
    at shift 2^40, in the one (_sid, px, py) mark form."""
    from ioverlay_spark.kernel.segments import Segments
    from ioverlay_spark.kernel.split import _apply_marks_ref
    from ioverlay_spark.operators.distributed import MARKS_SCHEMA, apply_marks_df

    rng = np.random.default_rng(3)
    segs = [(0, 0, 1000, 0), (0, 0, 0, 1000), (0, 0, 600, 900), (5, 900, 905, 0), (7, 7, 9, 9)]
    segs = [tuple(v + shift for v in s) for s in segs]
    counts = [(1, 0), (0, -1), (2, 1), (1, 1), (1, 0)]
    tags = ["a", "bb", "ccc", "dddd", "e"]
    marks = []  # (seg index, x, y)
    for x in rng.integers(1, 1000, 3000).tolist():
        marks.append((0, shift + x, shift))  # a long chain: 3000 marks, repeats
    for y in (10, 500, 500, 999):
        marks.append((1, shift, shift + y))
    for t in (1, 2, 3):
        marks.append((2, shift + 200 * t, shift + 300 * t))
    marks.append((3, shift + 5, shift + 900))  # an endpoint mark only
    rows = [s + c + (tag,) for s, c, tag in zip(segs, counts, tags)]
    cols = ["ax", "ay", "bx", "by", "subj", "clip", "tag"]
    seg_df = spark.createDataFrame(
        [r + (100 + i,) for i, r in enumerate(rows)], cols + ["_sid"]
    )
    # _sid 107 matches no segment
    mrows = [(100 + i, x, y, False, False) for i, x, y in marks + [(7, shift, shift)]]
    mark_df = spark.createDataFrame(mrows, MARKS_SCHEMA)
    out = apply_marks_df(seg_df, mark_df, {"tag": "max(tag)"}, skip_final_merge=True)
    got = sorted(tuple(r) for r in out.collect())

    want = []
    for i, (s, c) in enumerate(zip(segs, counts)):
        one = Segments(*(np.array([v], dtype=np.int64) for v in s + c))
        ref = _apply_marks_ref(one, [(0, x, y) for j, x, y in marks if j == i])
        for r in zip(ref.ax, ref.ay, ref.bx, ref.by, ref.subj, ref.clip):
            want.append(tuple(int(v) for v in r) + (tags[i],))
    assert got == sorted(want)
    assert len(got) > 900
