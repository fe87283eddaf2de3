"""Distributed cluster_overlay vs the scalar kernel: exact canonical-ring
agreement on separable scenarios, on mixed giant/island inputs, and under a
forced dense-cell star guard (over-merge must never change results)."""

import numpy as np
import pytest

from ioverlay_spark import scenarios
from ioverlay_spark.kernel import build_graph
from ioverlay_spark.options import FillRule, OverlayRule

from test_cluster import canon, sq


def rows_of(subj, clip):
    rows = [("subject", i, r[:, 0].tolist(), r[:, 1].tolist()) for i, r in enumerate(subj)]
    rows += [
        ("clip", len(subj) + i, r[:, 0].tolist(), r[:, 1].tolist())
        for i, r in enumerate(clip)
    ]
    return rows


def canon_df(collected):
    shapes = {}
    for r in collected:
        shapes.setdefault((r.cluster_id, r.shape_id), []).append(
            (r.ring_id, np.stack([r.pts_x, r.pts_y], axis=1))
        )
    out = []
    for rings in shapes.values():
        out.append([p for _, p in sorted(rings, key=lambda t: t[0])])
    return canon(out)


def run_cluster(spark, subj, clip, rule, **kw):
    from ioverlay_spark.operators.cluster_overlay import cluster_overlay

    df = spark.createDataFrame(rows_of(subj, clip), ["role", "cid", "pts_x", "pts_y"])
    return cluster_overlay(df, rule, FillRule.NON_ZERO, **kw).collect()


@pytest.mark.parametrize(
    "gen,n,rule",
    [
        ("windows", 8, OverlayRule.DIFFERENCE),
        ("wind_mill", 5, OverlayRule.INTERSECT),
        ("not_overlap", 9, OverlayRule.UNION),
    ],
)
def test_cluster_overlay_matches_scalar(spark, gen, n, rule):
    subj, clip = getattr(scenarios, gen)(n)
    got = canon_df(run_cluster(spark, subj, clip, rule))
    exp = canon(build_graph(subj, clip, FillRule.NON_ZERO).extract(rule))
    assert got == exp


def test_cluster_overlay_giant_fallback(spark):
    # islands + one blob over the giant cap: blob goes through the monolithic
    # distributed pipeline (cluster_id == -1), islands through the batch path;
    # the union must equal the scalar kernel on the whole input.
    rng = np.random.default_rng(3)
    subj = [sq(100000 + 7 * i, 100000 + 3 * (i % 50), 20) for i in range(60)]  # blob: one cluster
    clip = []
    for isl in range(40):
        ox = isl * 4000
        subj.append(sq(ox, 0, 100))
        clip.append(sq(ox + 40, 40, 30))
    got = run_cluster(
        spark, subj, clip, OverlayRule.DIFFERENCE, giant_points_cap=100
    )
    assert any(r.cluster_id == -1 for r in got)  # the blob took the giant path
    exp = canon(build_graph(subj, clip, FillRule.NON_ZERO).extract(OverlayRule.DIFFERENCE))
    assert canon_df(got) == exp


def test_cluster_overlay_dense_cell_guard(spark):
    # force the star guard: every cell is "dense", so clusters over-merge —
    # results must be unchanged (over-merge is safe by construction).
    subj, clip = scenarios.windows(6)
    got = canon_df(
        run_cluster(spark, subj, clip, OverlayRule.DIFFERENCE, dense_cell_cap=1)
    )
    exp = canon(build_graph(subj, clip, FillRule.NON_ZERO).extract(OverlayRule.DIFFERENCE))
    assert got == exp


def test_cluster_labels_df_windows(spark):
    from ioverlay_spark.operators.cluster_overlay import cluster_labels_df

    subj, clip = scenarios.windows(8)
    df = spark.createDataFrame(rows_of(subj, clip), ["role", "cid", "pts_x", "pts_y"])
    labels = cluster_labels_df(df).collect()
    by_cluster = {}
    for r in labels:
        by_cluster.setdefault(r.cluster, []).append(r.cid)
    # each frame + its cutout is one 2-contour cluster
    assert len(by_cluster) == 64
    assert all(len(v) == 2 for v in by_cluster.values())


def test_overlay_pairs_matches_scalar_kernel(spark):
    # Spark overlay_pairs (repartition by pair_id + flat mapInArrow batch
    # kernel) vs the scalar kernel run per pair: exact rows, shape/contour
    # numbering and area2 included
    from ioverlay_spark.kernel.extract import extract_shapes
    from ioverlay_spark.operators.overlay_df import overlay_pairs
    from ioverlay_spark.options import DEFAULT_OPTIONS

    rules = [OverlayRule.DIFFERENCE, OverlayRule.XOR]
    subj, clip = scenarios.windows(6)
    rows = []
    jobs: dict = {}
    for role, rings in (("subject", subj), ("clip", clip)):
        for i, r in enumerate(rings):
            rows.append((i % 9, role, r[:, 0].tolist(), r[:, 1].tolist()))
            jobs.setdefault(i % 9, ([], []))[role == "clip"].append(r)
    df = spark.createDataFrame(rows, ["pair_id", "role", "pts_x", "pts_y"])

    got = sorted(
        (r.pair_id, r.rule, r.shape_id, r.contour_idx, tuple(r.pts_x), tuple(r.pts_y), r.area2)
        for r in overlay_pairs(df, rules, FillRule.NON_ZERO).collect()
    )
    exp = []
    for pid, (s_rings, c_rings) in jobs.items():
        g = build_graph(s_rings, c_rings, FillRule.NON_ZERO)
        for rule in rules:
            shapes, areas = extract_shapes(
                g.segments, g.fills, rule, DEFAULT_OPTIONS, with_areas=True
            )
            for sid, (shape, s_areas) in enumerate(zip(shapes, areas)):
                for cid, (ring, a2) in enumerate(zip(shape, s_areas)):
                    exp.append((pid, rule.value, sid, cid, tuple(ring[:, 0].tolist()),
                                tuple(ring[:, 1].tolist()), int(a2)))
    assert got == sorted(exp) and len(got) > 0


def test_floor_div_exact_beyond_double(spark):
    # ADVICE r04: the cell-index floor division must be exact integer math —
    # double division rounds past 2^53 and can shift a bbox's grid cell by one,
    # silently under-merging clusters in the wide-coordinate regime.
    from pyspark.sql import functions as F

    from ioverlay_spark.operators.cluster_overlay import _floor_div

    g = 1 << 16
    vals = [
        (1 << 60) + 1,
        (1 << 60) - 1,
        -((1 << 60) + 1),
        (1 << 53) + 1,
        -((1 << 53) + 3),
        7,
        -7,
        0,
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {r.v: r.fd for r in df.select("v", _floor_div(F.col("v"), g).alias("fd")).collect()}
    assert got == {v: v // g for v in vals}
