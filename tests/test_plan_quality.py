"""Physical-plan regression tests: the plans we designed for, not just the first
ones that passed (.explain-driven; the 100-TB contract).

Each test asserts a structural property of the executed/analyzed plan:
  - filters reach the parquet scan (PushedFilters) and projections prune columns,
  - small sides broadcast (no SortMergeJoin for the dim join),
  - equi-joins stay equi (no BroadcastNestedLoopJoin / CartesianProduct),
  - the zero-shuffle operators really have no Exchange before the python stage,
  - Column-expression pipelines run inside WholeStageCodegen.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_scan_pushdown(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.where(F.col("lang") == "en").select("doc_id")
    p = plan_str(df)
    assert "PushedFilters" in p and "lang" in p
    # column pruning: text must not be read for a doc_id projection
    assert "ReadSchema" in p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_pip_join_is_equi_join(spark):
    from ioverlay_spark.operators.spatial import derive_points, derive_rects, pip_join

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = pip_join(derive_points(docs, "doc_id"), derive_rects(docs, "doc_id"), level=6)
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_knn_broadcast_grid_has_no_join_or_shuffle(spark):
    from ioverlay_spark.operators.spatial import (
        derive_points,
        derive_rects,
        knn_broadcast_grid,
        rect_centers,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ctr = rect_centers(derive_rects(docs, "doc_id")).select("r_id", "cx2", "cy2")
    n = spark.sparkContext.defaultParallelism

    # the center grid travels as an sc.broadcast inside one Arrow map over the
    # points' own partitions: no join and no exchange
    spread = derive_points(spark.range(0, 4096, 1, n), "id")
    p = plan_str(knn_broadcast_grid(spread, ctr, k=3))
    assert "Join" not in p
    assert "MapInArrow" in p and "MapInPandas" not in p
    assert "Exchange" not in p

    # a one-partition point side is spread by exactly one round-robin exchange
    one = derive_points(spark.range(0, 4096, 1, 1), "id")
    p = plan_str(knn_broadcast_grid(one, ctr, k=3))
    assert "Join" not in p
    assert "MapInArrow" in p and "MapInPandas" not in p
    assert p.count("Exchange") == 1 and p.count(f"RoundRobinPartitioning({n})") == 1

    # a point side that ends in a shuffle keeps its partitions: no exchange is added
    ids = spark.range(0, 4096, 1, 2).selectExpr("id % 1000 AS id").distinct()
    shuffled = derive_points(ids, "id")
    p = plan_str(knn_broadcast_grid(shuffled, ctr, k=3))
    assert p.count("Exchange") == 1 and "RoundRobinPartitioning" not in p


def test_overlay_rows_zero_shuffle(spark):
    from ioverlay_spark.operators.overlay_df import overlay_rows

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = docs.selectExpr(
        "CAST(doc_id AS BIGINT) AS pair_id",
        "array(CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT)) AS subj_x",
        "array(CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)) AS subj_y",
        "array(CAST(2 AS BIGINT), CAST(6 AS BIGINT), CAST(6 AS BIGINT), CAST(2 AS BIGINT)) AS clip_x",
        "array(CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(6 AS BIGINT), CAST(6 AS BIGINT)) AS clip_y",
    )
    df = overlay_rows(rows, rules=["intersect"])
    p = plan_str(df)
    assert "Exchange" not in p, "rowwise overlay must not shuffle"
    assert "MapInArrow" in p or "MapInPandas" in p


def test_overlay_pairs_single_shuffle(spark):
    from ioverlay_spark.operators.overlay_df import overlay_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    geoms = docs.selectExpr(
        "CAST(doc_id AS BIGINT) AS pair_id",
        "'subject' AS role",
        "CAST(0 AS BIGINT) AS shape_id",
        "CAST(0 AS INT) AS contour_idx",
        "array(CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT)) AS pts_x",
        "array(CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)) AS pts_y",
    )
    df = overlay_pairs(geoms, rules=["union"])
    p = plan_str(df)
    assert p.count("Exchange hashpartitioning") == 1, (
        "exactly one hash shuffle (the pair_id repartition) expected:\n" + p
    )
    # a flat mapInArrow over the shuffled partitions: no grouped pandas map,
    # and no sort ahead of it
    assert "MapInArrow" in p, p
    assert "FlatMapGroupsInPandas" not in p and "Sort" not in p, p


def test_cell_index_wholestage_codegen(spark):
    import ioverlay_spark.queries as q

    df = q.REGISTRY["cell_index"].spark(spark, SF)
    p = plan_str(df)
    assert "*(" in p  # the WholeStageCodegen stage marker in executedPlan.toString
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
        "cell index must be pure Column expressions (JVM), not python UDFs"
    )


def test_segments_build_single_window_shuffle(spark):
    import ioverlay_spark.queries as q

    df = q.REGISTRY["segments_build"].spark(spark, SF)
    p = plan_str(df)
    assert "Window" in p
    # one hash shuffle for the window partitionBy; no extra exchanges
    assert p.count("Exchange hashpartitioning") == 1


def test_embed_knn_stays_jvm(spark):
    import ioverlay_spark.queries as q

    df = q.REGISTRY["embed_knn"].spark(spark, SF)
    p = plan_str(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
        "dot products must run as JVM higher-order functions"
    )


def test_dim_join_broadcasts(spark):
    import ioverlay_spark.queries as q

    df = q.REGISTRY["dim_join_rollup"].spark(spark, SF)
    p = plan_str(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_minhash_band_join_is_equi_join(spark):
    """The LSH band self-join must stay a hash equi-join on (band, sig) — no
    nested-loop fallback, no cartesian (would be quadratic at corpus scale)."""
    from ioverlay_spark.queries import REGISTRY

    df = REGISTRY["minhash_lsh_pairs"].spark(spark, SF)
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dedup_e2e_verify_joins_are_equi(spark):
    from ioverlay_spark.queries_ext import _dedup_verified_pairs_sql

    df = spark.sql(_dedup_verified_pairs_sql("spark", f"parquet.`{SF}/documents.parquet`"))
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_hole_binding_band_join_is_equi(spark):
    """bind_holes_df's anchor x segment join must be an equi-join on the x-band
    (shuffle- or broadcast-hash), never a nested loop over segments."""
    from ioverlay_spark.operators.distributed_extract import bind_holes_df

    hulls = spark.createDataFrame(
        [(1, [0, 100, 100, 0], [0, 0, 100, 100], 20000)],
        ["ring_id", "pts_x", "pts_y", "area2"],
    )
    holes = spark.createDataFrame([(10, 50, 50)], ["ring_id", "anchor_x", "anchor_y"])
    df = bind_holes_df(hulls, holes)
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ivf_assign_broadcasts_centroids(spark):
    """The IVF coarse-quantizer join must broadcast the tiny centroid table —
    a sort-merge join would shuffle the full embedding corpus."""
    from ioverlay_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = ivf_assign(emb, ivf_centroids(emb, 8))
    p = plan_str(df)
    assert "BroadcastExchange" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_apply_marks_plan_is_one_arrow_map(spark):
    """Plan tripwire for A8: apply_marks_df is a union + ONE exchange + ONE
    mapInArrow running the numpy apply. No JVM chain machinery may come back:
    no array_sort / zip_with (the per-row chain sort and pairing), no Generate
    (the sub-segment explode) and no Window (a lead()-style pairing). Checked
    for the one (_sid, px, py) mark form at shift 0 and at shift 2^40."""
    from ioverlay_spark.operators.distributed import MARKS_SCHEMA, apply_marks_df

    for t in (0, 1 << 40):
        segs = spark.createDataFrame(
            [(t, t, t + 100, t + 100, 1, 0, 0)],
            ["ax", "ay", "bx", "by", "subj", "clip", "_sid"],
        )
        marks = spark.createDataFrame([(0, t + 50, t + 50, False, False)], MARKS_SCHEMA)
        df = apply_marks_df(segs, marks)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        phys = plan_str(df)
        assert phys.count("MapInArrow") == 1, phys
        for bad in ("Generate", "array_sort", "ArraySort", "zip_with", "ZipWith", "Window"):
            assert bad not in opt and bad not in phys, bad
        assert sorted(map(tuple, df.collect())) == [
            (t, t, t + 50, t + 50, 1, 0),
            (t + 50, t + 50, t + 100, t + 100, 1, 0),
        ]


def test_strip_assignment_has_no_interpreted_filter(spark):
    """Fill-stage plan shape tripwire, for one strip and for several: pack
    mapInArrow -> ONE hash exchange on the blob rows -> fill mapInArrow.
    Exactly two python nodes, no interpreted per-strip HOF (VERDICT r02 Wrong
    #4), no row-explode (Generate) anywhere — the copy per strip happens in
    numpy inside the pack stage."""
    from ioverlay_spark.operators.distributed import compute_fills_df

    segs = spark.createDataFrame(
        [(0, 0, 100, 100, 1, 0), (0, 100, 100, 0, 1, 0)],
        ["ax", "ay", "bx", "by", "subj", "clip"],
    )
    for n_strips in (1, 2):
        phys = plan_str(compute_fills_df(segs, n_strips=n_strips))
        for bad in ("ArrayFilter", "ArrayExists", "filter(", "exists("):
            assert bad not in phys
        assert phys.count("MapInArrow") == 2, phys
        assert phys.count("EvalPython") == 0, phys
        assert "Generate" not in phys, phys
        assert phys.count("Exchange") == 1, phys


def test_cluster_overlay_plan_shape(spark):
    # the smalls pipeline: label attach must be a BROADCAST join (geometry
    # never shuffles to get its label) and the only geometry Exchange is the
    # single hash repartition by cluster feeding the mapInArrow worker
    from ioverlay_spark.operators.cluster_overlay import cluster_overlay
    from ioverlay_spark import scenarios

    subj, clip = scenarios.windows(6)
    rows = [("subject", i, r[:, 0].tolist(), r[:, 1].tolist()) for i, r in enumerate(subj)]
    rows += [
        ("clip", len(subj) + i, r[:, 0].tolist(), r[:, 1].tolist())
        for i, r in enumerate(clip)
    ]
    df = spark.createDataFrame(rows, ["role", "cid", "pts_x", "pts_y"])
    out = cluster_overlay(df, "difference", "non_zero")
    p = plan_str(out)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # exactly one shuffle: hashpartitioning by pair_id into the arrow kernel
    exchanges = [l for l in p.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, exchanges
    assert "pair_id" in exchanges[0]


def test_pending_apply_plan_reads_stored_segment_ids(spark):
    """The split materializes `_sid` in the checkpoints it already runs, so
    the fill plan that runs a pending terminal apply reads the stored ids:
    no monotonically_increasing_id is re-evaluated in a later job."""
    from ioverlay_spark.operators.distributed import compute_fills_df, split_segments_df

    rows = [(0, y, 40, y, 1, 0) for y in range(2, 40, 4)]
    rows += [(x, 0, x, 40, 0, 1) for x in range(1, 40, 4)]
    segs = spark.createDataFrame(rows, ["ax", "ay", "bx", "by", "subj", "clip"])
    split = split_segments_df(segs, checkpoint_last=False)
    assert split.pending is not None
    fills = compute_fills_df(split)
    opt = fills._jdf.queryExecution().optimizedPlan().toString()
    for p in (plan_str(fills), opt):
        assert "monotonically_increasing_id" not in p, p


def test_lines_net_overlay_job_count(spark):
    """Job-count tripwire: one distributed lines_net(48, 20) overlay plus a
    collect runs in 8 Spark jobs: merge checkpoint 2, split 2 (cover shuffle,
    marks checkpoint), pending apply + strip fill 3 (three exchanges) and the
    collect 1, which runs the fused walk. The rings checkpoint that the fused
    walk fed, and its hole-count observe, left when the fused kernel began to
    bind holes itself (it was the 9th job). Before the count, bbox, probe and
    hole checks were observed on those checkpoints, the fills checkpoint
    dropped and the mark apply made one exchange, the same call ran 18. The
    rings must still be the scalar kernel's, so the count cannot be bought
    with a wrong answer."""
    import pandas as pd
    from test_distributed import kernel_rings, lines_net, ring_multiset, rings_to_contours_rows

    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )
    from ioverlay_spark.options import FillRule, OverlayRule

    subj, clip = lines_net(48, 20)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "lines_net_job_count"
    sc.setJobGroup(group, group)
    try:
        rows = distributed_overlay(
            contours_to_segments_df(spark, df),
            OverlayRule.INTERSECT,
            FillRule.EVEN_ODD,
            force_distributed=True,
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    got = ring_multiset(pd.DataFrame([r.asDict() for r in rows]))
    assert got == kernel_rings(subj, clip, OverlayRule.INTERSECT, FillRule.EVEN_ODD)
    assert n_jobs == 8, n_jobs
