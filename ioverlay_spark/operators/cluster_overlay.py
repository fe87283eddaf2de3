"""Distributed spatial-cluster overlay: decompose ONE huge boolean overlay into
independent bbox-overlap components and run each through the flagship batched
kernel.

The separability proof lives in kernel/cluster.py (per-component fill equals
global fill; hole binding stays intra-component; integer coordinates make
cross-component split interaction impossible). This operator is the
distributed form of that decomposition, built from the engine's existing
relational patterns:

  contours --map-side--> bboxes + grid-cell cover        (pure Column codegen)
           --cell equi-join + exact overlap filter-->    (the LSH candidate
                                                           pattern, with the
                                                           same hot-bucket star
                                                           guard: over-merge is
                                                           SAFE here)
           --connected_components-->                     (existing CC dispatch:
                                                           one union-find task
                                                           below the threshold,
                                                           alternating stars
                                                           above)
           --repartition(cluster) . mapInArrow-->        (overlay_pairs,
                                                           the flagship batch
                                                           worker on the flat
                                                           Arrow ring layout)

Clusters whose total point count exceeds `giant_points_cap` are routed through
the monolithic distributed_overlay pipeline instead (the split fixpoint /
strip fill / component extraction path) — graceful degradation to the
non-separable plan. At 100 TB the cluster path is the one that scales: no
global split fixpoint, no global fill shuffle — one candidate join over cell
keys, one CC, one hash shuffle by cluster.

Reference analog: the fragmentation insight (iOverlay/src/split/
solver_fragment.rs — per-cell independence) lifted to the whole pipeline.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..options import DEFAULT_OPTIONS, FillRule, OverlayOptions, OverlayRule
from .distributed_extract import connected_components
from .overlay_df import overlay_pairs

# cells holding more than this many contours take the star-guard path (anchor
# edges instead of all-pairs) — over-merging dense regions into one cluster is
# safe, and those regions are headed for the giant path anyway.
DENSE_CELL_CAP = 2048


def _floor_div(col, g):
    # exact floor division for possibly-negative longs: (col - pmod(col, g)) is
    # exactly divisible by g, so integral `div` (truncating) equals floor here.
    # Spark's `/` is double division and rounds for |col| beyond ~2^53, which
    # would mis-bucket wide coordinates (the engine supports >2^30 coords).
    return F.call_function("div", col - F.pmod(col, F.lit(g)), F.lit(g))


def _local_labels_kernel(tbl):
    """One-task clustering: kernel/cluster.cluster_labels, the exact
    bbox-overlap CC over all bboxes. A single-component input is one cluster
    (cluster_labels returns None for it; the caller's giant path handles it).
    Returns one (cid, cluster, cluster_npts) RecordBatch."""
    import numpy as np

    from ..arrow_np import record_batch, to_np
    from ..kernel.cluster import cluster_labels

    cid, minx, miny, maxx, maxy, npts = (
        to_np(tbl.column(c), np.int64, c) for c in ("cid", "minx", "miny", "maxx", "maxy", "npts")
    )
    names = ["cid", "cluster", "cluster_npts"]
    n = len(cid)
    if n == 0:
        return record_batch([cid, cid, npts], names=names)
    labels = cluster_labels(minx, miny, maxx, maxy)
    if labels is None:
        labels = np.zeros(n, dtype=np.int64)
    k = int(labels.max()) + 1
    if k == n:
        # all-singleton labeling (labels are dense first-appearance, so k == n
        # means identity): every contour is its own cluster — skip the ufunc.at
        # group reductions, which cost ~1 s at 2M rings
        return record_batch([cid, cid, npts], names=names)
    min_cid = np.full(k, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(min_cid, labels, cid)
    tot = np.zeros(k, dtype=np.int64)
    np.add.at(tot, labels, npts)
    return record_batch([cid, min_cid[labels], tot[labels]], names=names)


def _bbox_kernel(it):
    """(cid, pts_x, pts_y) batches -> (cid, minx, maxx, miny, maxy, npts):
    per-batch numpy reduceat over the list offsets."""
    import numpy as np

    from .. import zipcache  # noqa: F401  (package import installs it in the worker)
    from ..arrow_np import list_np, record_batch, to_np

    for rb in it:
        if rb.num_rows == 0:
            continue
        out = {"cid": to_np(rb.column("cid"), np.int64, "cid")}
        for axis in ("x", "y"):
            offs, vals = list_np(rb.column(f"pts_{axis}"), f"pts_{axis}")
            starts = offs[:-1]
            out[f"min{axis}"] = np.minimum.reduceat(vals, starts)
            out[f"max{axis}"] = np.maximum.reduceat(vals, starts)
            if axis == "x":
                out["npts"] = np.diff(offs)
        names = ["cid", "minx", "maxx", "miny", "maxy", "npts"]
        yield record_batch([out[k] for k in names], names=names)


def _one_task_labels(it):
    """cluster_labels_df's one-task path: every bbox batch of the single
    partition through _local_labels_kernel."""
    import pyarrow as pa

    batches = list(it)
    if not batches:
        return
    yield _local_labels_kernel(pa.Table.from_batches(batches).combine_chunks())


def cluster_labels_df(
    contours: DataFrame,
    dense_cell_cap: int = DENSE_CELL_CAP,
    local_threshold: int = 4_000_000,
    count_hint: int | None = None,
) -> DataFrame:
    """(role, cid, pts_x, pts_y) -> (cid, cluster, cluster_npts) for every
    contour with >= 3 points; cluster = min cid of the contour's exact
    closed-interval bbox-overlap component (dense grid cells are over-merged
    via star edges, which is safe — see module docstring).

    Strategy dispatch (same philosophy as connected_components): below
    `local_threshold` contours the bboxes (5 longs each) fit one executor task,
    so ONE applyInArrow runs the scalar exact-CC kernel — no candidate join, no
    CC rounds, no label joins. Above it, the relational plan: cell-cover
    candidate join + exact overlap filter + distributed CC.

    Bboxes are computed in the ARROW domain (per-partition numpy reduceat over
    the list offsets) rather than SQL array_min/array_max: the codegen'd
    per-row array fold costs ~8x the whole Arrow pass at 2M contours (measured
    15.9 s vs 2-3 s — the row-oriented array deserialization dominates), and
    the bbox frame is then checkpointed once (6 longs/row) so the dispatch
    probe and the consumer never rescan the geometry."""
    from pyspark.sql.types import LongType, StructField, StructType

    bb_schema = StructType(
        [
            StructField("cid", LongType()),
            StructField("minx", LongType()),
            StructField("maxx", LongType()),
            StructField("miny", LongType()),
            StructField("maxy", LongType()),
            StructField("npts", LongType()),
        ]
    )

    bb = (
        contours.where(F.size("pts_x") >= 3)
        .select("cid", "pts_x", "pts_y")
        .mapInArrow(_bbox_kernel, schema=bb_schema)
        .localCheckpoint(eager=True)
    )
    probe = count_hint if count_hint is not None else bb.limit(local_threshold + 1).count()
    if probe <= local_threshold:
        schema = StructType(
            [
                StructField("cid", LongType()),
                StructField("cluster", LongType()),
                StructField("cluster_npts", LongType()),
            ]
        )

        # coalesce(1) over the checkpointed bbox frame is a NARROW read of the
        # in-memory partitions — no 84 MB shuffle write+read like groupBy(_g)
        return bb.coalesce(1).mapInArrow(_one_task_labels, schema=schema)
    ext = bb.agg(
        F.max(F.col("maxx") - F.col("minx")).alias("w"),
        F.max(F.col("maxy") - F.col("miny")).alias("h"),
    ).first()
    if ext["w"] is None:
        return bb.select(
            "cid", F.col("cid").alias("cluster"), F.col("npts").alias("cluster_npts")
        ).where(F.lit(False))
    g = max(int(ext["w"]), int(ext["h"]), 1)

    cover = bb.select(
        "cid",
        "minx",
        "maxx",
        "miny",
        "maxy",
        F.explode(F.sequence(_floor_div(F.col("minx"), g), _floor_div(F.col("maxx"), g))).alias("cx"),
    ).select(
        "cid",
        "minx",
        "maxx",
        "miny",
        "maxy",
        "cx",
        F.explode(F.sequence(_floor_div(F.col("miny"), g), _floor_div(F.col("maxy"), g))).alias("cy"),
    )

    cells = cover.groupBy("cx", "cy").agg(
        F.count("*").alias("cnt"), F.min("cid").alias("anchor")
    )
    cover = cover.join(cells, ["cx", "cy"])  # AQE picks broadcast when cells is small

    sparse = cover.where(F.col("cnt") <= dense_cell_cap)
    a = sparse.alias("a")
    b = sparse.alias("b")
    pair_edges = (
        a.join(
            b,
            (F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))
            & (F.col("a.cid") < F.col("b.cid")),
        )
        .where(
            (F.col("a.minx") <= F.col("b.maxx"))
            & (F.col("b.minx") <= F.col("a.maxx"))
            & (F.col("a.miny") <= F.col("b.maxy"))
            & (F.col("b.miny") <= F.col("a.maxy"))
        )
        .select(F.col("a.cid").alias("u"), F.col("b.cid").alias("v"))
    )
    star_edges = (
        cover.where((F.col("cnt") > dense_cell_cap) & (F.col("cid") != F.col("anchor")))
        .select(F.col("anchor").alias("u"), F.col("cid").alias("v"))
    )
    # materialize the (tiny: 2 longs/edge) edge set once — the CC dispatch probe
    # and the CC itself would otherwise each re-run the candidate join
    edges = pair_edges.unionAll(star_edges).localCheckpoint(eager=True)
    n_edges = edges.count()
    if n_edges == 0:
        # no exact bbox overlaps anywhere: every contour is its own cluster —
        # skip the CC and both label joins entirely (the dominant shape for
        # disjoint-island geometry at map scale)
        return bb.select(
            "cid", F.col("cid").alias("cluster"), F.col("npts").alias("cluster_npts")
        )
    cc = connected_components(edges, count_hint=n_edges)
    lab = (
        bb.select("cid", "npts")
        .join(cc.withColumnRenamed("node", "cid"), "cid", "left")
        .select("cid", "npts", F.coalesce("component", "cid").alias("cluster"))
    )
    sizes = lab.groupBy("cluster").agg(F.sum("npts").alias("cluster_npts"))
    return lab.join(sizes, "cluster").select("cid", "cluster", "cluster_npts")


def cluster_overlay(
    contours: DataFrame,
    rule: str | OverlayRule,
    fill_rule: str | FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
    giant_points_cap: int = 200_000,
    dense_cell_cap: int = DENSE_CELL_CAP,
) -> DataFrame:
    """One huge boolean overlay over (role, cid, pts_x, pts_y) contour rows,
    decomposed by spatial cluster. Returns
    (cluster_id, shape_id, ring_id, is_hole, pts_x, pts_y, area2); shape ids
    are local to their cluster_id (use the pair as the composite key). Giant
    clusters (total points > giant_points_cap) run through the monolithic
    distributed_overlay pipeline and come back under cluster_id = -1."""
    from ..session import ship_package

    ship_package(contours.sparkSession)
    rule = OverlayRule(rule)
    fill_rule = FillRule(fill_rule)

    src = contours.where(F.size("pts_x") >= 3)
    # src is scanned ~3x (label probe, bbox build, small-cluster join). When the
    # caller's plan is already a materialized scan (LogicalRDD = a checkpoint,
    # createDataFrame, or cached RDD) re-scanning the cheap filter beats paying
    # a second full-geometry materialization; anything with real compute or a
    # join upstream is materialized once here instead.
    plan_str = src._jdf.queryExecution().optimizedPlan().toString()
    if not ("LogicalRDD" in plan_str and "Join" not in plan_str):
        src = src.localCheckpoint(eager=True)
    # labels are 3 longs per contour — checkpoint THEM, never the joined
    # geometry (each consumer below joins once and streams straight into its
    # own shuffle; an eager checkpoint of the join would materialize every
    # ring a second time)
    labels = cluster_labels_df(src, dense_cell_cap=dense_cell_cap).localCheckpoint(
        eager=True
    )
    # all-singleton detection: cluster = min cid of its component, so
    # cluster == cid everywhere iff NO two contours' bboxes overlap. That is
    # the dominant shape at map scale (disjoint islands) and admits the zero-
    # shuffle plan: each contour IS its own job, so the label join AND the
    # co-locating geometry shuffle both vanish — the kernel runs in place on
    # the input partitioning (giants filtered by ring size alone, since a
    # singleton cluster's npts is its contour's npts).
    all_singleton = (
        labels.where(F.col("cluster") != F.col("cid")).limit(1).count() == 0
    )
    if all_singleton:
        smalls = src.where(F.size("pts_x") <= giant_points_cap).select(
            F.col("cid").alias("pair_id"), "role", "pts_x", "pts_y"
        )
        grouped = overlay_pairs(
            smalls, [rule], fill_rule, options, pre_grouped=True
        )
    else:
        # labels are (cid, cluster, npts) longs — broadcasting them keeps the
        # GEOMETRY map-side (no sort-merge shuffle of every ring just to attach
        # a label); gate on the label count so huge label sets fall back to a
        # shuffle join
        n_labels = labels.limit(8_000_001).count()
        small_labels = labels.where(F.col("cluster_npts") <= giant_points_cap).select(
            "cid", "cluster"
        )
        if n_labels <= 8_000_000:
            small_labels = F.broadcast(small_labels)
        smalls = src.join(small_labels, "cid")
        grouped = overlay_pairs(
            smalls.select(
                F.col("cluster").alias("pair_id"), "role", "pts_x", "pts_y"
            ),
            [rule],
            fill_rule,
            options,
        )
    out = grouped.select(
        F.col("pair_id").alias("cluster_id"),
        "shape_id",
        F.col("contour_idx").cast("long").alias("ring_id"),
        (F.col("contour_idx") > 0).alias("is_hole"),
        "pts_x",
        "pts_y",
        "area2",
    )

    giant_ids = labels.where(F.col("cluster_npts") > giant_points_cap).select("cid")
    if giant_ids.limit(1).count() > 0:
        from .distributed import contours_to_segments_df, distributed_overlay

        giants = src.join(giant_ids, "cid").select("role", "cid", "pts_x", "pts_y")
        gout = distributed_overlay(
            contours_to_segments_df(contours.sparkSession, giants),
            rule,
            fill_rule,
            options,
        ).select(
            F.lit(-1).cast("long").alias("cluster_id"),
            "shape_id",
            "ring_id",
            "is_hole",
            "pts_x",
            "pts_y",
            "area2",
        )
        out = out.unionAll(gout)
    return out
