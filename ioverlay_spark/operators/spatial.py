"""DataFrame-native spatial operators over any bigint-id table: deterministic geometry
derivation, cell covers, point-in-polygon join, tile assignment, kNN.

All builders are pure Column expressions (whole-stage codegen) except the overlay
kernel; joins are cell-key equi-joins (shuffle hash / broadcast by Catalyst+AQE),
never theta joins — the pattern that survives 1000-executor scale (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exprgen import (
    GRID_BITS,
    cell_expr,
    cell_xy_exprs,
    morton_from_cxcy,
    point_exprs,
    rect_exprs,
)


def derive_points(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) -> (p_id, px, py) deterministic query points."""
    p = point_exprs(id_col, "spark")
    return ids.selectExpr(
        f"CAST({id_col} AS BIGINT) AS p_id",
        f"CAST({p['px']} AS BIGINT) AS px",
        f"CAST({p['py']} AS BIGINT) AS py",
    )


def derive_rects(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) -> (r_id, x1, y1, x2, y2) deterministic rectangle payloads."""
    r = rect_exprs(id_col, "spark")
    return ids.selectExpr(
        f"CAST({id_col} AS BIGINT) AS r_id",
        f"CAST({r['x1']} AS BIGINT) AS x1",
        f"CAST({r['y1']} AS BIGINT) AS y1",
        f"CAST({r['x2']} AS BIGINT) AS x2",
        f"CAST({r['y2']} AS BIGINT) AS y2",
    )


def with_cell(df: DataFrame, x_col: str, y_col: str, level: int, out: str = "cell") -> DataFrame:
    return df.withColumn(out, F.expr(cell_expr(x_col, y_col, level, "spark")).cast("long"))


def rect_cover(rects: DataFrame, level: int) -> DataFrame:
    """(r_id, x1..y2) -> (r_id, cell) exploded cover at `level` (half-open rects)."""
    cx1, cy1 = cell_xy_exprs("x1", "y1", level, "spark")
    cx2, cy2 = cell_xy_exprs("(x2 - 1)", "(y2 - 1)", level, "spark")
    morton = morton_from_cxcy("cx", "cy", level, "spark")
    return (
        rects.withColumn("cx1", F.expr(cx1))
        .withColumn("cx2", F.expr(cx2))
        .withColumn("cy1", F.expr(cy1))
        .withColumn("cy2", F.expr(cy2))
        .withColumn("cx", F.explode(F.expr("sequence(cx1, cx2)")))
        .withColumn("cy", F.explode(F.expr("sequence(cy1, cy2)")))
        .select("r_id", F.expr(morton).cast("long").alias("cell"), "x1", "y1", "x2", "y2")
    )


def pip_join(points: DataFrame, rects: DataFrame, level: int = 6) -> DataFrame:
    """Point-in-rect spatial join via cell-cover candidates + exact verify.

    The shuffle is a cell-key equi-join; skew = hot cells, handled by choosing the
    level so covers stay small (and by salting in the distributed split pipeline).

    Precondition: `p_id` and `r_id` are unique in their inputs. The output then
    has no duplicate (p_id, r_id) rows without a distinct (each point maps to ONE
    cell, each rect covers a cell at most once). Callers with duplicated input
    rows must dedupe on p_id/r_id BEFORE the join (cheaper than deduping the
    joined output)."""
    pts = with_cell(points, "px", "py", level)
    cover = rect_cover(rects, level)
    # no dedup needed: each point has exactly ONE cell and a rect covers any cell
    # at most once, so a (p_id, r_id) candidate can only appear once — skipping
    # the distinct saves a full shuffle of the output
    return (
        pts.join(cover, "cell")
        .where(
            (F.col("px") >= F.col("x1"))
            & (F.col("px") < F.col("x2"))
            & (F.col("py") >= F.col("y1"))
            & (F.col("py") < F.col("y2"))
        )
        .select("p_id", "r_id")
    )


def tile_assign(rects: DataFrame, level: int = 5) -> DataFrame:
    """Per-tile rect counts (tiling surface)."""
    return (
        rect_cover(rects, level)
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_rects"),
            F.min("r_id").cast("long").alias("min_id"),
            F.max("r_id").cast("long").alias("max_id"),
        )
        .withColumnRenamed("cell", "tile")
    )


def rect_centers(rects: DataFrame, level: int = 6) -> DataFrame:
    """(r_id, cx2, cy2, cell) doubled-coordinate centers with their cell at `level`."""
    c = rects.select(
        "r_id",
        (F.col("x1") + F.col("x2")).alias("cx2"),
        (F.col("y1") + F.col("y2")).alias("cy2"),
    )
    shift = GRID_BITS - level
    return c.withColumn(
        "cell",
        F.expr(
            morton_from_cxcy(
                f"(CAST(cx2 AS BIGINT) >> {shift + 1})",
                f"(CAST(cy2 AS BIGINT) >> {shift + 1})",
                level,
                "duckdb",  # plain >> syntax also parses in Spark SQL
            )
        ).cast("long"),
    )


def knn_broadcast_grid(
    points: DataFrame,
    centers: DataFrame,
    k: int = 3,
    level: int | None = None,
) -> DataFrame:
    """Exact kNN with a BROADCAST center grid — the right physical plan when the
    center set fits in memory (here ~MBs): centers are bucketed into a sorted cell
    grid once, broadcast to every executor, and each partition of points answers
    its queries map-side in vectorized numpy (cell-block gather + ring expansion
    for stragglers). NO shuffle at all; scales linearly with point partitions.

    centers: (r_id, cx2, cy2) doubled coordinates. Returns (p_id, r_id, d2, rnk).
    """
    from ..session import ship_package

    ship_package(points.sparkSession)
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    spark = points.sparkSession
    ctr = centers.select("r_id", "cx2", "cy2").toPandas()
    n_centers = len(ctr)
    if level is None:
        level = knn_auto_level(n_centers)
    shift = GRID_BITS - level
    n_axis = 1 << level
    cell_size = 1 << shift

    c_id = ctr["r_id"].to_numpy(np.int64)
    c_x2 = ctr["cx2"].to_numpy(np.int64)
    c_y2 = ctr["cy2"].to_numpy(np.int64)
    c_cell = (c_x2 >> (shift + 1)) * n_axis + (c_y2 >> (shift + 1))
    order = np.argsort(c_cell, kind="stable")
    c_id, c_x2, c_y2, c_cell = c_id[order], c_x2[order], c_y2[order], c_cell[order]
    # CSR offsets over the dense cell space
    starts = np.searchsorted(c_cell, np.arange(n_axis * n_axis, dtype=np.int64), side="left")
    ends = np.searchsorted(c_cell, np.arange(n_axis * n_axis, dtype=np.int64), side="right")
    bc = spark.sparkContext.broadcast((c_id, c_x2, c_y2, starts, ends))

    def kernel(batches):
        from .. import zipcache  # noqa: F401  (package import installs it in the worker)

        cid, cx2, cy2, st, en = bc.value

        def gather_block(pcx, pcy, h):
            """candidate (point_idx, center_idx) pairs for (2h+1)^2 blocks."""
            pi_list, ci_list = [], []
            for dx in range(-h, h + 1):
                qx = pcx + dx
                okx = (qx >= 0) & (qx < n_axis)
                for dy in range(-h, h + 1):
                    qy = pcy + dy
                    ok = okx & (qy >= 0) & (qy < n_axis)
                    cells = np.where(ok, qx * n_axis + qy, 0)
                    s = np.where(ok, st[cells], 0)
                    e = np.where(ok, en[cells], 0)
                    cnt = e - s
                    tot = int(cnt.sum())
                    if tot == 0:
                        continue
                    pi = np.repeat(np.arange(len(pcx)), cnt)
                    # ragged slice gather: for each point, centers s[i]:e[i]
                    ci = np.repeat(s, cnt) + (
                        np.arange(tot) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                    )
                    pi_list.append(pi)
                    ci_list.append(ci)
            if not pi_list:
                return (np.empty(0, np.int64), np.empty(0, np.int64))
            return np.concatenate(pi_list), np.concatenate(ci_list)

        for pdf in batches:
            p_id = pdf["p_id"].to_numpy(np.int64)
            px2 = 2 * pdf["px"].to_numpy(np.int64)
            py2 = 2 * pdf["py"].to_numpy(np.int64)
            pcx = (px2 >> (shift + 1)).astype(np.int64)
            pcy = (py2 >> (shift + 1)).astype(np.int64)
            m = len(p_id)
            out_p, out_r, out_d = [], [], []
            todo = np.arange(m)
            h = 1
            while len(todo) and h < n_axis:
                pi, ci = gather_block(pcx[todo], pcy[todo], h)
                settled_mask = np.zeros(len(todo), dtype=bool)
                if len(pi):
                    d2 = (px2[todo][pi] - cx2[ci]) ** 2 + (py2[todo][pi] - cy2[ci]) ** 2
                    # per-point top-k via lexsort on (point, d2, center id)
                    so = np.lexsort((cid[ci], d2, pi))
                    pi_s, ci_s, d2_s = pi[so], ci[so], d2[so]
                    # rank within point groups
                    grp_start = np.flatnonzero(
                        np.concatenate(([True], pi_s[1:] != pi_s[:-1]))
                    )
                    rank = np.arange(len(pi_s)) - np.repeat(
                        grp_start, np.diff(np.concatenate((grp_start, [len(pi_s)])))
                    )
                    topk = rank < k
                    # settle: count per point >= k and k-th distance <= (h*cell)^2
                    safe2 = (2 * cell_size * h) ** 2
                    cnt_pp = np.bincount(pi_s, minlength=len(todo))
                    kth = np.full(len(todo), np.iinfo(np.int64).max, dtype=np.int64)
                    kth_rows = topk & (
                        rank == np.minimum(cnt_pp[pi_s] - 1, k - 1)
                    )
                    kth[pi_s[kth_rows]] = d2_s[kth_rows]
                    settled_mask = (cnt_pp >= k) & (kth <= safe2)
                    emit = topk & settled_mask[pi_s]
                    out_p.append(p_id[todo][pi_s[emit]])
                    out_r.append(cid[ci_s[emit]])
                    out_d.append(d2_s[emit])
                todo = todo[~settled_mask]
                h *= 2
            if len(todo):
                # brute against all centers for the stragglers
                for t in todo:
                    d2 = (px2[t] - cx2) ** 2 + (py2[t] - cy2) ** 2
                    so = np.lexsort((cid, d2))[: min(k, len(cid))]
                    out_p.append(np.full(len(so), p_id[t], dtype=np.int64))
                    out_r.append(cid[so])
                    out_d.append(d2[so])
            if out_p:
                op = np.concatenate(out_p)
                orr = np.concatenate(out_r)
                od = np.concatenate(out_d)
                so = np.lexsort((orr, od, op))
                op, orr, od = op[so], orr[so], od[so]
                gs = np.flatnonzero(np.concatenate(([True], op[1:] != op[:-1])))
                rnk = (
                    np.arange(len(op))
                    - np.repeat(gs, np.diff(np.concatenate((gs, [len(op)]))))
                    + 1
                )
                yield pd.DataFrame(
                    {"p_id": op, "r_id": orr, "d2": od, "rnk": rnk.astype(np.int64)}
                )
            else:
                yield pd.DataFrame(
                    {
                        "p_id": pd.Series([], dtype="int64"),
                        "r_id": pd.Series([], dtype="int64"),
                        "d2": pd.Series([], dtype="int64"),
                        "rnk": pd.Series([], dtype="int64"),
                    }
                )

    schema = StructType(
        [
            StructField("p_id", LongType()),
            StructField("r_id", LongType()),
            StructField("d2", LongType()),
            StructField("rnk", LongType()),
        ]
    )
    try:
        n_in = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n_in = 64
    return points.repartition(n_in).mapInPandas(kernel, schema=schema)


def knn_auto_level(n_centers: int, target_per_cell: int = 8) -> int:
    """Cell level so that ~target_per_cell centers land per occupied cell.

    Centers span [0, 2^19) per axis (a quarter of the 2^20 grid per axis), so the
    occupied cell count at `level` is (2^level / 2)^2."""
    import math

    level = round(math.log2(max(n_centers, 1) / target_per_cell) / 2) + 1
    return max(3, min(9, level))


def knn_cell_ring(
    points: DataFrame,
    centers: DataFrame,
    k: int = 3,
    level: int = 6,
    block_halfwidths: tuple[int, ...] = (1, 3),
) -> DataFrame:
    """Exact kNN via phased cell-neighborhood expansion (north rule).

    Phase h (for h in block_halfwidths): join each unsettled point against all
    centers in its (2h+1)x(2h+1) cell block (cell-key equi-join after an offset
    explode — never a theta join), window top-k. A point is SETTLED when it holds
    >= k candidates whose k-th distance <= h*cell_size: any unexplored center lies
    at Chebyshev cell distance > h, hence Euclidean distance > h*cell_size.
    Final phase: brute crossJoin for the (rare) stragglers in sparse regions.

    Bounded number of Spark jobs (one per phase), unlike per-ring iteration; each
    phase recomputes its full block so no accumulator state is carried.
    """
    shift = GRID_BITS - level
    cell_size = 1 << shift
    n_axis = 1 << level

    try:
        n_in = 2 * int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n_in = 64
    # spread the point side BEFORE the (map-side) block join: the parquet scan often
    # has only a few input splits, which would cap the join's parallelism
    pts = points.repartition(n_in).select(
        "p_id",
        (2 * F.col("px")).alias("px2"),
        (2 * F.col("py")).alias("py2"),
        F.shiftright(F.col("px").cast("long"), shift).alias("pcx"),
        F.shiftright(F.col("py").cast("long"), shift).alias("pcy"),
    )
    ctr = centers.select(
        "r_id",
        "cx2",
        "cy2",
        F.shiftright(F.col("cx2").cast("long"), shift + 1).alias("ccx"),
        F.shiftright(F.col("cy2").cast("long"), shift + 1).alias("ccy"),
    )
    # centers are the small dimension side: broadcast makes every block join map-side
    # (no shuffle; the exploded point side keeps its own partitioning). At cluster
    # scale with a huge center set, drop the hint and let AQE pick the strategy.
    ctr_b = F.broadcast(ctr)

    d2_expr = (
        (F.col("px2") - F.col("cx2")) * (F.col("px2") - F.col("cx2"))
        + (F.col("py2") - F.col("cy2")) * (F.col("py2") - F.col("cy2"))
    ).alias("d2")
    w = Window.partitionBy("p_id").orderBy("d2", "r_id")
    try:
        n_part = 2 * int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n_part = 64

    remaining = pts
    settled_parts = []
    for h in block_halfwidths:
        offs = [(dx, dy) for dx in range(-h, h + 1) for dy in range(-h, h + 1)]
        off_sql = ", ".join(f"named_struct('dx', {dx}L, 'dy', {dy}L)" for dx, dy in offs)
        block = (
            remaining.withColumn("o", F.explode(F.expr(f"array({off_sql})")))
            .select(
                "p_id", "px2", "py2",
                (F.col("pcx") + F.col("o.dx")).alias("qcx"),
                (F.col("pcy") + F.col("o.dy")).alias("qcy"),
                "pcx", "pcy",
            )
            .where(
                (F.col("qcx") >= 0) & (F.col("qcx") < n_axis)
                & (F.col("qcy") >= 0) & (F.col("qcy") < n_axis)
            )
        )
        cand = block.join(
            ctr_b, (F.col("qcx") == F.col("ccx")) & (F.col("qcy") == F.col("ccy"))
        ).select("p_id", "px2", "py2", "pcx", "pcy", "r_id", d2_expr)
        # explicit repartition: the window's sort input is an exploded candidate set
        # whose pre-explosion byte estimate is tiny — without this, AQE coalesces the
        # window exchange to ~1 task (observed: a 341 s single-task sort at sf0.1)
        topk = (
            cand.repartition(n_part, "p_id")
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .localCheckpoint(eager=True)  # cut iterative lineage (resumability pattern)
        )
        safe2 = (2 * cell_size * h) ** 2  # doubled-coordinate bound
        stats = topk.groupBy("p_id").agg(F.count("*").alias("nc"), F.max("d2").alias("dmax"))
        settled_ids = stats.where((F.col("nc") >= k) & (F.col("dmax") <= F.lit(safe2)))
        settled_parts.append(
            topk.join(settled_ids.select("p_id"), "p_id").select("p_id", "r_id", "d2", "rnk")
        )
        remaining = (
            remaining.join(settled_ids.select("p_id"), "p_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if remaining.isEmpty():
            break

    if not remaining.isEmpty():
        # brute fallback for stragglers (few points x all centers)
        cand = remaining.crossJoin(ctr_b).select("p_id", "px2", "py2", "r_id", d2_expr)
        topk = (
            cand.repartition(n_part, "p_id")
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
        )
        settled_parts.append(topk.select("p_id", "r_id", "d2", "rnk"))

    out = settled_parts[0]
    for part in settled_parts[1:]:
        out = out.unionAll(part)
    return out.select("p_id", "r_id", "d2", F.col("rnk").cast("long").alias("rnk"))
