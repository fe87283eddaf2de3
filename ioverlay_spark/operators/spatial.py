"""DataFrame-native spatial operators over any bigint-id table: deterministic geometry
derivation, cell covers, point-in-polygon join, tile assignment, kNN.

All builders are pure Column expressions (whole-stage codegen) except the
broadcast-grid kNN; joins are cell-key equi-joins (shuffle hash / broadcast by
Catalyst+AQE), never theta joins — the pattern that survives 1000-executor scale
(SURVEY.md §2.7). knn_broadcast_grid joins nothing: one mapInArrow runs over the
points' own partitions against a broadcast center grid. Only an exchange-free
point side with fewer partitions than the context's default parallelism is
round-robin repartitioned to that many first.
"""

from __future__ import annotations

from collections import namedtuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..arrow_np import record_batch, to_np
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


KNN_SCHEMA = "p_id long, r_id long, d2 long, rnk long"

# the automatic grid holds at most this many cells: a level-9 table over the
# whole 2^20 grid
_KNN_MAX_CELLS = 1 << 18
# candidate (point, center) pairs one top-k pass materialises at most
_KNN_CHUNK = 1 << 21

# Centers bucketed by grid cell: cell (gx, gy) of the doubled coordinate x2 is
# gx = (x2 - x0) >> shift; its centers are rows offs[gx*ny+gy]:offs[gx*ny+gy+1]
# of (cid, cx2, cy2); rank is each center's position in r_id order.
KnnGrid = namedtuple("KnnGrid", "x0 y0 shift nx ny offs cid cx2 cy2 rank")


def knn_grid(cid, cx2, cy2, level: int | None = None) -> KnnGrid:
    """Bucket centers (doubled coordinates) into a dense cell grid over their
    bounding box. Cells are 2^(GRID_BITS - level) wide; unset, `level` is the
    finest whose grid has at most two cells per center (at most
    _KNN_MAX_CELLS), so a cell holds one center or two on uniform data."""
    cid, cx2, cy2 = (np.asarray(a, dtype=np.int64) for a in (cid, cx2, cy2))
    x0, y0 = (int(a.min()) if len(a) else 0 for a in (cx2, cy2))
    wx, wy = (int(a.max()) - o if len(a) else 0 for a, o in ((cx2, x0), (cy2, y0)))
    if level is None:
        cap = max(1, min(2 * len(cid), _KNN_MAX_CELLS))
        shift = 0
        while ((wx >> shift) + 1) * ((wy >> shift) + 1) > cap:
            shift += 1
    else:
        shift = GRID_BITS + 1 - level  # doubled coordinates
    nx, ny = (wx >> shift) + 1, (wy >> shift) + 1
    cell = ((cx2 - x0) >> shift) * ny + ((cy2 - y0) >> shift)
    order = np.argsort(cell, kind="stable")
    offs = np.zeros(nx * ny + 1, dtype=np.int64)
    np.cumsum(np.bincount(cell, minlength=nx * ny), out=offs[1:])
    cid = cid[order]
    rank = np.empty(len(cid), dtype=np.int64)
    rank[np.argsort(cid, kind="stable")] = np.arange(len(cid))
    return KnnGrid(x0, y0, shift, nx, ny, offs, cid, cx2[order], cy2[order], rank)


def _ranges(starts, counts):
    """Concatenated aranges starts[i]:starts[i]+counts[i]."""
    ends = np.cumsum(counts)
    return np.arange(ends[-1] if len(ends) else 0) + np.repeat(starts - ends + counts, counts)


def knn_batch(g: KnnGrid, p_id, px, py, k: int):
    """Exact k nearest centers of each point: (p_id, r_id, d2, rnk), d2 the
    squared distance in doubled coordinates, ties broken by r_id.

    Round h gathers the (2h+1)^2 cell block around each unsettled point's cell
    (clamped to the grid, so a point outside it starts at the nearest edge
    cell) and ranks the candidates. Every center outside the block lies more
    than h cells' width away, so a point is settled once it holds k
    candidates with the k-th within that width, or once its block covers the
    grid. h doubles each round; the gather runs in chunks of at most
    _KNN_CHUNK candidates."""
    p_id = np.asarray(p_id, dtype=np.int64)
    px2, py2 = 2 * np.asarray(px, dtype=np.int64), 2 * np.asarray(py, dtype=np.int64)
    gx = np.clip((px2 - g.x0) >> g.shift, 0, g.nx - 1)
    gy = np.clip((py2 - g.y0) >> g.shift, 0, g.ny - 1)
    out = []
    rb = max(len(g.cid) - 1, 0).bit_length()
    todo = np.arange(len(px2))
    h = 1
    while len(todo):
        xl, xh = np.maximum(gx[todo] - h, 0), np.minimum(gx[todo] + h, g.nx - 1)
        yl, yh = np.maximum(gy[todo] - h, 0), np.minimum(gy[todo] + h, g.ny - 1)
        whole = (xh - xl + 1 == g.nx) & (yh - yl + 1 == g.ny)
        # the block's rows of cells are contiguous runs of the sorted centers
        nrow = xh - xl + 1
        rp = np.repeat(np.arange(len(todo)), nrow)
        base = _ranges(xl, nrow) * g.ny
        a, b = g.offs[base + yl[rp]], g.offs[base + yh[rp] + 1]
        cpp = np.bincount(rp, weights=b - a, minlength=len(todo)).astype(np.int64)
        rows = np.r_[0, np.cumsum(nrow)]
        cut = np.searchsorted(np.cumsum(cpp), np.arange(_KNN_CHUNK, int(cpp.sum()), _KNN_CHUNK))
        settled = np.zeros(len(todo), dtype=bool)
        safe2 = min((h << g.shift) ** 2, np.iinfo(np.int64).max)
        for lo, hi in zip(np.r_[0, cut], np.r_[cut, len(todo)]):
            r0, r1 = rows[lo], rows[hi]
            cnt = b[r0:r1] - a[r0:r1]
            pi = np.repeat(rp[r0:r1], cnt)
            ci = _ranges(a[r0:r1], cnt)
            tp = todo[pi]
            d2 = (px2[tp] - g.cx2[ci]) ** 2 + (py2[tp] - g.cy2[ci]) ** 2
            # one argsort of the packed key (point, d2, r_id rank) when it fits
            # in 63 bits, else the three-key lexsort
            rk, db = g.rank[ci], int(d2.max(initial=0)).bit_length()
            if int(hi - lo).bit_length() + db + rb <= 63:
                o = np.argsort(((pi - lo) << (db + rb)) | (d2 << rb) | rk)
            else:
                o = np.lexsort((rk, d2, pi))
            pi, ci, d2 = pi[o], ci[o], d2[o]
            c = cpp[lo:hi]
            first = np.cumsum(c) - c
            pos = np.arange(len(pi)) - np.repeat(first, c)
            kth = np.append(d2, 0)[np.minimum(first + k - 1, len(d2))]
            settled[lo:hi] = whole[lo:hi] | ((c >= k) & (kth <= safe2))
            emit = (pos < k) & settled[pi]
            out.append((p_id[todo[pi[emit]]], g.cid[ci[emit]], d2[emit], pos[emit] + 1))
        todo = todo[~settled]
        h *= 2
    if not out:
        return [np.empty(0, np.int64)] * 4
    return [np.concatenate(col) for col in zip(*out)]


def _knn_kernel(bc, k: int):
    """knn_broadcast_grid's mapInArrow iterator: knn_batch per Arrow batch of
    (p_id, px, py) against the grid `bc.value` (a broadcast KnnGrid)."""

    def kernel(batches):
        from .. import zipcache  # noqa: F401  (package import installs it in the worker)

        g = bc.value
        for batch in batches:
            cols = knn_batch(g, *(to_np(batch.column(i)) for i in range(3)), k)
            yield record_batch(cols, names=["p_id", "r_id", "d2", "rnk"])

    return kernel


def knn_broadcast_grid(
    points: DataFrame,
    centers: DataFrame,
    k: int = 3,
    level: int | None = None,
) -> DataFrame:
    """Exact kNN against a broadcast center grid, for center sets that fit in
    memory: the driver collects the centers (Arrow), buckets them into a cell
    grid sized from their bounding box and count (knn_grid), broadcasts it,
    and one mapInArrow answers each batch of points in numpy (knn_batch).

    The map runs over the points' own partitions, with no join and no
    shuffle. Only a point side with fewer partitions than the context's
    default parallelism (say a one-row-group parquet scan) is first spread by
    one round-robin repartition to that many; a point side whose plan holds
    an exchange keeps the partitions it gives.

    points: (p_id, px, py); centers: (r_id, cx2, cy2) doubled coordinates.
    Returns (p_id, r_id, d2, rnk): each point's k nearest centers (fewer when
    there are fewer centers), d2 in doubled coordinates, ties broken by r_id.
    """
    from ..session import ship_package

    spark = points.sparkSession
    ship_package(spark)
    ctr = centers.select(*(F.col(c).cast("long") for c in ("r_id", "cx2", "cy2"))).toArrow()
    grid = knn_grid(*(to_np(ctr.column(i)) for i in range(3)), level)
    bc = spark.sparkContext.broadcast(grid)

    pts = points.select(*(F.col(c).cast("long") for c in ("p_id", "px", "py")))
    n = spark.sparkContext.defaultParallelism
    # counting the partitions of a plan with an exchange would run its stages
    # now (AQE plans them by running them), so such a side keeps the
    # partitions it gives; other plans count theirs without running a job
    exchange = "Exchange" in pts._jdf.queryExecution().executedPlan().toString()
    if not exchange and pts.rdd.getNumPartitions() < n:
        pts = pts.repartition(n)
    return pts.mapInArrow(_knn_kernel(bc, k), schema=KNN_SCHEMA)


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
