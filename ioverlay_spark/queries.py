"""Driver-contract queries and their DuckDB oracles.

Every operator exposed in __spark_entry__.queries() is defined here as a QuerySpec:
a Spark builder (DataFrame API / Spark SQL) plus, where SQL-expressible, a DuckDB
oracle generated from the SAME expression templates (ioverlay_spark.functions.exprgen)
so values match exactly. Geometry inputs derive deterministically from the driver's
`documents` table (seed-free pure bigint arithmetic — no external data).

Scale notes (the point of the exercise): every Spark side is either pure Column
expressions (whole-stage codegen; predicate pushdown reaches the parquet scan) or an
Arrow-batched pandas UDF over a key-partitioned shuffle. No driver-side collects in
the data path; the one metadata count() used to size a modular pairing is O(1) I/O.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.exprgen import cell_expr, cell_xy_exprs, morton_from_cxcy, point_exprs, rect_exprs
from .sources.pages import extract_text, pages_from_documents, url_sql

# ---------------------------------------------------------------------------------
# helpers


def _tbl(dialect: str, sf_dir: str, name: str) -> str:
    if dialect == "spark":
        return f"parquet.`{sf_dir}/{name}.parquet`"
    return name  # driver pre-registers DuckDB views by table name


def _hex_pts(dialect: str) -> dict[str, str]:
    """L-shaped hexagon derived per doc: (x1,y1) (x2,y1) (x2,ym) (xm,ym) (xm,y2) (x1,y2).

    CCW ring with a notch at the top-right — 6 points, mixes horizontal+vertical edges."""
    r = rect_exprs("doc_id", dialect)
    shr = (lambda e, k: f"({e} >> {k})") if dialect == "duckdb" else (
        lambda e, k: f"shiftright({e}, {k})"
    )
    half_w = shr(f"({r['x2']} - {r['x1']})", 1)
    half_h = shr(f"({r['y2']} - {r['y1']})", 1)
    xm = f"({r['x1']} + {half_w})"
    ym = f"({r['y1']} + {half_h})"
    return {**r, "xm": xm, "ym": ym}


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str] = None  # DuckDB SQL or None (rows-only check)


REGISTRY: dict[str, QuerySpec] = {}


def _register(name: str):
    def deco(fn):
        spec = fn()
        REGISTRY[name] = spec
        return fn

    return deco


# ---------------------------------------------------------------------------------
# S1/S2: segment building from contours (posexplode + lead window + normalization)


def _hex_edges_sql(dialect: str, docs: str) -> str:
    """The hexagon's 6 directed edges, a<b normalized with winding +-1 — closed-form
    per-edge (used as the DuckDB oracle; the Spark side builds the same rows through
    the generic posexplode+window operator)."""
    p = _hex_pts(dialect)
    rows = [
        # (ax, ay, bx, by, subj)
        (p["x1"], p["y1"], p["x2"], p["y1"], 1),  # bottom ->
        (p["x2"], p["y1"], p["x2"], p["ym"], 1),  # right up
        (p["xm"], p["ym"], p["x2"], p["ym"], -1),  # notch horizontal (reversed)
        (p["xm"], p["ym"], p["xm"], p["y2"], 1),  # notch vertical up
        (p["x1"], p["y2"], p["xm"], p["y2"], -1),  # top (reversed)
        (p["x1"], p["y1"], p["x1"], p["y2"], -1),  # left (reversed)
    ]
    selects = [
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST({ax} AS BIGINT) AS ax, "
        f"CAST({ay} AS BIGINT) AS ay, CAST({bx} AS BIGINT) AS bx, "
        f"CAST({by} AS BIGINT) AS by, CAST({s} AS INT) AS subj FROM {docs}"
        for ax, ay, bx, by, s in rows
    ]
    return " UNION ALL ".join(selects)


def _hex_contours_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> one hexagon contour per doc as an array<struct<x,y>> column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = _hex_pts("spark")
    pts = ", ".join(
        f"named_struct('x', CAST({x} AS BIGINT), 'y', CAST({y} AS BIGINT))"
        for x, y in [
            (p["x1"], p["y1"]),
            (p["x2"], p["y1"]),
            (p["x2"], p["ym"]),
            (p["xm"], p["ym"]),
            (p["xm"], p["y2"]),
            (p["x1"], p["y2"]),
        ]
    )
    return docs.select("doc_id", F.expr(f"array({pts})").alias("pts"))


@_register("segments_build")
def _q_segments_build():
    """S1+S2: contour rings -> normalized directed segments with winding counts.

    Spark: posexplode(pts) -> lead() window with wraparound -> a<b normalization
    (reference ingest, iOverlay/src/segm/build.rs:35-146). Pure Column ops."""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        contours = _hex_contours_df(spark, sf_dir)
        exploded = contours.select(
            "doc_id", F.posexplode("pts").alias("pos", "p"), F.size("pts").alias("n")
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        with_next = exploded.select(
            "doc_id",
            F.col("p.x").alias("p0x"),
            F.col("p.y").alias("p0y"),
            F.coalesce(F.lead("p.x").over(w), F.first("p.x").over(w)).alias("p1x"),
            F.coalesce(F.lead("p.y").over(w), F.first("p.y").over(w)).alias("p1y"),
        )
        fwd = (F.col("p0x") < F.col("p1x")) | (
            (F.col("p0x") == F.col("p1x")) & (F.col("p0y") < F.col("p1y"))
        )
        return (
            with_next.filter((F.col("p0x") != F.col("p1x")) | (F.col("p0y") != F.col("p1y")))
            .select(
                "doc_id",
                F.when(fwd, F.col("p0x")).otherwise(F.col("p1x")).alias("ax"),
                F.when(fwd, F.col("p0y")).otherwise(F.col("p1y")).alias("ay"),
                F.when(fwd, F.col("p1x")).otherwise(F.col("p0x")).alias("bx"),
                F.when(fwd, F.col("p1y")).otherwise(F.col("p0y")).alias("by"),
                F.when(fwd, F.lit(1)).otherwise(F.lit(-1)).cast("int").alias("subj"),
            )
        )

    return QuerySpec(spark=spark_fn, oracle=_hex_edges_sql("duckdb", "documents"))


@_register("segments_merge")
def _q_segments_merge():
    """A2: coincident-segment merge — groupBy(a,b).sum(winding), zero-count dropped
    (reference iOverlay/src/segm/merge.rs:26-87). Docs with doc_id%3==0 get a
    cancelling duplicate, exercising the drop path."""

    def shared_sql(dialect: str, docs: str) -> str:
        edges = _hex_edges_sql(dialect, docs)
        return f"""
WITH edges AS ({edges}),
doubled AS (
  SELECT * FROM edges
  UNION ALL
  SELECT doc_id, ax, ay, bx, by, CAST(-subj AS INT) AS subj FROM edges WHERE doc_id % 3 = 0
)
SELECT ax, ay, bx, by, CAST(SUM(subj) AS BIGINT) AS subj, CAST(COUNT(*) AS BIGINT) AS n
FROM doubled
GROUP BY ax, ay, bx, by
HAVING SUM(subj) <> 0
"""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


# ---------------------------------------------------------------------------------
# north-rule cell index / covers / tiles


@_register("cell_index")
def _q_cell_index():
    """H3/S2-style hierarchical cell id (Morton quadkey, level 8) for each query point.

    Pure bit-arithmetic Column expressions — generalizes GridLayout::index
    (iOverlay/src/split/grid_layout.rs:17-120)."""

    def shared_sql(dialect: str, docs: str) -> str:
        p = point_exprs("doc_id", dialect)
        cell = cell_expr(p["px"], p["py"], 8, dialect)
        return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST({p["px"]} AS BIGINT) AS px,
       CAST({p["py"]} AS BIGINT) AS py, CAST({cell} AS BIGINT) AS cell8
FROM {docs}
"""

    def spark_fn(spark, sf_dir):
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


def _cover_sql(dialect: str, docs: str, level: int) -> str:
    r = rect_exprs("doc_id", dialect)
    cx1, cy1 = cell_xy_exprs(r["x1"], r["y1"], level, dialect)
    # inclusive upper cell: the rect is half-open, so cover (x2-1, y2-1)
    cx2, cy2 = cell_xy_exprs(f"({r['x2']} - 1)", f"({r['y2']} - 1)", level, dialect)
    morton = morton_from_cxcy("cx", "cy", level, dialect)
    base = (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, {cx1} AS cx1, {cx2} AS cx2, "
        f"{cy1} AS cy1, {cy2} AS cy2 FROM {docs}"
    )
    if dialect == "spark":
        return f"""
WITH r AS ({base})
SELECT doc_id, CAST({morton} AS BIGINT) AS cell
FROM r
LATERAL VIEW explode(sequence(cx1, cx2)) AS cx
LATERAL VIEW explode(sequence(cy1, cy2)) AS cy
"""
    return f"""
WITH r AS ({base})
SELECT doc_id, CAST({morton} AS BIGINT) AS cell
FROM r, LATERAL (SELECT unnest(generate_series(r.cx1, r.cx2)) AS cx) u,
        LATERAL (SELECT unnest(generate_series(r.cy1, r.cy2)) AS cy) v
"""


@_register("cell_cover")
def _q_cell_cover():
    """Cells covered by each rectangle payload at level 6 (bbox -> cell-range explode);
    the candidate-generation primitive of the distributed split (SURVEY.md A6)."""

    def spark_fn(spark, sf_dir):
        return spark.sql(_cover_sql("spark", _tbl("spark", sf_dir, "documents"), 6))

    return QuerySpec(spark=spark_fn, oracle=_cover_sql("duckdb", "documents", 6))


@_register("tile_assign")
def _q_tile_assign():
    """Tile materialization stats: rect payloads assigned to level-5 tiles, per-tile
    counts (north-rule tiling surface)."""

    def shared_sql(dialect: str, docs: str) -> str:
        cover = _cover_sql(dialect, docs, 5)
        return f"""
WITH cover AS ({cover})
SELECT cell AS tile, CAST(COUNT(*) AS BIGINT) AS n_rects,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM cover GROUP BY cell
"""

    def spark_fn(spark, sf_dir):
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


# ---------------------------------------------------------------------------------
# spatial joins


@_register("pip_join")
def _q_pip_join():
    """Point-in-polygon join (points x rect payloads) — Spark side goes through the
    scale path: cell-cover equi-join candidates at level 6, then exact verify, then
    dedup; oracle is the direct theta join. Identical result sets."""

    def spark_fn(spark, sf_dir):
        docs = _tbl("spark", sf_dir, "documents")
        p = point_exprs("doc_id", "spark")
        pcell = cell_expr(p["px"], p["py"], 6, "spark")
        pts_sql = f"""
SELECT CAST(doc_id AS BIGINT) AS p_id, CAST({p["px"]} AS BIGINT) AS px,
       CAST({p["py"]} AS BIGINT) AS py, CAST({pcell} AS BIGINT) AS cell
FROM {docs}
"""
        cover = _cover_sql("spark", docs, 6)
        r = rect_exprs("doc_id", "spark")
        rects_sql = f"""
SELECT CAST(doc_id AS BIGINT) AS r_id, {r["x1"]} AS x1, {r["y1"]} AS y1,
       {r["x2"]} AS x2, {r["y2"]} AS y2 FROM {docs}
"""
        return spark.sql(
            f"""
WITH pts AS ({pts_sql}), cover AS ({cover}), rects AS ({rects_sql})
SELECT DISTINCT p.p_id, r.r_id
FROM pts p
JOIN cover c ON p.cell = c.cell
JOIN rects r ON r.r_id = c.doc_id
WHERE p.px >= r.x1 AND p.px < r.x2 AND p.py >= r.y1 AND p.py < r.y2
"""
        )

    p = point_exprs("doc_id", "duckdb")
    r = rect_exprs("doc_id", "duckdb")
    oracle = f"""
WITH pts AS (SELECT CAST(doc_id AS BIGINT) AS p_id, {p["px"]} AS px, {p["py"]} AS py FROM documents),
rects AS (SELECT CAST(doc_id AS BIGINT) AS r_id, {r["x1"]} AS x1, {r["y1"]} AS y1,
                 {r["x2"]} AS x2, {r["y2"]} AS y2 FROM documents)
SELECT p.p_id, r.r_id FROM pts p JOIN rects r
ON p.px >= r.x1 AND p.px < r.x2 AND p.py >= r.y1 AND p.py < r.y2
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("knn")
def _q_knn():
    """kNN: 3 nearest rectangle centers per query point (exact squared distance on
    doubled coordinates, deterministic tie-break by id) via window top-k."""

    def shared_sql(dialect: str, docs: str) -> str:
        p = point_exprs("doc_id", dialect)
        r = rect_exprs("doc_id", dialect)
        return f"""
WITH pts AS (SELECT CAST(doc_id AS BIGINT) AS p_id, 2*({p["px"]}) AS px2, 2*({p["py"]}) AS py2 FROM {docs}),
ctr AS (SELECT CAST(doc_id AS BIGINT) AS r_id, ({r["x1"]}+{r["x2"]}) AS cx2, ({r["y1"]}+{r["y2"]}) AS cy2 FROM {docs}),
d AS (
  SELECT p.p_id, c.r_id,
         (p.px2-c.cx2)*(p.px2-c.cx2) + (p.py2-c.cy2)*(p.py2-c.cy2) AS d2
  FROM pts p CROSS JOIN ctr c
)
SELECT p_id, r_id, d2, rnk FROM (
  SELECT p_id, r_id, d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY d2, r_id) AS BIGINT) AS rnk
  FROM d
) t WHERE rnk <= 3
"""

    def spark_fn(spark, sf_dir):
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


# ---------------------------------------------------------------------------------
# ring area (shoelace) — window-function form vs closed form


@_register("ring_area")
def _q_ring_area():
    """Shoelace area2 of each hexagon ring: Spark computes it the generic way
    (posexplode + lead window + sum of cross terms); the oracle is the independent
    closed form 2*(W*H - notch)."""

    def spark_fn(spark, sf_dir):
        contours = _hex_contours_df(spark, sf_dir)
        exploded = contours.select("doc_id", F.posexplode("pts").alias("pos", "p"))
        w = Window.partitionBy("doc_id").orderBy("pos")
        terms = exploded.select(
            "doc_id",
            (
                F.col("p.x") * F.coalesce(F.lead("p.y").over(w), F.first("p.y").over(w))
                - F.coalesce(F.lead("p.x").over(w), F.first("p.x").over(w)) * F.col("p.y")
            ).alias("t"),
        )
        return terms.groupBy("doc_id").agg(F.sum("t").cast("long").alias("area2"))

    p = _hex_pts("duckdb")
    oracle = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(2*(({p["x2"]}-{p["x1"]})*({p["y2"]}-{p["y1"]})
            - ({p["x2"]}-{p["xm"]})*({p["y2"]}-{p["ym"]})) AS BIGINT) AS area2
FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


# ---------------------------------------------------------------------------------
# full-kernel overlay vs closed-form SQL (the correctness bridge for the whole
# split->fill->extract pipeline running distributed)


def _clip_rect_exprs(id_col: str, dialect: str) -> dict[str, str]:
    """Clip rectangle per doc: the subject rect shifted by a doc-dependent offset and
    resized — offsets sweep from always-overlapping to disjoint, so the kernel's empty
    and non-empty result paths are both exercised."""
    r = rect_exprs(id_col, dialect)
    i = f"CAST({id_col} AS BIGINT)"
    sx = f"(123 + (({i} % 5) * 2048))"
    sy = f"(177 + (({i} % 7) * 1024))"
    w2 = f"(200 + (({i} * 41) % 4096))"
    h2 = f"(200 + (({i} * 59) % 4096))"
    x1 = f"({r['x1']} + {sx})"
    y1 = f"({r['y1']} + {sy})"
    return {"x1": x1, "y1": y1, "x2": f"({x1} + {w2})", "y2": f"({y1} + {h2})"}


@_register("overlay_rect_intersect")
def _q_overlay_rect_intersect():
    """Boolean INTERSECT of rect pairs (subject = doc rect, clip = shifted/resized
    copy) run through overlay_pairs (repartition by pair_id, then the flat batch
    kernel in mapInArrow); oracle is the exact closed-form rectangle
    intersection area."""

    def spark_fn(spark, sf_dir):
        from .operators.overlay_df import overlay_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        r = rect_exprs("doc_id", "spark")
        r2 = _clip_rect_exprs("doc_id", "spark")

        def ring(rr):
            return (
                f"array(named_struct('x', CAST({rr['x1']} AS BIGINT), 'y', CAST({rr['y1']} AS BIGINT)),"
                f" named_struct('x', CAST({rr['x2']} AS BIGINT), 'y', CAST({rr['y1']} AS BIGINT)),"
                f" named_struct('x', CAST({rr['x2']} AS BIGINT), 'y', CAST({rr['y2']} AS BIGINT)),"
                f" named_struct('x', CAST({rr['x1']} AS BIGINT), 'y', CAST({rr['y2']} AS BIGINT)))"
            )

        subj = docs.selectExpr(
            "CAST(doc_id AS BIGINT) AS pair_id",
            "'subject' AS role",
            "CAST(0 AS BIGINT) AS shape_id",
            "CAST(0 AS INT) AS contour_idx",
            f"transform({ring(r)}, q -> q.x) AS pts_x",
            f"transform({ring(r)}, q -> q.y) AS pts_y",
        )
        clip = docs.selectExpr(
            "CAST(doc_id AS BIGINT) AS pair_id",
            "'clip' AS role",
            "CAST(0 AS BIGINT) AS shape_id",
            "CAST(0 AS INT) AS contour_idx",
            f"transform({ring(r2)}, q -> q.x) AS pts_x",
            f"transform({ring(r2)}, q -> q.y) AS pts_y",
        )
        shapes = overlay_pairs(subj.unionAll(clip), rules=["intersect"])
        return shapes.groupBy("pair_id").agg(F.sum("area2").cast("long").alias("area2"))

    ra = rect_exprs("a.doc_id", "duckdb")
    rb = _clip_rect_exprs("a.doc_id", "duckdb")
    oracle = f"""
WITH pairs AS (
  SELECT CAST(a.doc_id AS BIGINT) AS pair_id,
         GREATEST(0, LEAST({ra["x2"]}, {rb["x2"]}) - GREATEST({ra["x1"]}, {rb["x1"]})) AS w,
         GREATEST(0, LEAST({ra["y2"]}, {rb["y2"]}) - GREATEST({ra["y1"]}, {rb["y1"]})) AS h
  FROM documents a
)
SELECT pair_id, CAST(2*w*h AS BIGINT) AS area2 FROM pairs WHERE w > 0 AND h > 0
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


# ---------------------------------------------------------------------------------
# webtext layer: pages + text analytics + dedup


def _relate_clip_exprs(id_col: str, dialect: str) -> dict[str, str]:
    """Clip rect for the predicate suite: CASE over doc_id%4 produces all relation
    kinds — 0: generic shifted (overlap/disjoint mix), 1: identical (within),
    2: corner touch (point_intersects), 3: edge touch (touches, shared edge)."""
    r = rect_exprs(id_col, dialect)
    g = _clip_rect_exprs(id_col, dialect)
    i = f"CAST({id_col} AS BIGINT)"
    w2 = f"(200 + (({i} * 41) % 4096))"
    h2 = f"(200 + (({i} * 59) % 4096))"
    k = f"({i} % 4)"

    def pick(c0, c1, c2, c3):
        return (
            f"(CASE WHEN {k} = 0 THEN {c0} WHEN {k} = 1 THEN {c1} "
            f"WHEN {k} = 2 THEN {c2} ELSE {c3} END)"
        )

    x1 = pick(g["x1"], r["x1"], r["x2"], r["x2"])
    y1 = pick(g["y1"], r["y1"], r["y2"], r["y1"])
    x2 = pick(g["x2"], r["x2"], f"({r['x2']} + {w2})", f"({r['x2']} + {w2})")
    y2 = pick(g["y2"], r["y2"], f"({r['y2']} + {h2})", r["y2"])
    return {"x1": x1, "y1": y1, "x2": x2, "y2": y2}


@_register("relate_rects")
def _q_relate_rects():
    """Spatial predicates P1-P7 per pair (intersects/disjoint/interiors/touches/
    point_intersects/within) through the full split+fill kernel; oracle is the exact
    closed-form rectangle relation algebra."""

    def spark_fn(spark, sf_dir):
        from .operators.relate_df import relate_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        r = rect_exprs("doc_id", "spark")
        c = _relate_clip_exprs("doc_id", "spark")

        def ring(rr):
            xs = (
                f"array(CAST({rr['x1']} AS BIGINT), CAST({rr['x2']} AS BIGINT), "
                f"CAST({rr['x2']} AS BIGINT), CAST({rr['x1']} AS BIGINT))"
            )
            ys = (
                f"array(CAST({rr['y1']} AS BIGINT), CAST({rr['y1']} AS BIGINT), "
                f"CAST({rr['y2']} AS BIGINT), CAST({rr['y2']} AS BIGINT))"
            )
            return xs, ys

        sx, sy = ring(r)
        cx, cy = ring(c)

        def geoms(role, xs, ys):
            return docs.selectExpr(
                "CAST(doc_id AS BIGINT) AS pair_id",
                f"'{role}' AS role",
                "CAST(0 AS BIGINT) AS shape_id",
                "CAST(0 AS INT) AS contour_idx",
                f"{xs} AS pts_x",
                f"{ys} AS pts_y",
            )

        return relate_pairs(geoms("subject", sx, sy).unionAll(geoms("clip", cx, cy)))

    r = rect_exprs("doc_id", "duckdb")
    c = _relate_clip_exprs("doc_id", "duckdb")
    oracle = f"""
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS pair_id,
         {r["x1"]} AS ax1, {r["y1"]} AS ay1, {r["x2"]} AS ax2, {r["y2"]} AS ay2,
         {c["x1"]} AS bx1, {c["y1"]} AS by1, {c["x2"]} AS bx2, {c["y2"]} AS by2
  FROM documents
), rel AS (
  SELECT pair_id,
         (ax1 <= bx2 AND bx1 <= ax2 AND ay1 <= by2 AND by1 <= ay2) AS closed_ovl,
         (ax1 < bx2 AND bx1 < ax2 AND ay1 < by2 AND by1 < ay2) AS open_ovl,
         ((ax1 = bx2 OR bx1 = ax2) AND (ay1 = by2 OR by1 = ay2)) AS corner_only,
         (ax1 >= bx1 AND ax2 <= bx2 AND ay1 >= by1 AND ay2 <= by2) AS a_in_b
  FROM p
)
SELECT pair_id,
       closed_ovl AS intersects,
       NOT closed_ovl AS disjoint,
       open_ovl AS interiors_intersect,
       (closed_ovl AND NOT open_ovl) AS touches,
       (closed_ovl AND corner_only) AS point_intersects,
       a_in_b AS within
FROM rel
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


def _bucketed_apply(df, kernel, schema, key="doc_id"):
    n_part = 32
    return (
        df.withColumn("_bucket", F.pmod(F.hash(key), F.lit(8 * n_part)))
        .repartition(n_part, "_bucket")
        .groupBy("_bucket")
        .applyInPandas(kernel, schema=schema)
    )


def _rect_point_df(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = rect_exprs("doc_id", "spark")
    p = point_exprs("doc_id", "spark")
    return docs.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        f"CAST({r['x1']} AS BIGINT) AS x1",
        f"CAST({r['y1']} AS BIGINT) AS y1",
        f"CAST({r['x2']} AS BIGINT) AS x2",
        f"CAST({r['y2']} AS BIGINT) AS y2",
        f"CAST({p['px']} AS BIGINT) AS px",
        f"CAST({p['py']} AS BIGINT) AS py",
    )


@_register("clip_polyline")
def _q_clip_polyline():
    """L1: clip a horizontal polyline (centered on the doc's rect so ~every doc
    produces output, but LONGER than most rects so both ends are clipped) by the
    doc's rect through the string kernel; oracle is the exact interval-clip
    closed form."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.string_ops import clip_paths_batch

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            jobs, cys, ids = [], [], []
            for t in pdf.itertuples():
                body = [
                    np.array(
                        [[t.x1, t.y1], [t.x2, t.y1], [t.x2, t.y2], [t.x1, t.y2]], dtype=np.int64
                    )
                ]
                cx = (int(t.x1) + int(t.x2)) // 2
                cy = (int(t.y1) + int(t.y2)) // 2
                jobs.append((body, np.array([[cx - 4096, cy], [cx + 4096, cy]], dtype=np.int64)))
                cys.append(cy)
                ids.append(int(t.doc_id))
            rows = []
            for d, cy, parts in zip(ids, cys, clip_paths_batch(jobs, boundary_included=True)):
                for part in parts:
                    rows.append((d, int(part[0][0]), int(part[-1][0]), cy))
            return pd.DataFrame(rows, columns=["doc_id", "x_start", "x_end", "py"])

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("x_start", LongType()),
                StructField("x_end", LongType()),
                StructField("py", LongType()),
            ]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    r = rect_exprs("doc_id", "duckdb")
    oracle = f"""
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {r["x1"]} AS x1, {r["y1"]} AS y1, {r["x2"]} AS x2, {r["y2"]} AS y2
  FROM documents
), c AS (
  SELECT doc_id, x1, y1, x2, y2,
         CAST((x1 + x2) // 2 AS BIGINT) AS cx, CAST((y1 + y2) // 2 AS BIGINT) AS cy
  FROM g
)
SELECT doc_id, GREATEST(cx - 4096, x1) AS x_start, LEAST(cx + 4096, x2) AS x_end, cy AS py
FROM c
WHERE cy >= y1 AND cy <= y2 AND GREATEST(cx - 4096, x1) < LEAST(cx + 4096, x2)
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("slice_rect")
def _q_slice_rect():
    """L2: slice each doc's rect by a vertical polyline at x1 + (w>>2) through the
    string kernel face walk; oracle is the two closed-form piece areas."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.extract import ring_area2
        from .kernel.string_ops import slice_batch

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            jobs, ids = [], []
            for t in pdf.itertuples():
                body = [
                    np.array(
                        [[t.x1, t.y1], [t.x2, t.y1], [t.x2, t.y2], [t.x1, t.y2]], dtype=np.int64
                    )
                ]
                xs = t.x1 + ((t.x2 - t.x1) >> 2)
                cut = np.array([[xs, t.y1 - 16], [xs, t.y2 + 16]], dtype=np.int64)
                jobs.append((body, [cut]))
                ids.append(int(t.doc_id))
            rows = []
            for d, shapes in zip(ids, slice_batch(jobs)):
                for shape in shapes:
                    rows.append((d, int(sum(ring_area2(r) for r in shape))))
            return pd.DataFrame(rows, columns=["doc_id", "area2"])

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("area2", LongType())]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    r = rect_exprs("doc_id", "duckdb")
    xs = f"({r['x1']} + (({r['x2']} - {r['x1']}) >> 2))"
    oracle = f"""
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {r["x1"]} AS x1, {r["y1"]} AS y1, {r["x2"]} AS x2, {r["y2"]} AS y2, {xs} AS xs
  FROM documents
)
SELECT doc_id, CAST(2 * (xs - x1) * (y2 - y1) AS BIGINT) AS area2 FROM g
UNION ALL
SELECT doc_id, CAST(2 * (x2 - xs) * (y2 - y1) AS BIGINT) AS area2 FROM g
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("stroke_area")
def _q_stroke_area():
    """M1: butt-cap stroke of a horizontal 8192-long polyline at even width
    64 + (doc_id%64)*2 — exact rectangle; oracle is the closed-form area."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.buffering import LineCap, stroke_batch
        from .kernel.extract import ring_area2

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            ids = pdf["doc_id"].to_numpy(np.int64)
            px = pdf["px"].to_numpy(np.int64)
            py = pdf["py"].to_numpy(np.int64)
            paths = [
                np.array([[x - 4096, y], [x + 4096, y]], dtype=np.int64)
                for x, y in zip(px, py)
            ]
            widths = (64 + (ids % 64) * 2).tolist()
            shapes_per_job = stroke_batch(paths, widths, cap=LineCap.BUTT)
            rows = [
                (int(d), int(sum(ring_area2(r) for s in shapes for r in s)))
                for d, shapes in zip(ids, shapes_per_job)
            ]
            return pd.DataFrame(rows, columns=["doc_id", "area2"])

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("area2", LongType())]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    oracle = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(2 * 8192 * (64 + (CAST(doc_id AS BIGINT) % 64) * 2) AS BIGINT) AS area2
FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("stroke_miter")
def _q_stroke_miter():
    """M1/M3 true miter joins: closed square path per doc stroked with
    LineJoin.MITER — sharp corners make the result exactly the annulus between
    the r-offset and r-inset squares (closed-form oracle: area2 = 16*s*r).
    Batched through stroke_batch (one union pass for the whole bucket)."""

    S = 512  # path square side; 2r <= 126 < S keeps the annulus non-degenerate

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.buffering import LineJoin, stroke_batch
        from .kernel.extract import ring_area2

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            ids = pdf["doc_id"].to_numpy(np.int64)
            x1 = pdf["x1"].to_numpy(np.int64)
            y1 = pdf["y1"].to_numpy(np.int64)
            paths = [
                np.array(
                    [[x, y], [x + S, y], [x + S, y + S], [x, y + S]], dtype=np.int64
                )
                for x, y in zip(x1, y1)
            ]
            widths = (2 * (32 + (ids % 32))).tolist()
            shapes_per_job = stroke_batch(
                paths, widths, join=LineJoin.MITER, is_closed=True
            )
            rows = [
                (int(d), int(sum(ring_area2(r) for s in shapes for r in s)))
                for d, shapes in zip(ids, shapes_per_job)
            ]
            return pd.DataFrame(rows, columns=["doc_id", "area2"])

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("area2", LongType())]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    oracle = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(16 * {S} * (32 + (CAST(doc_id AS BIGINT) % 32)) AS BIGINT) AS area2
FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("rasterize_pixels")
def _q_rasterize_pixels():
    """Raster kernel correctness at the driver gate: pixels filled per doc rect at a
    64-unit pixel grid (pixel filled iff center inside, half-open rect); oracle is
    the closed-form center-count formula."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            # fully vectorized across rows: a single rect's filled-pixel count is
            # the product of its clamped half-open center ranges — exactly
            # rasterize()'s math (differential-tested in tests/test_raster.py)
            x1 = pdf["x1"].to_numpy(np.int64)
            y1 = pdf["y1"].to_numpy(np.int64)
            x2 = pdf["x2"].to_numpy(np.int64)
            y2 = pdf["y2"].to_numpy(np.int64)
            px = 64
            ox = (x1 // px) * px
            oy = (y1 // px) * px
            w = (x2 + px - 1) // px - x1 // px
            h = (y2 + px - 1) // px - y1 // px

            def ceil_div(n_arr, d):
                return -((-n_arr) // d)

            c0 = np.clip(ceil_div(2 * (x1 - ox) - px, 2 * px), 0, w)
            c1 = np.clip(ceil_div(2 * (x2 - ox) - px, 2 * px), 0, w)
            r0 = np.clip(ceil_div(2 * (y1 - oy) - px, 2 * px), 0, h)
            r1 = np.clip(ceil_div(2 * (y2 - oy) - px, 2 * px), 0, h)
            n = np.maximum(c1 - c0, 0) * np.maximum(r1 - r0, 0)
            return pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(np.int64), "n_pixels": n}
            )

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("n_pixels", LongType())]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    r = rect_exprs("doc_id", "duckdb")
    oracle = f"""
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {r["x1"]} AS x1, {r["y1"]} AS y1, {r["x2"]} AS x2, {r["y2"]} AS y2
  FROM documents
)
SELECT doc_id,
       CAST(GREATEST(0, ((x2 - 33) // 64) - ((x1 + 31) // 64) + 1)
          * GREATEST(0, ((y2 - 33) // 64) - ((y1 + 31) // 64) + 1) AS BIGINT) AS n_pixels
FROM g
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("pages_extract")
def _q_pages_extract():
    """pages synthesis + byte-invertible html->text extraction (input_hint invariant):
    url + extracted length; oracle derives both directly from documents."""

    def spark_fn(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = pages_from_documents(docs)
        ext = extract_text(pages)
        return ext.select(
            "url", F.length("extracted_text").cast("long").alias("n_chars")
        )

    oracle = f"""
SELECT {url_sql('duckdb')} AS url, CAST(length(text) AS BIGINT) AS n_chars FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("dedup_exact")
def _q_dedup_exact():
    """Exact dedup: hash-groupBy on md5(text), keeper = min doc_id."""

    def shared_sql(dialect: str, docs: str) -> str:
        cast = "STRING" if dialect == "spark" else "VARCHAR"
        return f"""
SELECT md5(CAST(text AS {cast})) AS h, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(doc_id) AS BIGINT) AS keeper
FROM {docs} GROUP BY md5(CAST(text AS {cast}))
"""

    def spark_fn(spark, sf_dir):
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


@_register("token_stats")
def _q_token_stats():
    """Token counting (whitespace tokenizer, empty-token safe), per document."""

    def spark_fn(spark, sf_dir):
        docs = _tbl("spark", sf_dir, "documents")
        return spark.sql(
            f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM {docs}
"""
        )

    oracle = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(list_filter(str_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("lang_stats")
def _q_lang_stats():
    """Language/quality rollup: per-lang doc counts, char and token sums (exact ints)."""

    def spark_fn(spark, sf_dir):
        docs = _tbl("spark", sf_dir, "documents")
        return spark.sql(
            f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(size(filter(split(text, ' '), x -> x != ''))) AS BIGINT) AS sum_tokens
FROM {docs} GROUP BY lang
"""
        )

    oracle = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(len(list_filter(str_split(text, ' '), x -> x != ''))) AS BIGINT) AS sum_tokens
FROM documents GROUP BY lang
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("doc_fingerprint")
def _q_doc_fingerprint():
    """Document fingerprinting: md5 of the lowered 64-char prefix."""

    def shared_sql(dialect: str, docs: str) -> str:
        cast = "STRING" if dialect == "spark" else "VARCHAR"
        return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(CAST(lower(substr(text, 1, 64)) AS {cast})) AS fp
FROM {docs}
"""

    def spark_fn(spark, sf_dir):
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


def _h60(dialect: str, s_expr: str, seed: int | str = "") -> str:
    """60-bit hash both engines compute identically: first 15 hex digits of
    md5(s || '#' || seed) parsed as an integer (no xxhash64 in the oracle dialect)."""
    salted = f"concat({s_expr}, '#{seed}')" if seed != "" else s_expr
    if dialect == "spark":
        return f"CAST(conv(substr(md5({salted}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({salted}), 1, 15)) AS BIGINT)"


def _minhash_sql(dialect: str, docs: str, n_hashes: int = 16, n_bands: int = 4, cap: int = 16) -> str:
    """MinHash+LSH candidate pairs, one SQL template for both dialects.

    100-TB shape: shingle explode is map-side; the per-doc min-agg is a partial+final
    hash agg; the band self-join shuffles on (band, sig) only. The window COUNT per
    bucket caps quadratic blow-up from huge exact-duplicate classes (skew guard):
    buckets larger than `cap` docs emit a linear STAR (bucket-min anchor -> member)
    instead of all pairs — candidate volume stays O(bucket size) while connectivity
    is preserved for the connected-components stage of dedup_e2e."""
    if dialect == "spark":
        tok = "filter(split(text, ' '), x -> x != '')"
        shingles = (
            "transform(sequence(0, greatest(size(t)-3, 0)), "
            "i -> concat_ws(' ', slice(t, i+1, 3)))"
        )
        unnest = "explode(shingles)"
    else:
        tok = "list_filter(string_split(text, ' '), x -> x <> '')"
        shingles = (
            "list_transform(generate_series(1, greatest(len(t)-2, 1)), "
            "i -> array_to_string(t[i:i+2], ' '))"
        )
        unnest = "unnest(shingles)"
    mins = ", ".join(f"MIN({_h60(dialect, 's', seed)}) AS m{seed}" for seed in range(n_hashes))
    per_band = n_hashes // n_bands
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, concat_ws(':', "
        + ", ".join(f"m{b * per_band + j}" for j in range(per_band))
        + ") AS sig FROM mins"
        for b in range(n_bands)
    )
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {tok} AS t FROM {docs}
), shl AS (
  SELECT doc_id, {shingles} AS shingles FROM toks
), sh AS (
  SELECT doc_id, {unnest} AS s FROM shl
), mins AS (
  SELECT doc_id, {mins} FROM sh GROUP BY doc_id
), bands AS (
{band_rows}
), sized AS (
  SELECT doc_id, band, sig,
         COUNT(*) OVER (PARTITION BY band, sig) AS bsz,
         MIN(doc_id) OVER (PARTITION BY band, sig) AS anchor
  FROM bands
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM sized l JOIN sized r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
WHERE l.bsz <= {cap} OR l.doc_id = l.anchor
"""


@_register("minhash_lsh_pairs")
def _q_minhash_lsh():
    """MinHash+LSH near-dup candidates: 3-token shingles -> 16 md5-based 60-bit
    minhashes -> 4 bands of 4 -> bucket-size-capped band self-join -> distinct
    candidate pairs. Exact DuckDB oracle (same SQL template, both dialects)."""

    def spark_fn(spark, sf_dir):
        return spark.sql(_minhash_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=_minhash_sql("duckdb", "documents"))


def _simhash_sql(dialect: str, docs: str, n_bits: int = 60) -> str:
    """SimHash per document from md5-based 60-bit token hashes (sign-sum of bits,
    exact ints) — one SQL template for both dialects. Linear scan + hash agg; all
    bit math stays engine-side (whole-stage codegen in Spark)."""
    if dialect == "spark":
        tok = "explode(filter(split(text, ' '), x -> x != ''))"
        shr = lambda e, k: f"shiftright({e}, {k})"  # noqa: E731
    else:
        tok = "unnest(list_filter(string_split(text, ' '), x -> x <> ''))"
        shr = lambda e, k: f"({e} >> {k})"  # noqa: E731
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ({shr('h', k)} & 1) = 1 THEN 1 ELSE -1 END) AS b{k}"
        for k in range(n_bits)
    )
    recompose = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for k in range(n_bits)
    )
    return f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {tok} AS t FROM {docs}
), h AS (
  SELECT doc_id, {_h60(dialect, 't')} AS h FROM tok
), s AS (
  SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
)
SELECT doc_id, {recompose} AS simhash FROM s
"""


@_register("simhash")
def _q_simhash():
    """SimHash-60 per document from md5-based token hashes; exact DuckDB oracle
    (same SQL template, both dialects)."""

    def spark_fn(spark, sf_dir):
        return spark.sql(_simhash_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=_simhash_sql("duckdb", "documents"))


@_register("knn_grid")
def _q_knn_grid():
    """kNN via the broadcast-grid map-side operator (the scale plan used by bench);
    same closed-form oracle as the window-based knn query."""

    def spark_fn(spark, sf_dir):
        from .operators.spatial import (
            derive_points,
            derive_rects,
            knn_broadcast_grid,
            rect_centers,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pts = derive_points(docs, "doc_id")
        ctr = rect_centers(derive_rects(docs, "doc_id")).select("r_id", "cx2", "cy2")
        return knn_broadcast_grid(pts, ctr, k=3).select("p_id", "r_id", "d2", "rnk")

    # identical oracle to "knn"
    return QuerySpec(spark=spark_fn, oracle=REGISTRY["knn"].oracle)


@_register("distributed_checkerboard_xor")
def _q_distributed_checkerboard():
    """The distributed huge-overlay pipeline on the reference's checkerboard XOR
    scenario (performance/rust_app/src/test/test_0_checkerboard.rs) at n=12;
    oracle is the closed-form XOR area: clip squares are fully covered by the
    subject tiling, so area = 4c^2 (n^2 - (n-1)^2)."""

    N, CELL = 12, 16

    def spark_fn(spark, sf_dir):
        from .operators.distributed import contours_to_segments_df, distributed_overlay
        from .options import FillRule, OverlayRule

        rows, k = [], 0
        for i in range(N):
            for j in range(N):
                x, y = i * CELL * 2, j * CELL * 2
                rows.append(
                    ("subject", k, [x, x + 2 * CELL, x + 2 * CELL, x], [y, y, y + 2 * CELL, y + 2 * CELL])
                )
                k += 1
        for i in range(N - 1):
            for j in range(N - 1):
                x, y = i * CELL * 2 + CELL, j * CELL * 2 + CELL
                rows.append(
                    ("clip", k, [x, x + 2 * CELL, x + 2 * CELL, x], [y, y, y + 2 * CELL, y + 2 * CELL])
                )
                k += 1
        df = spark.createDataFrame(rows, ["role", "cid", "pts_x", "pts_y"])
        out = distributed_overlay(
            contours_to_segments_df(spark, df),
            OverlayRule.XOR,
            FillRule.EVEN_ODD,
            force_distributed=True,  # evidence the distributed machinery, not the
            # small-path kernel the size dispatch would otherwise pick
        )
        return out.groupBy().agg(
            F.sum("area2").cast("long").alias("total_area2")
        ).selectExpr(f"CAST({N} AS BIGINT) AS n", "total_area2")

    expect = 2 * 4 * CELL * CELL * (N * N - (N - 1) * (N - 1))
    oracle = f"""
SELECT CAST({N} AS BIGINT) AS n, CAST({expect} AS BIGINT) AS total_area2
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("distributed_holes")
def _q_distributed_holes():
    """Distributed extraction WITH hole binding (A13/A14): a KxK grid of
    triple-nested concentric squares — subject = [outer, middle] (even-odd donut),
    clip = [inner], XOR. Each cell yields a donut (hull + bound hole) plus an
    island hull INSIDE the hole, so binding must pick the right hull among
    nested candidates. At K=6 the boundary is far under the fused-extract cap,
    so the one fused task binds in-kernel (kernel.extract.bind_holes; zero
    driver-side ring materialization). Oracle is the closed form."""

    K, S = 6, 64  # grid size, outer square edge; cells spaced 2*S apart

    def spark_fn(spark, sf_dir):
        from .operators.distributed import contours_to_segments_df, distributed_overlay
        from .options import FillRule, OverlayRule

        rows, k = [], 0
        for i in range(K):
            for j in range(K):
                x, y = i * 2 * S, j * 2 * S
                for role, off, e in (
                    ("subject", 0, S),
                    ("subject", S // 4, S // 2),
                    ("clip", 3 * S // 8, S // 4),
                ):
                    rows.append(
                        (
                            role,
                            k,
                            [x + off, x + off + e, x + off + e, x + off],
                            [y + off, y + off, y + off + e, y + off + e],
                        )
                    )
                    k += 1
        df = spark.createDataFrame(rows, ["role", "cid", "pts_x", "pts_y"])
        out = distributed_overlay(
            contours_to_segments_df(spark, df),
            OverlayRule.XOR,
            FillRule.EVEN_ODD,
            force_distributed=True,  # evidence the distributed machinery, not the
            # small-path kernel the size dispatch would otherwise pick
        )
        return out.groupBy().agg(
            F.count_distinct("shape_id").cast("long").alias("n_shapes"),
            F.sum(F.when(F.col("is_hole"), 1).otherwise(0)).cast("long").alias("n_holes"),
            F.sum("area2").cast("long").alias("total_area2"),
        )

    # per cell: donut (outer^2 - middle^2) + island (inner^2); areas doubled
    per_cell = 2 * (S * S - (S // 2) * (S // 2) + (S // 4) * (S // 4))
    oracle = f"""
SELECT CAST({2 * K * K} AS BIGINT) AS n_shapes,
       CAST({K * K} AS BIGINT) AS n_holes,
       CAST({K * K * per_cell} AS BIGINT) AS total_area2
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


def _hex_digit_case(ch_expr: str) -> str:
    cases = " ".join(
        f"WHEN '{c}' THEN {int(c, 16)}" for c in "0123456789abcdef"
    )
    return f"(CASE {ch_expr} {cases} END)"


@_register("media_features")
def _q_media_features():
    """Multimodal binary columns: deterministic media payloads (chained md5 bytes)
    + feature extraction (byte count/sum/2-bit histogram) via mapInPandas over the
    binary column; oracle recomputes the features from the md5 HEX digits in SQL."""

    N_BLOCKS = 4

    def spark_fn(spark, sf_dir):
        from .operators.multimodal import extract_features, synth_media

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        media = synth_media(docs.select("doc_id"), "doc_id", n_blocks=N_BLOCKS)
        feats = extract_features(media)
        return feats.selectExpr(
            "media_id",
            "n_bytes",
            "sum_bytes",
            "hist4[0] AS h0",
            "hist4[1] AS h1",
            "hist4[2] AS h2",
            "hist4[3] AS h3",
        )

    # oracle: parse each md5 hex string into bytes with CASE arithmetic
    hexes = [f"md5(CAST(doc_id AS VARCHAR) || '_{b}')" for b in range(N_BLOCKS)]
    byte_terms = []
    bucket_terms = {0: [], 1: [], 2: [], 3: []}
    for b, h in enumerate(hexes):
        for i in range(16):
            d1 = _hex_digit_case(f"substr({h}, {2 * i + 1}, 1)")
            d2 = _hex_digit_case(f"substr({h}, {2 * i + 2}, 1)")
            byte_terms.append(f"(16 * {d1} + {d2})")
            for k in range(4):
                bucket_terms[k].append(f"(CASE WHEN ({d1} // 4) = {k} THEN 1 ELSE 0 END)")
    sum_expr = " + ".join(byte_terms)
    h_exprs = {k: " + ".join(v) for k, v in bucket_terms.items()}
    oracle = f"""
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST({16 * N_BLOCKS} AS BIGINT) AS n_bytes,
       CAST({sum_expr} AS BIGINT) AS sum_bytes,
       CAST({h_exprs[0]} AS BIGINT) AS h0,
       CAST({h_exprs[1]} AS BIGINT) AS h1,
       CAST({h_exprs[2]} AS BIGINT) AS h2,
       CAST({h_exprs[3]} AS BIGINT) AS h3
FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


def _lsh_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Fixed deterministic +-1 hyperplanes (seeded PRNG, shared by query + oracle)."""
    import random

    rnd = random.Random(42)
    return [[rnd.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]


@_register("embed_ann_lsh")
def _q_embed_ann_lsh():
    """Approximate nearest neighbor over embeddings: random-hyperplane LSH (8 fixed
    deterministic planes) -> bucket self-join -> cosine rank within bucket.
    Deterministic construction, so the DuckDB oracle replays it exactly."""

    def spark_fn(spark, sf_dir):
        planes = _lsh_planes()
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        bucket_terms = []
        for k, plane in enumerate(planes):
            arr = "array(" + ", ".join(f"CAST({v} AS DOUBLE)" for v in plane) + ")"
            dot = (
                f"aggregate(zip_with(embedding, {arr}, (x, p) -> CAST(x AS DOUBLE) * p),"
                f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            bucket_terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << k} ELSE 0 END)")
        bucket = " + ".join(bucket_terms)
        b = emb.selectExpr("vec_id", "embedding", f"CAST({bucket} AS BIGINT) AS bucket")
        nrm = (
            "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * y),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        b = b.selectExpr("vec_id", "embedding", "bucket", f"sqrt({nrm}) AS nrm")
        l, r = b.alias("l"), b.alias("r")
        pairs = (
            l.join(r, "bucket")
            .where(F.expr("l.vec_id != r.vec_id"))
            .selectExpr(
                "l.vec_id AS vec_id",
                "r.vec_id AS neighbor_id",
                "aggregate(zip_with(l.embedding, r.embedding, (x, y) -> CAST(x AS DOUBLE) * y),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v) / (l.nrm * r.nrm) AS cos",
            )
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "neighbor_id")
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 1)
            .select("vec_id", "neighbor_id")
        )

    planes = _lsh_planes()
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(embedding, {arr}) > 0 THEN {1 << k} ELSE 0 END)"
        for k, arr in (
            (k, "[" + ", ".join(str(v) for v in plane) + "]") for k, plane in enumerate(planes)
        )
    )
    oracle = f"""
WITH b AS (
  SELECT vec_id, embedding,
         CAST({bucket_terms} AS BIGINT) AS bucket,
         sqrt(list_dot_product(embedding, embedding)) AS nrm
  FROM embeddings
), pairs AS (
  SELECT l.vec_id AS vec_id, r.vec_id AS neighbor_id,
         list_dot_product(l.embedding, r.embedding) / (l.nrm * r.nrm) AS cos
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id != r.vec_id
)
SELECT vec_id, neighbor_id FROM (
  SELECT vec_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM pairs
) t WHERE rnk <= 1
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("embed_knn")
def _q_embed_knn():
    """Brute-force cosine top-3 over the embeddings table (exact double math via
    aggregate/zip_with; ids-only output for float-order stability)."""

    def spark_fn(spark, sf_dir):
        emb = _tbl("spark", sf_dir, "embeddings")
        return spark.sql(
            f"""
WITH e AS (
  SELECT vec_id, embedding,
         aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) AS nrm
  FROM {emb}
), d AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         aggregate(zip_with(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),
                   CAST(0 AS DOUBLE), (acc, v) -> acc + v) / sqrt(a.nrm * b.nrm) AS cos
  FROM e a CROSS JOIN e b WHERE a.vec_id != b.vec_id
)
SELECT vec_id, neighbor_id, rnk FROM (
  SELECT vec_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
  FROM d
) t WHERE rnk <= 3
"""
        )

    oracle = """
WITH d AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_dot_product(a.embedding, b.embedding) /
         sqrt(list_dot_product(a.embedding, a.embedding) * list_dot_product(b.embedding, b.embedding)) AS cos
  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id != b.vec_id
)
SELECT vec_id, neighbor_id, rnk FROM (
  SELECT vec_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
  FROM d
) t WHERE rnk <= 3
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("cluster_overlay_union")
def _q_cluster_overlay_union():
    """Spatial-cluster decomposition overlay (operators/cluster_overlay.py):
    every document is an island of two overlapping rects 16384 apart from its
    neighbours, so clustering yields exactly one cluster per doc and the UNION
    is one ring of closed-form area (exprgen.island_rect_exprs)."""

    def spark_fn(spark, sf_dir):
        from .functions.exprgen import island_rect_exprs
        from .operators.cluster_overlay import cluster_overlay

        r = island_rect_exprs("doc_id", "spark")

        def ring(x1, y1, x2, y2):
            return (
                f"array({x1}, {x1}, {x2}, {x2}) AS pts_x",
                f"array({y1}, {y2}, {y2}, {y1}) AS pts_y",
            )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ax, ay = ring(r["x1"], r["y1"], r["x2"], r["y2"])
        bx, by = ring(r["bx1"], r["by1"], r["bx2"], r["by2"])
        subj = docs.selectExpr(
            "'subject' AS role", "CAST(doc_id * 2 AS BIGINT) AS cid", ax, ay
        )
        clip = docs.selectExpr(
            "'clip' AS role", "CAST(doc_id * 2 + 1 AS BIGINT) AS cid", bx, by
        )
        out = cluster_overlay(subj.unionAll(clip), "union", "non_zero")
        return (
            out.groupBy("cluster_id")
            .agg(
                F.count("*").cast("long").alias("rings"),
                F.sum("area2").cast("long").alias("area2"),
            )
            .selectExpr(
                "CAST(cluster_id / 2 AS BIGINT) AS doc_id", "rings", "area2"
            )
            .orderBy("doc_id")
        )

    from .functions.exprgen import island_rect_exprs as _ire

    rd = _ire("doc_id", "duckdb")
    oracle = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(1 AS BIGINT) AS rings,
       CAST({rd['union_area2']} AS BIGINT) AS area2
FROM documents ORDER BY doc_id
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("scenario_windows_diff")
def _q_scenario_windows_diff():
    """Scenario-family driver query (VERDICT r04 Next #7): the clustered overlay
    path on a NON-union rule with hole binding. Each document is an island of
    two concentric squares (reference 'windows' scenario shape,
    iOverlay/performance/rust_app/src/test/test_1_windows.rs, one frame per
    island); DIFFERENCE yields exactly one shape = hull + hole with closed-form
    areas (exprgen.island_frame_exprs)."""

    def spark_fn(spark, sf_dir):
        from .functions.exprgen import island_frame_exprs
        from .operators.cluster_overlay import cluster_overlay

        r = island_frame_exprs("doc_id", "spark")

        def ring(x1, y1, x2, y2):
            return (
                f"array({x1}, {x1}, {x2}, {x2}) AS pts_x",
                f"array({y1}, {y2}, {y2}, {y1}) AS pts_y",
            )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ax, ay = ring(r["x1"], r["y1"], r["x2"], r["y2"])
        bx, by = ring(r["ix1"], r["iy1"], r["ix2"], r["iy2"])
        subj = docs.selectExpr(
            "'subject' AS role", "CAST(doc_id * 2 AS BIGINT) AS cid", ax, ay
        )
        clip = docs.selectExpr(
            "'clip' AS role", "CAST(doc_id * 2 + 1 AS BIGINT) AS cid", bx, by
        )
        out = cluster_overlay(subj.unionAll(clip), "difference", "non_zero")
        return (
            out.groupBy("cluster_id")
            .agg(
                F.count("*").cast("long").alias("rings"),
                F.sum("area2").cast("long").alias("area2"),
            )
            .selectExpr(
                "CAST(cluster_id / 2 AS BIGINT) AS doc_id", "rings", "area2"
            )
            .orderBy("doc_id")
        )

    from .functions.exprgen import island_frame_exprs as _ife

    rd = _ife("doc_id", "duckdb")
    oracle = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(2 AS BIGINT) AS rings,
       CAST({rd['diff_area2']} AS BIGINT) AS area2
FROM documents ORDER BY doc_id
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


# extension queries (text analytics, embedding similarity, remaining geometry
# surfaces) register themselves into REGISTRY on import
from . import queries_ext  # noqa: E402,F401  (intentional bottom import)
from . import queries_rel  # noqa: E402,F401  (intentional bottom import)
