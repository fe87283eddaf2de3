"""Extension queries: training-data text analytics, embedding similarity (near-dup,
IVF ANN), and the remaining geometry surfaces (outline offsets, multi-rule overlay,
self-union simplify, raster->vector roundtrip).

Registered into ioverlay_spark.queries.REGISTRY — imported at the bottom of
queries.py so __spark_entry__ sees one registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.exprgen import rect_exprs
from .queries import (
    QuerySpec,
    _bucketed_apply,
    _clip_rect_exprs,
    _rect_point_df,
    _register,
    _tbl,
)

# ---------------------------------------------------------------------------------
# text analytics (documents table)


def _toks(dialect: str) -> str:
    if dialect == "spark":
        return "filter(split(text, ' '), x -> x != '')"
    return "list_filter(str_split(text, ' '), x -> x != '')"


def _tokcnt(words: list[str], dialect: str) -> str:
    cond = " OR ".join(f"x = '{w}'" for w in words)
    if dialect == "spark":
        return f"size(filter(t, x -> {cond}))"
    return f"len(list_filter(t, x -> {cond}))"


@_register("quality_score")
def _q_quality_score():
    """Quality scoring per document: token count, distinct-token count (vocabulary
    richness), stopword count, whitespace count — exact integer features the
    downstream filter thresholds on."""

    def shared_sql(dialect: str, docs: str) -> str:
        size = "size" if dialect == "spark" else "len"
        dis = "array_distinct" if dialect == "spark" else "list_distinct"
        return f"""
WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, {_toks(dialect)} AS t FROM {docs})
SELECT doc_id,
       CAST({size}(t) AS BIGINT) AS n_tokens,
       CAST({size}({dis}(t)) AS BIGINT) AS n_distinct,
       CAST({_tokcnt(["the", "a", "of"], dialect)} AS BIGINT) AS n_stop,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
FROM toks
"""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


_LANG_MARKERS = {
    "en": ["the", "a", "of"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "y"],
    "zh": ["de", "shi", "le"],
}


@_register("lang_id")
def _q_lang_id():
    """Language-ID n-gram heuristic: score each language by marker-token counts,
    predict the argmax (fixed priority order on ties), report agreement with the
    table's lang column. Deterministic; runs entirely JVM-side."""

    langs = list(_LANG_MARKERS)

    def shared_sql(dialect: str, docs: str) -> str:
        scores = ", ".join(
            f"CAST({_tokcnt(ws, dialect)} AS BIGINT) AS s_{lg}"
            for lg, ws in _LANG_MARKERS.items()
        )
        cases = []
        for i, lg in enumerate(langs):
            conds = " AND ".join(f"s_{lg} >= s_{o}" for o in langs[i + 1 :]) or "TRUE"
            prior = " AND ".join(f"s_{lg} > s_{o}" for o in langs[:i]) or "TRUE"
            cases.append(f"WHEN ({conds}) AND ({prior}) THEN '{lg}'")
        pred = f"(CASE {' '.join(cases)} ELSE 'en' END)"
        return f"""
WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, {_toks(dialect)} AS t FROM {docs}),
scored AS (SELECT doc_id, lang, {scores} FROM toks)
SELECT doc_id, {pred} AS pred_lang, ({pred} = lang) AS agree, s_en, s_de, s_fr, s_es, s_zh
FROM scored
"""

    def spark_fn(spark, sf_dir):
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


@_register("ngram_jaccard")
def _q_ngram_jaccard():
    """N-gram Jaccard near-dup: 3-token shingles, adjacent-doc pairing (doc_id,
    doc_id+1), exact intersection/union cardinalities (Jaccard = inter/uni as a
    rational, kept integer for exact parity)."""

    def shared_sql(dialect: str, docs: str) -> str:
        if dialect == "spark":
            shingle = (
                "explode(transform(sequence(1, greatest(size(t) - 2, 1)), "
                "i -> concat_ws(' ', slice(t, i, 3))))"
            )
            sh_cte = f"SELECT doc_id, {shingle} AS s FROM toks"
        else:
            shingle = (
                "unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)), "
                "i -> array_to_string(t[i:i+2], ' ')))"
            )
            sh_cte = f"SELECT doc_id, {shingle} AS s FROM toks"
        return f"""
WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_toks(dialect)} AS t FROM {docs}),
sh AS ({sh_cte}),
ds AS (SELECT DISTINCT doc_id, s FROM sh),
card AS (SELECT doc_id, COUNT(*) AS c FROM ds GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id, COUNT(*) AS i
  FROM ds a JOIN ds b ON b.doc_id = a.doc_id + 1 AND a.s = b.s
  GROUP BY a.doc_id
)
SELECT ca.doc_id AS doc_a, ca.doc_id + 1 AS doc_b,
       CAST(COALESCE(i.i, 0) AS BIGINT) AS inter,
       CAST(ca.c + cb.c - COALESCE(i.i, 0) AS BIGINT) AS uni
FROM card ca
JOIN card cb ON cb.doc_id = ca.doc_id + 1
LEFT JOIN inter i ON i.doc_id = ca.doc_id
"""

    def spark_fn(spark, sf_dir):
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


# ---------------------------------------------------------------------------------
# embedding similarity


@_register("embed_neardup")
def _q_embed_neardup():
    """Embedding-cosine near-duplicate pairs (cos > 0.4), exact brute force as the
    oracle-checkable baseline; LSH (embed_ann_lsh) / IVF (ann_ivf) are the scale
    paths for the same question."""

    def spark_fn(spark, sf_dir):
        from .operators.similarity import neardup_pairs

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return neardup_pairs(emb, threshold=0.4)

    oracle = """
WITH e AS (SELECT vec_id, embedding, list_dot_product(embedding, embedding) AS nrm2 FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding, b.embedding) / sqrt(a.nrm2 * b.nrm2) > 0.4
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("ann_ivf")
def _q_ann_ivf():
    """IVF approximate nearest neighbor: deterministic 8-centroid coarse quantizer,
    broadcast assignment (no shuffle of the big side), within-list top-1 cosine
    search (shuffle on list_id only) — candidate count drops from O(N^2) to
    O(N^2 / n_lists)."""

    N_LISTS = 8

    def spark_fn(spark, sf_dir):
        from .operators.similarity import ivf_assign, ivf_centroids, ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = ivf_centroids(emb, N_LISTS)
        assigned = ivf_assign(emb, centroids)
        return ivf_topk(assigned, k=1).select("vec_id", "list_id", "neighbor_id")

    oracle = f"""
WITH e AS (SELECT vec_id, embedding, list_dot_product(embedding, embedding) AS nrm2 FROM embeddings),
c AS (SELECT vec_id AS centroid_id, embedding AS cvec, list_dot_product(embedding, embedding) AS cnrm2
      FROM embeddings WHERE vec_id < {N_LISTS}),
d AS (SELECT e.vec_id, e.embedding, e.nrm2, c.centroid_id,
             e.nrm2 - 2 * list_dot_product(e.embedding, c.cvec) + c.cnrm2 AS dist2
      FROM e CROSS JOIN c),
asg AS (SELECT vec_id, embedding, nrm2, centroid_id AS list_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, centroid_id) AS rn FROM d
        ) t WHERE rn = 1),
p AS (SELECT l.vec_id, l.list_id, r.vec_id AS neighbor_id,
             list_dot_product(l.embedding, r.embedding) / sqrt(l.nrm2 * r.nrm2) AS cos
      FROM asg l JOIN asg r ON l.list_id = r.list_id AND l.vec_id != r.vec_id)
SELECT vec_id, list_id, neighbor_id FROM (
  SELECT vec_id, list_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM p
) t WHERE rnk <= 1
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


# ---------------------------------------------------------------------------------
# geometry surfaces


@_register("outline_area")
def _q_outline_area():
    """M2 polygon outline: outer dilation and inner erosion of each doc rect at
    offset d = 16 + doc_id%16, bevel join, through the mesh kernel + self-union;
    oracle is the closed-form offset-rectangle areas."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.buffering import LineJoin, outline_batch
        from .kernel.extract import ring_area2

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            ids = pdf["doc_id"].to_numpy(np.int64)
            ds = (16 + (ids % 16)).astype(np.float64)
            rects = [
                [
                    np.array(
                        [[t.x1, t.y1], [t.x2, t.y1], [t.x2, t.y2], [t.x1, t.y2]],
                        dtype=np.int64,
                    )
                ]
                for t in pdf.itertuples()
            ]
            zeros = [0.0] * len(rects)
            outers = outline_batch(rects, ds.tolist(), zeros, join=LineJoin.BEVEL)
            inners = outline_batch(rects, zeros, ds.tolist(), join=LineJoin.BEVEL)
            rows = [
                (
                    int(d),
                    int(sum(ring_area2(r) for s in o for r in s)),
                    int(sum(ring_area2(r) for s in i for r in s)),
                )
                for d, o, i in zip(ids, outers, inners)
            ]
            return pd.DataFrame(rows, columns=["doc_id", "outer_area2", "inner_area2"])

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("outer_area2", LongType()),
                StructField("inner_area2", LongType()),
            ]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    r = rect_exprs("doc_id", "duckdb")
    oracle = f"""
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         ({r["x2"]} - {r["x1"]}) AS w, ({r["y2"]} - {r["y1"]}) AS h,
         (16 + CAST(doc_id AS BIGINT) % 16) AS d
  FROM documents
)
SELECT doc_id,
       CAST(2 * (w * h + 2 * d * (w + h) + 2 * d * d) AS BIGINT) AS outer_area2,
       CAST(2 * (w - 2 * d) * (h - 2 * d) AS BIGINT) AS inner_area2
FROM g
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


def _rect_pair_geoms(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = rect_exprs("doc_id", "spark")
    r2 = _clip_rect_exprs("doc_id", "spark")

    def ring_arrays(rr):
        xs = (
            f"array(CAST({rr['x1']} AS BIGINT), CAST({rr['x2']} AS BIGINT), "
            f"CAST({rr['x2']} AS BIGINT), CAST({rr['x1']} AS BIGINT))"
        )
        ys = (
            f"array(CAST({rr['y1']} AS BIGINT), CAST({rr['y1']} AS BIGINT), "
            f"CAST({rr['y2']} AS BIGINT), CAST({rr['y2']} AS BIGINT))"
        )
        return xs, ys

    sx, sy = ring_arrays(r)
    cx, cy = ring_arrays(r2)

    def geoms(role, shape_id, xs, ys):
        return docs.selectExpr(
            "CAST(doc_id AS BIGINT) AS pair_id",
            f"'{role}' AS role",
            f"CAST({shape_id} AS BIGINT) AS shape_id",
            "CAST(0 AS INT) AS contour_idx",
            f"{xs} AS pts_x",
            f"{ys} AS pts_y",
        )

    return geoms, (sx, sy), (cx, cy)


def _rect_pair_area_cte() -> str:
    ra = rect_exprs("doc_id", "duckdb")
    rb = _clip_rect_exprs("doc_id", "duckdb")
    return f"""
  SELECT CAST(doc_id AS BIGINT) AS pair_id,
         ({ra["x2"]} - {ra["x1"]}) * ({ra["y2"]} - {ra["y1"]}) AS a,
         ({rb["x2"]} - {rb["x1"]}) * ({rb["y2"]} - {rb["y1"]}) AS b,
         GREATEST(0, LEAST({ra["x2"]}, {rb["x2"]}) - GREATEST({ra["x1"]}, {rb["x1"]}))
       * GREATEST(0, LEAST({ra["y2"]}, {rb["y2"]}) - GREATEST({ra["y1"]}, {rb["y1"]})) AS i
  FROM documents
"""


@_register("overlay_rect_multi")
def _q_overlay_rect_multi():
    """A16 multi-rule extraction: union/xor/difference/inverse_difference of each
    rect pair from ONE graph build per pair (overlay_pairs computes split+fill once,
    extracts all four rules); oracle is closed-form rectangle algebra."""

    RULES = ["union", "xor", "difference", "inverse_difference"]

    def spark_fn(spark, sf_dir):
        from .operators.overlay_df import overlay_pairs

        geoms, (sx, sy), (cx, cy) = _rect_pair_geoms(spark, sf_dir)
        both = geoms("subject", 0, sx, sy).unionAll(geoms("clip", 0, cx, cy))
        shapes = overlay_pairs(both, rules=RULES)
        return shapes.groupBy("pair_id", "rule").agg(
            F.sum("area2").cast("long").alias("area2")
        )

    oracle = f"""
WITH p AS ({_rect_pair_area_cte()}),
rules AS (
  SELECT pair_id, 'union' AS rule, 2 * (a + b - i) AS area2 FROM p
  UNION ALL SELECT pair_id, 'xor', 2 * (a + b - 2 * i) FROM p
  UNION ALL SELECT pair_id, 'difference', 2 * (a - i) FROM p
  UNION ALL SELECT pair_id, 'inverse_difference', 2 * (b - i) FROM p
)
SELECT pair_id, rule, CAST(area2 AS BIGINT) AS area2 FROM rules WHERE area2 > 0
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("simplify_union")
def _q_simplify_union():
    """A17 self-union (simplify): both rects ingested as SUBJECT contours, rule
    Subject + NonZero fill resolves the overlap — the reference's recommended
    "union many shapes at once" path; oracle is the closed-form union area."""

    def spark_fn(spark, sf_dir):
        from .operators.overlay_df import overlay_pairs

        geoms, (sx, sy), (cx, cy) = _rect_pair_geoms(spark, sf_dir)
        both = geoms("subject", 0, sx, sy).unionAll(geoms("subject", 1, cx, cy))
        shapes = overlay_pairs(both, rules=["subject"], fill_rule="non_zero")
        return shapes.groupBy("pair_id").agg(F.sum("area2").cast("long").alias("area2"))

    oracle = f"""
WITH p AS ({_rect_pair_area_cte()})
SELECT pair_id, CAST(2 * (a + b - i) AS BIGINT) AS area2 FROM p
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("vectorize_rings")
def _q_vectorize_rings():
    """Raster->vector roundtrip: rasterize each doc rect on the 64-unit pixel grid,
    vectorize the mask back to rectilinear rings (marching-squares family), report
    ring count + exact ring area; oracle is the closed-form pixel-block geometry."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.extract import ring_area2
        from .kernel.raster import rasterize_rects, vectorize

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            rows = []
            for t in pdf.itertuples():
                ox = (int(t.x1) // 64) * 64
                oy = (int(t.y1) // 64) * 64
                w = (int(t.x2) + 63) // 64 - int(t.x1) // 64
                h = (int(t.y2) + 63) // 64 - int(t.y1) // 64
                # vectorized rect rasterization (bit-identical to rasterize());
                # the marching face walk in vectorize() is the per-row work
                mask = rasterize_rects(
                    np.array([[t.x1, t.y1, t.x2, t.y2]], dtype=np.int64),
                    origin=(ox, oy),
                    size_px=(w, h),
                    px=64,
                )
                rings = vectorize(mask, origin=(ox, oy), px=64)
                if rings:
                    rows.append(
                        (
                            int(t.doc_id),
                            len(rings),
                            int(sum(ring_area2(rg) for rg in rings)),
                        )
                    )
            return pd.DataFrame(rows, columns=["doc_id", "n_rings", "area2"])

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("n_rings", LongType()),
                StructField("area2", LongType()),
            ]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    r = rect_exprs("doc_id", "duckdb")
    oracle = f"""
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         GREATEST(0, (({r["x2"]} - 33) // 64) - (({r["x1"]} + 31) // 64) + 1) AS wpx,
         GREATEST(0, (({r["y2"]} - 33) // 64) - (({r["y1"]} + 31) // 64) + 1) AS hpx
  FROM documents
)
SELECT doc_id, CAST(1 AS BIGINT) AS n_rings,
       CAST(wpx * hpx * 8192 AS BIGINT) AS area2
FROM g WHERE wpx > 0 AND hpx > 0
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


# ---------------------------------------------------------------------------------
# A19 edge provenance, A18 decomposition, S7 OGC extraction


@_register("edge_provenance")
def _q_edge_provenance():
    """A19 edge-data overlay: rect-pair INTERSECT with per-edge provenance payload
    (bit 1 = subject, bit 2 = clip, bit_or merge on coincident edges). All pairs are
    translated into disjoint x-tiles (pair_id * 2^21) and run as ONE distributed
    job; output is summed boundary length per (pair, provenance). Oracle: exact
    rectangle-side provenance algebra."""

    OFF = 1 << 21

    def spark_fn(spark, sf_dir):
        from .operators.edge_overlay import edge_overlay_links, included_links
        from .options import OverlayRule

        docs = _tbl("spark", sf_dir, "documents")
        ra = rect_exprs("doc_id", "spark")
        rb = _clip_rect_exprs("doc_id", "spark")
        o = f"(CAST(doc_id AS BIGINT) * {OFF})"

        def edges(rr, subj_cnt, clip_cnt, data):
            x1, y1, x2, y2 = rr["x1"], rr["y1"], rr["x2"], rr["y2"]
            rows = [
                (f"({o} + {x1})", y1, f"({o} + {x2})", y1, 1),   # bottom
                (f"({o} + {x2})", y1, f"({o} + {x2})", y2, 1),   # right
                (f"({o} + {x1})", y2, f"({o} + {x2})", y2, -1),  # top (reversed)
                (f"({o} + {x1})", y1, f"({o} + {x1})", y2, -1),  # left (reversed)
            ]
            return " UNION ALL ".join(
                f"SELECT CAST({ax} AS BIGINT) AS ax, CAST({ay} AS BIGINT) AS ay, "
                f"CAST({bx} AS BIGINT) AS bx, CAST({by} AS BIGINT) AS by, "
                f"CAST({cnt if subj_cnt else 0} AS BIGINT) AS subj, "
                f"CAST({cnt if clip_cnt else 0} AS BIGINT) AS clip, "
                f"CAST({data} AS BIGINT) AS data FROM {docs}"
                for ax, ay, bx, by, cnt in rows
            )

        segs = spark.sql(f"{edges(ra, True, False, 1)} UNION ALL {edges(rb, False, True, 2)}")
        links = edge_overlay_links(segs, extra_aggs={"data": "bit_or(data)"})
        inc = included_links(links, OverlayRule.INTERSECT)
        return (
            inc.selectExpr(
                f"ax DIV {OFF} AS pair_id",
                "data",
                "abs(bx - ax) + abs(by - ay) AS seg_len",
            )
            .groupBy("pair_id", "data")
            .agg(F.sum("seg_len").cast("long").alias("length"))
        )

    ra = rect_exprs("doc_id", "duckdb")
    rb = _clip_rect_exprs("doc_id", "duckdb")
    oracle = f"""
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS pair_id,
         {ra["x1"]} AS ax1, {ra["y1"]} AS ay1, {ra["x2"]} AS ax2, {ra["y2"]} AS ay2,
         {rb["x1"]} AS bx1, {rb["y1"]} AS by1, {rb["x2"]} AS bx2, {rb["y2"]} AS by2
  FROM documents
),
i AS (
  SELECT *, GREATEST(ax1, bx1) AS ix1, LEAST(ax2, bx2) AS ix2,
            GREATEST(ay1, by1) AS iy1, LEAST(ay2, by2) AS iy2
  FROM p
  WHERE LEAST(ax2, bx2) > GREATEST(ax1, bx1) AND LEAST(ay2, by2) > GREATEST(ay1, by1)
),
sides AS (
  SELECT pair_id, CASE WHEN ax1 > bx1 THEN 1 WHEN bx1 > ax1 THEN 2 ELSE 3 END AS data, iy2 - iy1 AS len FROM i
  UNION ALL SELECT pair_id, CASE WHEN ax2 < bx2 THEN 1 WHEN bx2 < ax2 THEN 2 ELSE 3 END, iy2 - iy1 FROM i
  UNION ALL SELECT pair_id, CASE WHEN ay1 > by1 THEN 1 WHEN by1 > ay1 THEN 2 ELSE 3 END, ix2 - ix1 FROM i
  UNION ALL SELECT pair_id, CASE WHEN ay2 < by2 THEN 1 WHEN by2 < ay2 THEN 2 ELSE 3 END, ix2 - ix1 FROM i
)
SELECT pair_id, CAST(data AS BIGINT) AS data, CAST(SUM(len) AS BIGINT) AS length
FROM sides GROUP BY pair_id, data
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("decompose_bowtie")
def _q_decompose_bowtie():
    """A18 contour decomposition: per-doc pinched contour (visits the rect center
    twice) splits into two simple triangles; oracle is the closed-form count and
    total |area2| = w*h."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.decompose import decompose_ring
        from .kernel.extract import ring_area2

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            rows = []
            for t in pdf.itertuples():
                xm = t.x1 + ((t.x2 - t.x1) >> 1)
                ym = t.y1 + ((t.y2 - t.y1) >> 1)
                ring = np.array(
                    [
                        [t.x1, t.y1],
                        [t.x2, t.y1],
                        [xm, ym],
                        [t.x2, t.y2],
                        [t.x1, t.y2],
                        [xm, ym],
                    ],
                    dtype=np.int64,
                )
                parts = decompose_ring(ring)
                rows.append(
                    (
                        int(t.doc_id),
                        len(parts),
                        int(sum(abs(ring_area2(p)) for p in parts)),
                    )
                )
            return pd.DataFrame(rows, columns=["doc_id", "n_rings", "abs_area2"])

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("n_rings", LongType()),
                StructField("abs_area2", LongType()),
            ]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    r = rect_exprs("doc_id", "duckdb")
    oracle = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(2 AS BIGINT) AS n_rings,
       CAST(({r["x2"]} - {r["x1"]}) * ({r["y2"]} - {r["y1"]}) AS BIGINT) AS abs_area2
FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("ogc_union_pinch")
def _q_ogc_union_pinch():
    """S7 OGC extraction: per-doc union of two squares touching at one corner
    (pinch point) through extract_shapes_ogc — OGC-valid output is two separate
    shapes; oracle is the closed-form count and area."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.extract import extract_shapes_ogc, ring_area2
        from .options import DEFAULT_OPTIONS, FillRule, OverlayRule

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            from .kernel.batch import graph_batch

            jobs, ids = [], []
            for t in pdf.itertuples():
                s = 64 + (int(t.doc_id) % 64)

                def sq(x0, y0):
                    return np.array(
                        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]],
                        dtype=np.int64,
                    )

                jobs.append(([sq(t.x1, t.y1), sq(t.x1 + s, t.y1 + s)], []))
                ids.append(int(t.doc_id))
            # one batched split+fill pass; OGC extraction stays per job
            graphs = graph_batch(jobs, FillRule.NON_ZERO)
            rows = []
            for d, (segs, fills) in zip(ids, graphs):
                shapes = extract_shapes_ogc(segs, fills, OverlayRule.SUBJECT, DEFAULT_OPTIONS)
                rows.append(
                    (d, len(shapes), int(sum(ring_area2(r) for sh in shapes for r in sh)))
                )
            return pd.DataFrame(rows, columns=["doc_id", "n_shapes", "area2"])

        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("n_shapes", LongType()),
                StructField("area2", LongType()),
            ]
        )
        return _bucketed_apply(_rect_point_df(spark, sf_dir), kernel, schema)

    oracle = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(2 AS BIGINT) AS n_shapes,
       CAST(4 * (64 + CAST(doc_id AS BIGINT) % 64) * (64 + CAST(doc_id AS BIGINT) % 64) AS BIGINT) AS area2
FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("overlay_rows_fast")
def _q_overlay_rows_fast():
    """Zero-shuffle rowwise overlay (scan -> mapInPandas, no repartition): same
    rect-pair INTERSECT semantics as overlay_rect_intersect but with both geometries
    co-located in one input row — the scan-side fast path for per-page payloads."""

    def spark_fn(spark, sf_dir):
        from .operators.overlay_df import overlay_rows

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        r = rect_exprs("doc_id", "spark")
        r2 = _clip_rect_exprs("doc_id", "spark")

        def ring_arrays(rr):
            xs = (
                f"array(CAST({rr['x1']} AS BIGINT), CAST({rr['x2']} AS BIGINT), "
                f"CAST({rr['x2']} AS BIGINT), CAST({rr['x1']} AS BIGINT))"
            )
            ys = (
                f"array(CAST({rr['y1']} AS BIGINT), CAST({rr['y1']} AS BIGINT), "
                f"CAST({rr['y2']} AS BIGINT), CAST({rr['y2']} AS BIGINT))"
            )
            return xs, ys

        sx, sy = ring_arrays(r)
        cx, cy = ring_arrays(r2)
        rows = docs.selectExpr(
            "CAST(doc_id AS BIGINT) AS pair_id",
            f"{sx} AS subj_x",
            f"{sy} AS subj_y",
            f"{cx} AS clip_x",
            f"{cy} AS clip_y",
        )
        shapes = overlay_rows(rows, rules=["intersect"])
        return shapes.groupBy("pair_id").agg(F.sum("area2").cast("long").alias("area2"))

    from .queries import REGISTRY

    return QuerySpec(spark=spark_fn, oracle=REGISTRY["overlay_rect_intersect"].oracle)


@_register("pages_pruned_scan")
def _q_pages_pruned_scan():
    """S9/north rule: Iceberg-style pages table (snapshot manifest, hive partition
    dirs by integer warc day) scanned with file pruning; result = per-lang rollup of
    the selected window PLUS the pruning metrics (files_total/files_selected), all
    oracle-checked — one file per day makes file counts == distinct-day counts."""

    D0, D1 = 19800, 19900  # epoch-day window

    def spark_fn(spark, sf_dir):
        import tempfile

        from .sources.iceberg_lite import read_table, write_table
        from .sources.pages import pages_from_documents

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = pages_from_documents(docs).withColumn(
            "warc_day_int", (F.col("warc_ts").cast("long") / 86400).cast("long")
        )
        root = tempfile.mkdtemp(prefix="iceberg_pages_") + "/pages"
        write_table(
            pages.repartition("warc_day_int"), root, partition_by=["warc_day_int"]
        )
        df, report = read_table(
            spark, root, filters=[("warc_day_int", ">=", D0), ("warc_day_int", "<", D1)]
        )
        return (
            df.where((F.col("warc_day_int") >= D0) & (F.col("warc_day_int") < D1))
            .groupBy("lang")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum(F.length("text")).cast("long").alias("sum_chars"),
            )
            .withColumn("files_total", F.lit(report.files_total).cast("long"))
            .withColumn("files_selected", F.lit(report.files_selected).cast("long"))
        )

    oracle = f"""
WITH p AS (
  SELECT lang, text,
         ((1704067200 + (CAST(doc_id AS BIGINT) * 100003) % 31536000) // 86400) AS d
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       CAST((SELECT COUNT(DISTINCT d) FROM p) AS BIGINT) AS files_total,
       CAST((SELECT COUNT(DISTINCT d) FROM p WHERE d >= {D0} AND d < {D1}) AS BIGINT) AS files_selected
FROM p WHERE d >= {D0} AND d < {D1} GROUP BY lang
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("knn_ring")
def _q_knn_ring():
    """kNN via phased cell-neighborhood (ring) expansion — the north rule's named
    strategy: cell-key equi-joins over growing blocks, settled-point elimination,
    brute-force only for stragglers. Same closed-form oracle as the window/broadcast
    kNN queries (all three strategies must agree exactly)."""

    def spark_fn(spark, sf_dir):
        from .operators.spatial import (
            derive_points,
            derive_rects,
            knn_cell_ring,
            rect_centers,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pts = derive_points(docs, "doc_id")
        ctr = rect_centers(derive_rects(docs, "doc_id")).select("r_id", "cx2", "cy2")
        return knn_cell_ring(pts, ctr, k=3).select("p_id", "r_id", "d2", "rnk")

    from .queries import REGISTRY

    return QuerySpec(spark=spark_fn, oracle=REGISTRY["knn"].oracle)


@_register("float_clip")
def _q_float_clip():
    """Float string-API surface (reference FloatClip / float/clip.rs:31-47 over
    string_overlay.rs): float rect body + float horizontal polyline on a 1/64
    grid -> fixed-scale adapter quantize -> batched integer clip kernel ->
    dequantize back to floats. Exact power-of-two roundtrip, so the oracle is
    the interval-clip closed form expressed in float units."""

    def spark_fn(spark, sf_dir):
        import pandas as pd

        from .kernel.string_ops import clip_paths_batch

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            # float inputs (exact 1/64 multiples), quantized with the adapter's
            # half-away-from-zero rounding at scale 64 — reproduces the ints
            scale = 64.0
            jobs, metas = [], []
            for t in pdf.itertuples():
                fx1, fy1 = t.x1 / scale, t.y1 / scale
                fx2, fy2 = t.x2 / scale, t.y2 / scale
                fcx = (fx1 + fx2) / 2.0
                fcy = (fy1 + fy2) / 2.0

                def q(v):
                    return int(np.floor(abs(v) * scale + 0.5)) * (1 if v >= 0 else -1)

                body = [
                    np.array(
                        [
                            [q(fx1), q(fy1)],
                            [q(fx2), q(fy1)],
                            [q(fx2), q(fy2)],
                            [q(fx1), q(fy2)],
                        ],
                        dtype=np.int64,
                    )
                ]
                path = np.array(
                    [[q(fcx - 64.0), q(fcy)], [q(fcx + 64.0), q(fcy)]], dtype=np.int64
                )
                jobs.append((body, path))
                metas.append(int(t.doc_id))
            rows = []
            for d, parts in zip(metas, clip_paths_batch(jobs, boundary_included=True)):
                for part in parts:
                    rows.append(
                        (
                            d,
                            float(part[0][0]) / scale,
                            float(part[-1][0]) / scale,
                            float(part[0][1]) / scale,
                        )
                    )
            return pd.DataFrame(rows, columns=["doc_id", "fx_start", "fx_end", "fy"])

        from pyspark.sql.types import DoubleType, LongType, StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("fx_start", DoubleType()),
                StructField("fx_end", DoubleType()),
                StructField("fy", DoubleType()),
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
  -- the float center (x1+x2)/128 is a half-integer when x1+x2 is odd; the
  -- adapter rounds half AWAY from zero, i.e. (x1+x2+1)//2 for positive coords
  SELECT doc_id, x1, y1, x2, y2,
         CAST((x1 + x2 + 1) // 2 AS BIGINT) AS cx,
         CAST((y1 + y2 + 1) // 2 AS BIGINT) AS cy
  FROM g
)
SELECT doc_id,
       GREATEST(cx - 4096, x1) / 64.0 AS fx_start,
       LEAST(cx + 4096, x2) / 64.0 AS fx_end,
       cy / 64.0 AS fy
FROM c
WHERE cy >= y1 AND cy <= y2 AND GREATEST(cx - 4096, x1) < LEAST(cx + 4096, x2)
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("float_overlay")
def _q_float_overlay():
    """Float-shell flagship (reference FloatOverlay lifecycle, SURVEY.md §3.1):
    float rect pairs on a 1/64 grid -> two-pass adapter fit (agg min/max) ->
    exact quantize Columns -> integer overlay kernel -> dequantize. Exact
    roundtrip (power-of-two scale), so area x 64^2 equals the integer closed form."""

    def spark_fn(spark, sf_dir):
        from .functions.adapter import fit_adapter
        from .operators.overlay_df import overlay_rows

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        r = rect_exprs("doc_id", "spark")
        r2 = _clip_rect_exprs("doc_id", "spark")

        def ring_arrays(rr):
            xs = (
                f"array(CAST({rr['x1']} AS DOUBLE)/64, CAST({rr['x2']} AS DOUBLE)/64, "
                f"CAST({rr['x2']} AS DOUBLE)/64, CAST({rr['x1']} AS DOUBLE)/64)"
            )
            ys = (
                f"array(CAST({rr['y1']} AS DOUBLE)/64, CAST({rr['y1']} AS DOUBLE)/64, "
                f"CAST({rr['y2']} AS DOUBLE)/64, CAST({rr['y2']} AS DOUBLE)/64)"
            )
            return xs, ys

        sx, sy = ring_arrays(r)
        cx, cy = ring_arrays(r2)
        frows = docs.selectExpr(
            "CAST(doc_id AS BIGINT) AS pair_id",
            f"{sx} AS fsubj_x",
            f"{sy} AS fsubj_y",
            f"{cx} AS fclip_x",
            f"{cy} AS fclip_y",
        )
        adapter = fit_adapter(
            frows, ["fsubj_x", "fclip_x"], ["fsubj_y", "fclip_y"]
        )
        q = frows.select(
            "pair_id",
            F.transform("fsubj_x", lambda c: adapter.quantize_x(c)).alias("subj_x"),
            F.transform("fsubj_y", lambda c: adapter.quantize_y(c)).alias("subj_y"),
            F.transform("fclip_x", lambda c: adapter.quantize_x(c)).alias("clip_x"),
            F.transform("fclip_y", lambda c: adapter.quantize_y(c)).alias("clip_y"),
        )
        shapes = overlay_rows(q, rules=["intersect"])
        # dequantize the doubled area to float units, then express in 1/64-grid
        # integer units (x 64^2) — exact because the scale is a power of two
        return shapes.groupBy("pair_id").agg(
            F.round(
                F.sum(adapter.dequantize_area2(F.col("area2"))) * F.lit(4096.0)
            )
            .cast("long")
            .alias("area2")
        )

    from .queries import REGISTRY

    return QuerySpec(spark=spark_fn, oracle=REGISTRY["overlay_rect_intersect"].oracle)


@_register("dedup_clusters")
def _q_dedup_clusters():
    """Near-dup clustering: Jaccard candidate pairs (any shared 3-shingle between
    adjacent docs) -> distributed connected components (alternating-star label
    propagation, O(log n) rounds) -> cluster id = min doc id of the component.
    Oracle: gaps-and-islands over the consecutive-pair edge chain (exact)."""

    def spark_fn(spark, sf_dir):
        from .operators.distributed_extract import connected_components
        from .queries import REGISTRY

        jacc = REGISTRY["ngram_jaccard"].spark(spark, sf_dir)
        edges = jacc.where(F.col("inter") >= 1).select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
        cc = connected_components(edges)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id")
        )
        return docs.join(
            cc.select(F.col("node").alias("doc_id"), "component"), "doc_id", "left"
        ).select(
            "doc_id", F.coalesce("component", "doc_id").cast("long").alias("cluster")
        )

    from .queries import REGISTRY

    jacc_oracle = REGISTRY["ngram_jaccard"].oracle
    oracle = f"""
WITH j AS ({jacc_oracle}),
e AS (SELECT doc_a FROM j WHERE inter >= 1),
d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
starts AS (SELECT doc_id FROM d WHERE doc_id - 1 NOT IN (SELECT doc_a FROM e))
SELECT doc_id, (SELECT MAX(s.doc_id) FROM starts s WHERE s.doc_id <= d.doc_id) AS cluster
FROM d
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


def _dedup_verified_pairs_sql(dialect: str, docs: str) -> str:
    """MinHash-LSH candidates -> exact-Jaccard verify (>= 1/2, integer rational
    comparison — no float), one SQL template for both dialects. The LSH stage's
    star guard keeps hot buckets linear; the verify join touches candidate pairs
    only (O(candidates x shingles-per-doc), not O(N^2))."""
    from .queries import _minhash_sql

    cand = _minhash_sql(dialect, docs)
    if dialect == "spark":
        shingle = (
            "explode(transform(sequence(0, greatest(size(t)-3, 0)), "
            "i -> concat_ws(' ', slice(t, i+1, 3))))"
        )
    else:
        shingle = (
            "unnest(list_transform(generate_series(1, greatest(len(t)-2, 1)), "
            "i -> array_to_string(t[i:i+2], ' ')))"
        )
    return f"""
WITH cand AS ({cand}),
vtoks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_toks(dialect)} AS t FROM {docs}),
vsh AS (SELECT doc_id, {shingle} AS s FROM vtoks),
ds AS (SELECT DISTINCT doc_id, s FROM vsh),
card AS (SELECT doc_id, COUNT(*) AS c FROM ds GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN ds a ON a.doc_id = c.doc_a
  JOIN ds b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b
FROM inter i
JOIN card ca ON ca.doc_id = i.doc_a
JOIN card cb ON cb.doc_id = i.doc_b
WHERE 2 * i.i >= ca.c + cb.c - i.i
"""


@_register("dedup_e2e")
def _q_dedup_e2e():
    """End-to-end near-dup dedup pipeline: MinHash-LSH candidates (hot buckets
    starred, not dropped) -> exact-Jaccard verify at 1/2 -> distributed connected
    components -> cluster id per doc (min doc id of the component; singletons =
    own id). Oracle replays candidates+verify with the shared SQL template and
    the transitive closure with a recursive CTE."""

    def spark_fn(spark, sf_dir):
        from .operators.distributed_extract import connected_components

        pairs = spark.sql(
            _dedup_verified_pairs_sql("spark", _tbl("spark", sf_dir, "documents"))
        )
        edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        cc = connected_components(edges)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id")
        )
        return docs.join(
            cc.select(F.col("node").alias("doc_id"), "component"), "doc_id", "left"
        ).select(
            "doc_id", F.coalesce("component", "doc_id").cast("long").alias("cluster")
        )

    verified = _dedup_verified_pairs_sql("duckdb", "documents")
    oracle = f"""
WITH RECURSIVE verified AS ({verified}),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM verified
  UNION SELECT doc_b AS u, doc_a AS v FROM verified
),
walk(node, comp) AS (
  SELECT DISTINCT u AS node, u AS comp FROM sym
  UNION
  SELECT e.v AS node, w.comp FROM walk w JOIN sym e ON e.u = w.node
),
comp AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents)
SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster
FROM d LEFT JOIN comp c ON c.node = d.doc_id
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


@_register("media_resample")
def _q_media_resample():
    """Multimodal resample (frame-sample analog): every 4th payload byte kept via
    the binary-in/binary-out mapInPandas operator; oracle recomputes the strided
    byte sum + new width from the md5 hex digits in SQL."""

    N_BLOCKS, STRIDE = 4, 4

    def spark_fn(spark, sf_dir):
        from .operators.multimodal import resample_payload, synth_media

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        media = synth_media(docs.select("doc_id"), "doc_id", n_blocks=N_BLOCKS)
        res = resample_payload(media, stride=STRIDE)
        return res.selectExpr(
            "media_id",
            "CAST(width AS BIGINT) AS new_width",
            "CAST(length(payload) AS BIGINT) AS n_bytes",
            "CAST(aggregate(transform(sequence(1, length(payload)), "
            "i -> CAST(unhex(hex(substr(payload, i, 1))) AS BINARY)), "
            "CAST(0 AS BIGINT), (acc, b) -> acc + CAST(conv(hex(b), 16, 10) AS BIGINT)) AS BIGINT) AS sum_bytes",
        )

    from .queries import _hex_digit_case

    # strided byte positions: global index g in 0, 4, 8, ... over 16*N_BLOCKS bytes;
    # byte g lives in block g//16 at offset g%16 -> hex digits 2*(g%16)+1, +2
    terms = []
    for g in range(0, 16 * N_BLOCKS, STRIDE):
        h = f"md5(CAST(doc_id AS VARCHAR) || '_{g // 16}')"
        d1 = _hex_digit_case(f"substr({h}, {2 * (g % 16) + 1}, 1)")
        d2 = _hex_digit_case(f"substr({h}, {2 * (g % 16) + 2}, 1)")
        terms.append(f"(16 * {d1} + {d2})")
    n_kept = len(terms)
    oracle = f"""
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST((16 + (doc_id % 48)) // {STRIDE} AS BIGINT) AS new_width,
       CAST({n_kept} AS BIGINT) AS n_bytes,
       CAST({" + ".join(terms)} AS BIGINT) AS sum_bytes
FROM documents
"""
    return QuerySpec(spark=spark_fn, oracle=oracle)


def _ivf_kmeans_oracle(n_lists: int = 8, n_iters: int = 2) -> str:
    """DuckDB replay of the Spark k-means pipeline. The fixed-point means
    (round(x*2^20) BIGINT sums, double division) are bit-identical across
    engines, so assignments and the final within-list top-1 match exactly."""
    # one assignment CTE + one means CTE per iteration, then final assign + topk
    def assign_cte(name: str, cent: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, embedding, nrm2, list_id FROM (
    SELECT e.vec_id, e.embedding, e.nrm2, c.centroid_id AS list_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY e.nrm2 - 2 * list_dot_product(e.embedding, c.cvec)
                      + list_dot_product(c.cvec, c.cvec), c.centroid_id
           ) AS rn
    FROM e CROSS JOIN {cent} c
  ) t WHERE rn = 1
)"""

    def means_cte(name: str, assigned: str) -> str:
        return f"""{name} AS (
  SELECT list_id AS centroid_id, list(m ORDER BY pos) AS cvec FROM (
    SELECT list_id, pos,
           CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1048576.0) AS m
    FROM (
      SELECT list_id, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x
      FROM {assigned}
    ) u GROUP BY list_id, pos
  ) mm GROUP BY list_id
)"""

    ctes = [
        """e AS (
  SELECT vec_id, embedding, list_dot_product(embedding, embedding) AS nrm2
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {n_lists}
)""",
    ]
    cent = "c0"
    for it in range(n_iters):
        ctes.append(assign_cte(f"a{it}", cent))
        ctes.append(means_cte(f"c{it + 1}", f"a{it}"))
        cent = f"c{it + 1}"
    ctes.append(assign_cte("af", cent))
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT vec_id, list_id, neighbor_id FROM (
  SELECT l.vec_id, l.list_id, r.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY l.vec_id
           ORDER BY list_dot_product(l.embedding, r.embedding) / sqrt(l.nrm2 * r.nrm2) DESC,
                    r.vec_id
         ) AS rnk
  FROM af l JOIN af r ON l.list_id = r.list_id AND l.vec_id != r.vec_id
) t WHERE rnk <= 1
"""
    )


@_register("ann_ivf_kmeans")
def _q_ann_ivf_kmeans():
    """IVF with 2 Lloyd refinement iterations of the coarse quantizer (fixed-point
    integer-sum means: deterministic under any partitioning AND bit-replayable by
    the oracle), then within-list top-1 search. Exact DuckDB oracle replays the
    whole iteration in SQL; determinism also covered by tests/test_ivf_kmeans.py."""

    def spark_fn(spark, sf_dir):
        from .operators.similarity import (
            ivf_assign,
            ivf_centroids,
            ivf_kmeans_refine,
            ivf_topk,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        seeds = ivf_centroids(emb, 8)
        refined = ivf_kmeans_refine(emb, seeds, n_iters=2)
        assigned = ivf_assign(emb, refined)
        return ivf_topk(assigned, k=1).select("vec_id", "list_id", "neighbor_id")

    return QuerySpec(spark=spark_fn, oracle=_ivf_kmeans_oracle())


@_register("relate_float")
def _q_relate_float():
    """P7 float predicate API (reference FloatRelate / FixedScaleFloatRelate,
    iOverlay/src/float/relate.rs, float/scale.rs): float rects on a 1/64 grid ->
    fixed-scale adapter quantize -> integer predicate kernel. Exact roundtrip, so
    the oracle is the same closed-form rectangle relation algebra as relate_rects."""

    def spark_fn(spark, sf_dir):
        from .functions.adapter import fixed_scale_adapter
        from .operators.relate_df import relate_pairs
        from .queries import _relate_clip_exprs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        r = rect_exprs("doc_id", "spark")
        c = _relate_clip_exprs("doc_id", "spark")
        adapter = fixed_scale_adapter(1 / 64.0)  # scale 64: 1/64-grid floats -> ints

        def ring(rr):
            # float coordinates (exact 1/64 multiples), quantized back by the adapter
            xs = (
                f"array(CAST({rr['x1']} AS DOUBLE)/64, CAST({rr['x2']} AS DOUBLE)/64, "
                f"CAST({rr['x2']} AS DOUBLE)/64, CAST({rr['x1']} AS DOUBLE)/64)"
            )
            ys = (
                f"array(CAST({rr['y1']} AS DOUBLE)/64, CAST({rr['y1']} AS DOUBLE)/64, "
                f"CAST({rr['y2']} AS DOUBLE)/64, CAST({rr['y2']} AS DOUBLE)/64)"
            )
            return xs, ys

        sx, sy = ring(r)
        cx, cy = ring(c)

        def geoms(role, xs, ys):
            base = docs.selectExpr(
                "CAST(doc_id AS BIGINT) AS pair_id",
                f"'{role}' AS role",
                "CAST(0 AS BIGINT) AS shape_id",
                "CAST(0 AS INT) AS contour_idx",
                f"{xs} AS fx",
                f"{ys} AS fy",
            )
            return base.select(
                "pair_id",
                "role",
                "shape_id",
                "contour_idx",
                F.transform("fx", lambda v: adapter.quantize_x(v)).alias("pts_x"),
                F.transform("fy", lambda v: adapter.quantize_y(v)).alias("pts_y"),
            )

        return relate_pairs(geoms("subject", sx, sy).unionAll(geoms("clip", cx, cy)))

    from .queries import REGISTRY

    # quantization with scale 64 on 1/64-grid floats reproduces the original ints
    # exactly -> identical relations to the integer predicate suite
    return QuerySpec(spark=spark_fn, oracle=REGISTRY["relate_rects"].oracle)


@_register("repetition_score")
def _q_repetition_score():
    """Per-document bigram repetition (training-data quality filter): documents
    whose adjacent-token bigrams repeat heavily are boilerplate/spam candidates.
    Exact integer counts; fully JVM-side in Spark (no UDF). DuckDB lists are
    1-based, hence the off-by-one in the oracle's bigram builder."""

    def shared_sql(dialect: str, docs: str) -> str:
        if dialect == "spark":
            bi = ("transform(sequence(0, size(t) - 2),"
                  " i -> concat(t[i], ' ', t[i + 1]))")
            size, dis = "size", "array_distinct"
        else:
            bi = ("list_transform(range(1, len(t)),"
                  " i -> concat(t[i], ' ', t[i + 1]))")
            size, dis = "len", "list_distinct"
        return f"""
WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_toks(dialect)} AS t FROM {docs}),
bi AS (SELECT doc_id, {bi} AS b FROM toks WHERE {size}(t) >= 2)
SELECT doc_id,
       CAST({size}(b) AS BIGINT) AS n_bigrams,
       CAST({size}({dis}(b)) AS BIGINT) AS n_distinct_bigrams,
       CAST({size}(b) - {size}({dis}(b)) AS BIGINT) AS n_repeated
FROM bi
"""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))


@_register("bigram_topk")
def _q_bigram_topk():
    """Global corpus n-gram statistics: top-25 bigrams by frequency with
    deterministic tie order (count desc, bigram asc) — the classic pretraining
    corpus-analysis aggregation. Spark plan: map-side bigram explode ->
    partial+final hash agg -> single small top-k sort; at 100 TB the explode
    and partial agg stay map-local, and only per-bigram partial counts
    shuffle."""

    def shared_sql(dialect: str, docs: str) -> str:
        if dialect == "spark":
            bi = ("transform(sequence(0, size(t) - 2),"
                  " i -> concat(t[i], ' ', t[i + 1]))")
            size = "size"
            un = "explode(b)"
        else:
            bi = ("list_transform(range(1, len(t)),"
                  " i -> concat(t[i], ' ', t[i + 1]))")
            size = "len"
            un = "unnest(b)"
        return f"""
WITH toks AS (SELECT {_toks(dialect)} AS t FROM {docs}),
bi AS (SELECT {bi} AS b FROM toks WHERE {size}(t) >= 2),
flat AS (SELECT {un} AS bigram FROM bi)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM flat
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 25
"""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(shared_sql("spark", _tbl("spark", sf_dir, "documents")))

    return QuerySpec(spark=spark_fn, oracle=shared_sql("duckdb", "documents"))
