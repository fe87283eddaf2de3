"""The benchmark's workloads: seeded inputs, one operation each, exact checks.

Every workload follows one protocol, driven by run.py:

- ``__init__(seed)`` derives the inputs from the seed in numpy and computes the
  expected answer with an oracle that shares no code with the engine;
- ``build(spark)`` turns the inputs into the engine's input (a checkpointed
  DataFrame for the Spark workloads) — this is part of set-up;
- ``run()`` is one operation through the engine's public entry point, consumed
  by a single aggregating action so the work is finished when it returns;
- ``check(out)`` compares that result with the expected answer exactly.

The seed changes ids, coordinates (an offset or translation; random points for
spatial_join) and row order, never the input size, so every oracle stays exact.
``spiral`` ignores the seed: its check is a digest of the output ring, which a
translation would change.
"""

from __future__ import annotations

import hashlib
import math
import time
from contextlib import nullcontext

import numpy as np

# Sizes: one operation takes about 1 to 5 s on 4 cores, mostly Spark's fixed
# per-job costs, so a run that times three of them fits the time budget.
FLAGSHIP_PAIRS = 65_536
FLAGSHIP_PARTS = 16
LINES_NET_N = 128
SPIRAL_N = 32_768
JOIN_POINTS = 16_384
JOIN_RECTS = 4_096
KNN_K = 3
KNN_BOX = 1 << 16  # half-width of the kNN oracle's candidate box, doubled coordinates;
# the oracle's 2^17-wide cells must be at least 2 * KNN_BOX

FLAGSHIP_RULES = ("intersect", "union", "xor")
# Multipliers and moduli of the two per-(pair, rule) hashes in the flagship's
# area fingerprint. Both hashes are at least 1, so any single pair whose area is
# wrong changes both fingerprints.
_FP = ((1_000_003, 7_919, 4_093), (998_244_353, 104_729, 4_091))

# Canonical digest of the spiral's single output ring, recorded on the commit
# that introduced the benchmark (see Spiral.check).
SPIRAL_DIGEST = "e80e11a0e021ae39ea6f9928a766a42b"


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _overlap(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    w = np.clip(np.minimum(ax2, bx2) - np.maximum(ax1, bx1), 0, None)
    h = np.clip(np.minimum(ay2, by2) - np.maximum(ay1, by1), 0, None)
    return w * h


def _list_column(cols: list[np.ndarray]):
    """k per-vertex int64 arrays (one value per row each) -> one Arrow list column
    holding k values per row."""
    import pyarrow as pa

    vals = np.stack(cols, axis=1).reshape(-1)
    offs = np.arange(0, len(vals) + 1, len(cols), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offs), pa.array(vals))


def _contours_table(rings: list[np.ndarray], roles: list[str], cid0: int):
    """(role, cid, pts_x, pts_y) rows of the distributed entry point's input."""
    import pyarrow as pa

    counts = np.fromiter((len(r) for r in rings), dtype=np.int64, count=len(rings))
    offs = np.zeros(len(rings) + 1, dtype=np.int32)
    np.cumsum(counts, out=offs[1:])
    P = np.concatenate(rings).astype(np.int64)
    return pa.table(
        {
            "role": pa.array(roles),
            "cid": pa.array(cid0 + np.arange(len(rings), dtype=np.int64)),
            "pts_x": pa.ListArray.from_arrays(pa.array(offs), pa.array(P[:, 0].copy())),
            "pts_y": pa.ListArray.from_arrays(pa.array(offs), pa.array(P[:, 1].copy())),
        }
    )


class Workload:
    name = ""
    unit = ""  # what one item of items_per_s is
    entry = ""  # module of the engine's public entry point, imported during set-up
    # cold set-ups per run, setup_s being their median; a Spark set-up launches a
    # JVM and takes about 10 s, so those workloads afford one
    setups = 1
    uses_spark = True
    seeded = True

    def __init__(self, seed: int):
        self.spark = None
        # run() wraps the action consuming each operator's lazy result in
        # action(<span name>); a traced run swaps in Tracer.action
        self.action = lambda name: nullcontext()

    @property
    def items(self) -> int:
        raise NotImplementedError

    def build(self, spark) -> None:
        raise NotImplementedError

    def run(self):
        raise NotImplementedError

    def check(self, out) -> bool:
        raise NotImplementedError


class FlagshipJobs(Workload):
    """overlay_rows on hexagon x rect pairs, three rules from one graph each."""

    name = "flagship_jobs"
    unit = "pair job"
    entry = "ioverlay_spark.operators.overlay_df"

    def __init__(self, seed: int):
        super().__init__(seed)
        rng = _rng(seed, 1)
        base = int(rng.integers(1, 1_000_000)) * 1024
        i = base + rng.permutation(FLAGSHIP_PAIRS).astype(np.int64)
        x1 = (i * 2654435761) % (1 << 19)
        y1 = (i * 40503 + 99991) % (1 << 19)
        x2 = x1 + 256 + (i * 97) % 8192
        y2 = y1 + 256 + (i * 193) % 8192
        xm = x1 + ((x2 - x1) >> 1)
        ym = y1 + ((y2 - y1) >> 1)
        cx1 = x1 + 123 + (i % 5) * 2048
        cy1 = y1 + 177 + (i % 7) * 1024
        cx2 = cx1 + 200 + (i * 41) % 4096
        cy2 = cy1 + 200 + (i * 59) % 4096
        # L-shaped hexagon: its bounding rect minus the top-right corner rect
        self.cols = {
            "pair_id": i,
            "subj_x": [x1, x2, x2, xm, xm, x1],
            "subj_y": [y1, y1, ym, ym, y2, y2],
            "clip_x": [cx1, cx2, cx2, cx1],
            "clip_y": [cy1, cy1, cy2, cy2],
        }
        a = (x2 - x1) * (y2 - y1) - (x2 - xm) * (y2 - ym)
        r = (cx2 - cx1) * (cy2 - cy1)
        inter = _overlap(x1, y1, x2, y2, cx1, cy1, cx2, cy2) - _overlap(
            xm, ym, x2, y2, cx1, cy1, cx2, cy2
        )
        union = a + r - inter
        area2 = {"intersect": 2 * inter, "union": 2 * union, "xor": 2 * (union - inter)}
        self.expected = {
            "area2": int(sum(int(v.sum()) for v in area2.values())),
            "fp": tuple(
                sum(
                    int((area2[rule] * ((i * m + (k + 1) * q) % mod + 1)).sum())
                    for k, rule in enumerate(FLAGSHIP_RULES)
                )
                for m, q, mod in _FP
            ),
        }

    @property
    def items(self) -> int:
        return FLAGSHIP_PAIRS

    def build(self, spark) -> None:
        import pyarrow as pa

        table = pa.table(
            {k: pa.array(v) if k == "pair_id" else _list_column(v) for k, v in self.cols.items()}
        )
        self.spark = spark
        self.df = (
            spark.createDataFrame(table).repartition(FLAGSHIP_PARTS).localCheckpoint(eager=True)
        )

    def run(self):
        from pyspark.sql import functions as F

        from ioverlay_spark.operators.overlay_df import overlay_rows

        out = overlay_rows(self.df, rules=list(FLAGSHIP_RULES))
        rule_k = F.when(F.col("rule") == "intersect", 1).when(F.col("rule") == "union", 2)
        rule_k = rule_k.when(F.col("rule") == "xor", 3).otherwise(-10**9)
        fps = [
            F.sum(F.col("area2") * (F.pmod(F.col("pair_id") * m + rule_k * q, F.lit(mod)) + 1))
            for m, q, mod in _FP
        ]
        with self.action("overlay_df.overlay_rows"):
            row = out.agg(F.count("*"), F.sum("area2"), *fps).first()
        return {"rings": row[0], "area2": row[1], "fp": tuple(row[2:])}

    def check(self, out) -> bool:
        return out["area2"] == self.expected["area2"] and out["fp"] == self.expected["fp"]

    def replay_kernel_cpu_s(self) -> float:
        """CPU seconds of kernel.batch.overlay_batch_flat_out when the driver runs
        it on the input's Arrow batches: the kernel's share of the Python-worker
        time, without the JVM <-> Arrow <-> Python crossing."""
        from ioverlay_spark.kernel.batch import overlay_batch_flat_out
        from ioverlay_spark.options import FillRule, OverlayRule

        rules = [OverlayRule(r) for r in FLAGSHIP_RULES]
        cpu = 0.0
        for rb in self.df.toArrow().to_batches():
            n = rb.num_rows
            cols = {c: rb.column(c) for c in ("subj_x", "subj_y", "clip_x", "clip_y")}
            flat = {c: np.asarray(v.flatten(), dtype=np.int64) for c, v in cols.items()}
            P = np.concatenate(
                [
                    np.stack([flat["subj_x"], flat["subj_y"]], axis=1),
                    np.stack([flat["clip_x"], flat["clip_y"]], axis=1),
                ]
            )
            counts = np.concatenate(
                [np.asarray(cols[c].value_lengths(), dtype=np.int64) for c in ("subj_x", "clip_x")]
            )
            ring_job = np.concatenate([np.arange(n), np.arange(n)])
            ring_subj = np.repeat([True, False], n)
            c0 = time.process_time()
            overlay_batch_flat_out(P, counts, ring_job, ring_subj, n, rules, FillRule.EVEN_ODD)
            cpu += time.process_time() - c0
        return cpu


class LinesNet(Workload):
    """distributed_overlay(force_distributed=True) on n vertical x n horizontal
    strips of width a/2 at spacing a; INTERSECT is exactly n^2 squares of side
    a/2, with no holes."""

    name = "lines_net"
    unit = "input edge"
    entry = "ioverlay_spark.operators.distributed"
    A = 20

    def __init__(self, seed: int):
        super().__init__(seed)
        n, a = LINES_NET_N, self.A
        w, s = a // 2, a * n // 2
        starts = range(-s + w // 2, -s + w // 2 + a * n, a)
        rings = [np.array([(x, -s), (x + w, -s), (x + w, s), (x, s)]) for x in starts]
        rings += [np.array([(-s, y), (s, y), (s, y + w), (-s, y + w)]) for y in starts]
        roles = ["subject"] * n + ["clip"] * n
        self.expected = {"rings": n * n, "area2": n * n * 2 * w * w, "shapes": n * n, "holes": 0}
        rng = _rng(seed, 2)
        shift = rng.integers(-(1 << 20), 1 << 20, size=2)
        order = rng.permutation(len(rings))
        self.table = _contours_table(
            [rings[k] + shift for k in order],
            [roles[k] for k in order],
            int(rng.integers(0, 1 << 30)),
        )
        self.n_edges = 4 * len(rings)

    @property
    def items(self) -> int:
        return self.n_edges

    def build(self, spark) -> None:
        self.spark = spark
        self.df = spark.createDataFrame(self.table).localCheckpoint(eager=True)

    def run(self):
        from ioverlay_spark.operators.distributed import (
            contours_to_segments_df,
            distributed_overlay,
        )
        from ioverlay_spark.options import FillRule, OverlayRule

        out = distributed_overlay(
            contours_to_segments_df(self.spark, self.df),
            OverlayRule.INTERSECT,
            FillRule.EVEN_ODD,
            force_distributed=True,
        )
        with self.action("dist.extract_shapes_df"):  # builds the returned rings
            row = out.selectExpr(
                "count(*)",
                "sum(area2)",
                "count(distinct shape_id)",
                "sum(CAST(is_hole AS INT))",
            ).first()
        return {"rings": row[0], "area2": row[1], "shapes": row[2], "holes": row[3]}

    def check(self, out) -> bool:
        return out == self.expected


def spiral_path(count: int, radius: float) -> np.ndarray:
    """Zigzag spiral band whose two rails cross each other (the reference's
    spiral performance scenario)."""
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
        a_path += [p0 + t, p + t]
        b_path += [p0 - t, p - t]
        a += radius / r
        r = radius * (1.0 + a / (2.0 * math.pi))
        p0 = p
    b_path.reverse()
    return np.array(a_path + b_path)


def ring_digest(ring: np.ndarray) -> str:
    """Digest of a ring that ignores its starting vertex: rotate the smallest
    vertex (lexicographic) to the front, then hash the float64 coordinates."""
    ring = np.asarray(ring, dtype=np.float64)
    k = int(np.lexsort((ring[:, 1], ring[:, 0]))[0])
    return hashlib.sha256(np.roll(ring, -k, axis=0).tobytes()).hexdigest()[:32]


class Spiral(Workload):
    """float_overlay self-union of the spiral: the single-process numpy kernel
    with no Spark at all."""

    name = "spiral"
    unit = "input edge"
    entry = "ioverlay_spark.functions.float_shell"
    setups = 5
    uses_spark = False
    seeded = False

    def __init__(self, seed: int):
        super().__init__(seed)
        self.path = None

    @property
    def items(self) -> int:
        return 4 * SPIRAL_N

    def build(self, spark) -> None:
        self.path = spiral_path(SPIRAL_N, 100.0)

    def run(self):
        from ioverlay_spark.functions.float_shell import float_overlay
        from ioverlay_spark.options import FillRule, OverlayRule

        return float_overlay(
            [self.path], [], OverlayRule.SUBJECT, FillRule.NON_ZERO, dtype=np.float64
        )

    def check(self, out) -> bool:
        return len(out) == 1 and len(out[0]) == 1 and ring_digest(out[0][0]) == SPIRAL_DIGEST


class SpatialJoin(Workload):
    """pip_join (level 9), tile_assign (level 7) and knn_broadcast_grid (k=3)
    over seeded points and rects; DuckDB recounts the join and the tiles, numpy
    brute force the kNN distances."""

    name = "spatial_join"
    unit = "query point"
    entry = "ioverlay_spark.operators.spatial"

    def __init__(self, seed: int):
        super().__init__(seed)
        rng = _rng(seed, 3)
        p_id = int(rng.integers(0, 1 << 30)) + rng.permutation(JOIN_POINTS).astype(np.int64)
        r_id = int(rng.integers(0, 1 << 30)) + rng.permutation(JOIN_RECTS).astype(np.int64)
        lo = int(rng.integers(0, 1 << 18))
        x1 = lo + rng.integers(0, 1 << 19, JOIN_RECTS)
        y1 = lo + rng.integers(0, 1 << 19, JOIN_RECTS)
        self.points = {
            "p_id": p_id,
            "px": lo + rng.integers(0, 1 << 19, JOIN_POINTS),
            "py": lo + rng.integers(0, 1 << 19, JOIN_POINTS),
        }
        self.rects = {
            "r_id": r_id,
            "x1": x1,
            "y1": y1,
            "x2": x1 + rng.integers(256, 8448, JOIN_RECTS),
            "y2": y1 + rng.integers(256, 8448, JOIN_RECTS),
        }
        self.expected = {**self._duckdb_oracle(), "knn": self._knn_oracle()}

    @property
    def items(self) -> int:
        return JOIN_POINTS

    def _duckdb_oracle(self) -> dict:
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        try:
            con.register("pts", pa.table(self.points))
            con.register("rects", pa.table(self.rects))
            # equi-join on 8192-wide cells (a rect covers at most 3 x 3), then the
            # exact containment test
            pip = con.execute(
                "WITH rc AS (SELECT *, unnest(range(x1 >> 13, ((x2 - 1) >> 13) + 1)) AS cx"
                " FROM rects),"
                " rcc AS (SELECT *, unnest(range(y1 >> 13, ((y2 - 1) >> 13) + 1)) AS cy FROM rc)"
                " SELECT count(*), sum(p_id), sum(r_id), sum((p_id * 7919 + r_id) % 1000003)"
                " FROM pts JOIN rcc ON px >> 13 = cx AND py >> 13 = cy"
                " WHERE px >= x1 AND px < x2 AND py >= y1 AND py < y2"
            ).fetchone()
            tiles = con.execute(
                "WITH c AS (SELECT r_id, unnest(range(x1 >> 13, ((x2 - 1) >> 13) + 1)) AS cx,"
                " y1, y2 FROM rects),"
                " cc AS (SELECT r_id, cx, unnest(range(y1 >> 13, ((y2 - 1) >> 13) + 1)) AS cy"
                " FROM c),"
                " t AS (SELECT count(*) AS n, min(r_id) AS lo, max(r_id) AS hi"
                " FROM cc GROUP BY cx, cy)"
                " SELECT count(*), sum(n), sum(lo), sum(hi) FROM t"
            ).fetchone()
        finally:
            con.close()
        return {"pip": tuple(int(v) for v in pip), "tiles": tuple(int(v) for v in tiles)}

    def _knn_oracle(self) -> tuple[int, int]:
        """(rows, sum over all points of the k smallest squared distances in
        doubled coordinates); the sum does not depend on how ties break.

        DuckDB ranks the centers in the cells that cover a box of half-width
        KNN_BOX around each point. A point whose k-th distance lies within the
        box's inscribed circle is settled; the rest are recounted by numpy brute
        force."""
        import duckdb
        import pyarrow as pa

        cx2 = self.rects["x1"] + self.rects["x2"]
        cy2 = self.rects["y1"] + self.rects["y2"]
        px2, py2 = 2 * self.points["px"], 2 * self.points["py"]
        con = duckdb.connect()
        try:
            con.register("p", pa.table({"i": np.arange(JOIN_POINTS), "x": px2, "y": py2}))
            con.register("c", pa.table({"x": cx2, "y": cy2}))
            rows = con.execute(
                "WITH pb AS (SELECT *, unnest(range((x - $r) >> 17, ((x + $r) >> 17) + 1)) AS bx"
                " FROM p),"
                " pbb AS (SELECT *, unnest(range((y - $r) >> 17, ((y + $r) >> 17) + 1)) AS by"
                " FROM pb),"
                " cand AS (SELECT pbb.i, (pbb.x - c.x) * (pbb.x - c.x)"
                " + (pbb.y - c.y) * (pbb.y - c.y) AS d2"
                " FROM pbb JOIN c ON c.x >> 17 = pbb.bx AND c.y >> 17 = pbb.by),"
                " ranked AS (SELECT i, d2, row_number() OVER (PARTITION BY i ORDER BY d2) AS rn"
                " FROM cand)"
                " SELECT i, sum(d2), max(d2) FROM ranked WHERE rn <= $k GROUP BY i"
                " HAVING count(*) = $k AND max(d2) <= CAST($r AS BIGINT) * $r",
                {"r": KNN_BOX, "k": KNN_K},
            ).fetchall()
        finally:
            con.close()
        settled = np.zeros(JOIN_POINTS, dtype=bool)
        settled[[r[0] for r in rows]] = True
        total = sum(int(r[1]) for r in rows)
        for i in np.flatnonzero(~settled):
            d2 = (px2[i] - cx2) ** 2 + (py2[i] - cy2) ** 2
            total += int(np.partition(d2, KNN_K - 1)[:KNN_K].sum())
        return (KNN_K * JOIN_POINTS, total)

    def build(self, spark) -> None:
        import pyarrow as pa

        self.spark = spark
        self.pts = spark.createDataFrame(pa.table(self.points)).localCheckpoint(eager=True)
        self.rect_df = spark.createDataFrame(pa.table(self.rects)).localCheckpoint(eager=True)

    def run(self):
        from ioverlay_spark.operators.spatial import (
            knn_broadcast_grid,
            pip_join,
            rect_centers,
            tile_assign,
        )

        pip = pip_join(self.pts, self.rect_df, level=9)
        with self.action("spatial.pip_join"):
            pip = pip.selectExpr(
                "count(*)", "sum(p_id)", "sum(r_id)", "sum((p_id * 7919 + r_id) % 1000003)"
            ).first()
        tiles = tile_assign(self.rect_df, level=7)
        with self.action("spatial.tile_assign"):
            tiles = tiles.selectExpr(
                "count(*)", "sum(n_rects)", "sum(min_id)", "sum(max_id)"
            ).first()
        ctr = rect_centers(self.rect_df).select("r_id", "cx2", "cy2")
        knn = knn_broadcast_grid(self.pts, ctr, k=KNN_K)
        with self.action("spatial.knn_broadcast_grid"):
            knn = knn.selectExpr("count(*)", "sum(d2)").first()
        return {
            "pip": tuple(int(v or 0) for v in pip),
            "tiles": tuple(int(v or 0) for v in tiles),
            "knn": tuple(int(v or 0) for v in knn),
        }

    def check(self, out) -> bool:
        return out == self.expected


WORKLOADS = {w.name: w for w in (FlagshipJobs, LinesNet, Spiral, SpatialJoin)}
