"""Job-parallel boolean overlay over a DataFrame of geometry jobs.

This is the engine's workhorse usage model (SURVEY.md §1.3 "batch of overlay jobs").
Two row layouts feed the same flat batch kernel (kernel/batch.py
overlay_batch_flat_out), both as mapInArrow with no per-row Python:

- `overlay_rows`: one row per pair, (pair_id, subj_x, subj_y, clip_x, clip_y) —
  the pair is already co-located, so there is no shuffle;
- `overlay_pairs`: one row per contour, (pair_id, role, pts_x, pts_y) — one
  repartition by pair_id co-locates each pair's contours.

On input the list columns' offsets+values decode straight into the flat ring
layout; on output every rule's rings leave as one concatenated value buffer per
column (SHAPES_OUT_SCHEMA).

The crossing rule: both kernels read and build Arrow only through arrow_np
(`buffers()` into np.frombuffer in, pa.Array.from_buffers out), so no Python
worker imports pandas. pyarrow 16 imports it inside pa.array on an ndarray or
a list, pa.table(dict), pa.scalar, RecordBatch.from_arrays with ndarrays,
Array.to_numpy, np.asarray(arrow_array), Table.join and pc.equal(col,
<python scalar>); see arrow_np's docstring for the full list.

At 100 TB scale each pair is one polygon-overlay job (page geometries vs a clip layer);
pairs are independent, so the only shuffle is overlay_pairs' hash repartition by
pair_id, and the kernel parallelism is its explicit partition count — skewed pairs
are bounded by input geometry size, not data volume.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..arrow_np import codes_np, list_from_np, list_np, record_batch, strings_from_codes, to_np
from ..options import DEFAULT_OPTIONS, FillRule, OverlayOptions, OverlayRule

GEOMS_SCHEMA = StructType(
    [
        StructField("pair_id", LongType()),
        StructField("role", StringType()),
        StructField("shape_id", LongType()),
        StructField("contour_idx", IntegerType()),
        StructField("pts_x", ArrayType(LongType())),
        StructField("pts_y", ArrayType(LongType())),
    ]
)

SHAPES_OUT_SCHEMA = StructType(
    [
        StructField("pair_id", LongType()),
        StructField("rule", StringType()),
        StructField("shape_id", LongType()),
        StructField("contour_idx", IntegerType()),
        StructField("pts_x", ArrayType(LongType())),
        StructField("pts_y", ArrayType(LongType())),
        StructField("area2", LongType()),
    ]
)

_SHAPES_OUT_ARROW = pa.schema(
    [
        ("pair_id", pa.int64()),
        ("rule", pa.string()),
        ("shape_id", pa.int64()),
        ("contour_idx", pa.int32()),
        ("pts_x", pa.list_(pa.int64())),
        ("pts_y", pa.list_(pa.int64())),
        ("area2", pa.int64()),
    ]
)


def _shapes_batch(res, rule_objs, job_pid):
    """{rule: flat tuple} from overlay_batch_flat_out -> one SHAPES_OUT_SCHEMA
    RecordBatch: numpy arrays straight into Arrow, zero per-ring Python."""
    from ..kernel.extract import area2_int64

    job, sid, cidx, lens, pts, a2 = (
        np.concatenate(col) for col in zip(*(res[r] for r in rule_objs))
    )
    # cumsum in int64 first: an int32 cumsum would wrap silently past 2^31
    # total output points (list_from_np raises there instead)
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    what = "overlay batch output rings"
    rule_idx = np.repeat(
        np.arange(len(rule_objs)), [len(res[r][0]) for r in rule_objs]
    )
    return record_batch(
        [
            job_pid[job],
            strings_from_codes([r.value for r in rule_objs], rule_idx),
            sid,
            cidx,
            list_from_np(offs, pts[:, 0], what),
            list_from_np(offs, pts[:, 1], what),
            area2_int64(a2),
        ],
        schema=_SHAPES_OUT_ARROW,
    )


def _pairs_kernel(rule_objs: list[OverlayRule], fr: FillRule, options: OverlayOptions):
    """overlay_pairs' mapInArrow iterator: the partition's contour rows,
    sorted by pair_id, as one flat batch-kernel call."""

    def kernel(it):
        from ..kernel.batch import overlay_batch_flat_out

        batches = list(it)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        n = tbl.num_rows
        if n == 0:
            return
        pids = to_np(tbl.column("pair_id"), np.int64, "overlay_pairs pair_id")
        role, roles = codes_np(tbl.column("role"), "overlay_pairs role")
        x_off, vx = list_np(tbl.column("pts_x"), "overlay_pairs pts_x")
        y_off, vy = list_np(tbl.column("pts_y"), "overlay_pairs pts_y")
        if not np.array_equal(x_off, y_off):
            raise ValueError("overlay_pairs: x/y ring length mismatch")
        counts = np.diff(x_off)

        order = np.argsort(pids, kind="stable")
        pids_s = pids[order]
        counts_s = counts[order]
        starts_s = x_off[:-1][order]
        total = int(counts_s.sum())
        # flat gather of the rings in job-sorted order
        seg_starts = np.zeros(len(counts_s), dtype=np.int64)
        np.cumsum(counts_s[:-1], out=seg_starts[1:])
        idx = np.repeat(starts_s - seg_starts, counts_s) + np.arange(total, dtype=np.int64)
        P = np.empty((total, 2), dtype=np.int64)
        P[:, 0] = vx[idx]
        P[:, 1] = vy[idx]

        job_boundary = np.empty(n, dtype=bool)
        job_boundary[0] = True
        np.not_equal(pids_s[1:], pids_s[:-1], out=job_boundary[1:])
        ring_job = np.cumsum(job_boundary) - 1
        job_pid = pids_s[job_boundary]
        subject = roles.index("subject") if "subject" in roles else -1
        ring_subj = role[order] == subject
        res = overlay_batch_flat_out(
            P, counts_s, ring_job, ring_subj, len(job_pid), rule_objs, fr, options
        )
        yield _shapes_batch(res, rule_objs, job_pid)

    return kernel


def _rows_kernel(rule_objs: list[OverlayRule], fr: FillRule, options: OverlayOptions):
    """overlay_rows' mapInArrow iterator: one flat batch-kernel call per
    Arrow batch of (pair_id, subj_x, subj_y, clip_x, clip_y) rows."""

    def kernel(it):
        from ..kernel.batch import overlay_batch_flat_out

        for rb in it:
            n = rb.num_rows
            if n == 0:
                continue
            pids = to_np(rb.column("pair_id"), np.int64, "overlay_rows pair_id")
            sx_off, sx = list_np(rb.column("subj_x"), "overlay_rows subj_x")
            sy_off, sy = list_np(rb.column("subj_y"), "overlay_rows subj_y")
            cx_off, cx = list_np(rb.column("clip_x"), "overlay_rows clip_x")
            cy_off, cy = list_np(rb.column("clip_y"), "overlay_rows clip_y")
            if not (np.array_equal(sx_off, sy_off) and np.array_equal(cx_off, cy_off)):
                raise ValueError("overlay_rows: x/y ring length mismatch")
            ns, nc = len(sx), len(cx)
            P = np.empty((ns + nc, 2), dtype=np.int64)
            P[:ns, 0] = sx
            P[:ns, 1] = sy
            P[ns:, 0] = cx
            P[ns:, 1] = cy
            counts = np.concatenate([np.diff(sx_off), np.diff(cx_off)]).astype(np.int64)
            ring_job = np.concatenate([np.arange(n), np.arange(n)])
            ring_subj = np.zeros(2 * n, dtype=bool)
            ring_subj[:n] = True
            res = overlay_batch_flat_out(
                P, counts, ring_job, ring_subj, n, rule_objs, fr, options,
            )
            yield _shapes_batch(res, rule_objs, pids)

    return kernel


def overlay_pairs(
    geoms: DataFrame,
    rules: list[str | OverlayRule],
    fill_rule: str | FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
    parts: int | None = None,
    pre_grouped: bool = False,
) -> DataFrame:
    """Run boolean overlay per pair_id over (pair_id, role, pts_x, pts_y)
    contour rows (other columns, e.g. GEOMS_SCHEMA's shape_id/contour_idx, are
    ignored); returns the shapes_out DataFrame.

    Reference analog: Overlay::overlay / build_graph_view + extract per rule
    (iOverlay/src/core/overlay.rs:303-372) — the graph is built once per pair and
    all requested rules extract from it.

    One repartition(parts, "pair_id") co-locates each pair (parts defaults to
    spark.sql.shuffle.partitions; an explicit count, so AQE cannot coalesce the
    CPU-bound kernel stage into one task), then a mapInArrow kernel runs the
    whole partition through one flat batch-kernel call. Results are
    partitioning independent (each pair computed in isolation, bit-identical
    to the per-pair scalar kernel).

    pre_grouped=True skips the co-locating shuffle: the caller asserts every
    pair_id's rows already live in one partition (e.g. all-singleton spatial
    clusters, where each contour IS its own job) — the geometry never moves."""
    from ..session import ship_package

    ship_package(geoms.sparkSession)
    rule_objs = [OverlayRule(r) for r in rules]
    fr = FillRule(fill_rule)
    if parts is None:
        try:
            parts = max(2, int(geoms.sparkSession.conf.get("spark.sql.shuffle.partitions")))
        except Exception:
            parts = 64

    src = geoms.select("pair_id", "role", "pts_x", "pts_y")
    if not pre_grouped:
        src = src.repartition(parts, "pair_id")
    return src.mapInArrow(_pairs_kernel(rule_objs, fr, options), schema=SHAPES_OUT_SCHEMA)


def overlay_rows(
    rows: DataFrame,
    rules: list[str | OverlayRule],
    fill_rule: str | FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
) -> DataFrame:
    """Zero-shuffle overlay for pairs that are already co-located in ONE row:
    (pair_id, subj_x, subj_y, clip_x, clip_y) -> shapes_out rows.

    This is the scan-side fast path for the input_hint's layout — each web page row
    carries its own geo payload and clip region — so the plan is parquet scan ->
    mapInArrow -> (optional) aggregation, with no repartition at all. Multi-contour
    jobs use overlay_pairs (grouped by pair_id) instead.

    Multiple rules extract from one graph build per pair (A16 reuse,
    iOverlay/src/core/overlay.rs:303-313), batched through kernel/batch.py:
    each Arrow batch's list columns feed overlay_batch_flat_out as offsets +
    values, and its output rings leave as one concatenated value buffer per
    column (arrow_np.list_from_np) — no per-row or per-ring Python."""
    from ..session import ship_package

    ship_package(rows.sparkSession)
    rule_objs = [OverlayRule(r) for r in rules]
    fr = FillRule(fill_rule)
    return rows.mapInArrow(_rows_kernel(rule_objs, fr, options), schema=SHAPES_OUT_SCHEMA)
