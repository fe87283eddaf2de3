"""Job-parallel boolean overlay over a DataFrame of geometry jobs.

This is the engine's workhorse usage model (SURVEY.md §1.3 "batch of overlay jobs"):
one row per (pair_id, role, shape_id, contour_idx) holding a contour as two Arrow list
columns (pts_x, pts_y); `overlay_pairs` shuffles by pair_id and runs the exact numpy
kernel per pair inside a grouped-map pandas UDF (Arrow batches, no per-row Python).

At 100 TB scale each pair is one polygon-overlay job (page geometries vs a clip layer);
pairs are independent, so the only shuffle is the groupBy(pair_id) hash partition and
the kernel parallelism is the number of shuffle partitions — AQE coalesces small
partitions, and skewed pairs are bounded by input geometry size, not data volume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

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


def _overlay_kernel_factory(rules, fill_rule, options):
    rules = [OverlayRule(r) for r in rules]
    fill_rule = FillRule(fill_rule)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        """One call per BUCKET of pairs: all jobs of the Arrow batch run through the
        batched tile kernel (kernel/batch.py) — one vectorized sort/merge/split/fill
        pass for the whole bucket, bit-identical to per-pair runs."""
        from ..kernel.batch import overlay_batch

        out_pair, out_rule, out_sid, out_cid, out_x, out_y, out_a2 = [], [], [], [], [], [], []
        order = np.argsort(pdf["pair_id"].to_numpy(), kind="stable")
        pid_arr = pdf["pair_id"].to_numpy()[order]
        role_arr = pdf["role"].to_numpy()[order]
        xs_arr = pdf["pts_x"].to_numpy()[order]
        ys_arr = pdf["pts_y"].to_numpy()[order]
        n = len(pid_arr)
        jobs = []
        job_ids = []
        i = 0
        while i < n:
            pair_id = int(pid_arr[i])
            subj, clip = [], []
            while i < n and pid_arr[i] == pair_id:
                ring = np.stack(
                    [
                        np.asarray(xs_arr[i], dtype=np.int64),
                        np.asarray(ys_arr[i], dtype=np.int64),
                    ],
                    axis=1,
                )
                (subj if role_arr[i] == "subject" else clip).append(ring)
                i += 1
            jobs.append((subj, clip))
            job_ids.append(pair_id)
        for pair_id, result in zip(
            job_ids, overlay_batch(jobs, rules, fill_rule, options, with_areas=True)
        ):
            for rule in rules:
                shapes, areas = result[rule]
                for sid, (shape, s_areas) in enumerate(zip(shapes, areas)):
                    for cid, (ring, a2) in enumerate(zip(shape, s_areas)):
                        out_pair.append(pair_id)
                        out_rule.append(rule.value)
                        out_sid.append(sid)
                        out_cid.append(cid)
                        out_x.append(ring[:, 0].tolist())
                        out_y.append(ring[:, 1].tolist())
                        out_a2.append(a2)
        return pd.DataFrame(
            {
                "pair_id": pd.Series(out_pair, dtype="int64"),
                "rule": pd.Series(out_rule, dtype="object"),
                "shape_id": pd.Series(out_sid, dtype="int64"),
                "contour_idx": pd.Series(out_cid, dtype="int32"),
                "pts_x": pd.Series(out_x, dtype="object"),
                "pts_y": pd.Series(out_y, dtype="object"),
                "area2": pd.Series(out_a2, dtype="int64"),
            }
        )

    return run


def overlay_pairs(
    geoms: DataFrame,
    rules: list[str | OverlayRule],
    fill_rule: str | FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
    buckets: int | None = None,
) -> DataFrame:
    """Run boolean overlay per pair_id; returns the shapes_out DataFrame.

    Reference analog: Overlay::overlay / build_graph_view + extract per rule
    (iOverlay/src/core/overlay.rs:303-372) — the graph is built once per pair and
    all requested rules extract from it.

    Pairs are hashed into `buckets` groups (default 8x shuffle parallelism) so each
    applyInPandas call processes a batch of pairs — per-call overhead amortizes while
    the shuffle stays a single hash partition on the bucket key. Results are
    bucket-order independent (each pair computed in isolation).
    """
    from ..session import ship_package

    ship_package(geoms.sparkSession)
    if buckets is None:
        try:
            buckets = 8 * int(geoms.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            buckets = 256
    kernel = _overlay_kernel_factory(
        [OverlayRule(r).value for r in rules], FillRule(fill_rule).value, options
    )
    bucketed = geoms.withColumn("_bucket", F.pmod(F.hash("pair_id"), F.lit(buckets)))
    # explicit numPartitions repartition: AQE must NOT coalesce this shuffle — the
    # stage is CPU-bound in the Python kernel, and byte-size-based coalescing would
    # serialize it into a single task (observed: 128 buckets -> 1 worker).
    n_part = max(2, buckets // 8)
    return (
        bucketed.repartition(n_part, "_bucket")
        .groupBy("_bucket")
        .applyInPandas(kernel, schema=SHAPES_OUT_SCHEMA)
    )


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
    mapInPandas -> (optional) aggregation, with no repartition at all. Multi-contour
    jobs use overlay_pairs (grouped by pair_id) instead.

    Multiple rules extract from one graph build per pair (A16 reuse,
    iOverlay/src/core/overlay.rs:303-313), batched through kernel/batch.py.

    Runs as mapInArrow with a FLAT ring layout on both sides: the list columns'
    offsets+values feed overlay_batch_flat with zero per-row Python, and the
    output rings are emitted as one concatenated value buffer per column
    (pa.ListArray.from_arrays) instead of per-ring python lists — the
    job-assembly + emission overhead was ~45 us/job of the ~260 us/job worker
    loop (audits/flagship_stage_profile.py)."""
    from ..session import ship_package

    ship_package(rows.sparkSession)
    rule_objs = [OverlayRule(r) for r in rules]
    fr = FillRule(fill_rule)

    def kernel(it):
        import pyarrow as pa

        from ..kernel.batch import overlay_batch_flat_out

        rule_vals = [r.value for r in rule_objs]

        def flat(rb, name):
            col = rb.column(name)
            if col.null_count:
                raise ValueError(f"overlay_rows: null {name} ring")
            # offsets are absolute into the (possibly shared/sliced) values
            # buffer — normalize to a 0-based dense pair
            offs = np.asarray(col.offsets, dtype=np.int64)
            vals = np.asarray(col.values, dtype=np.int64)
            if offs[0] != 0 or offs[-1] != len(vals):
                vals = vals[offs[0]:offs[-1]]
                offs = offs - offs[0]
            return offs, vals

        for rb in it:
            n = rb.num_rows
            if n == 0:
                continue
            pids = np.asarray(rb.column("pair_id"), dtype=np.int64)
            sx_off, sx = flat(rb, "subj_x")
            sy_off, sy = flat(rb, "subj_y")
            cx_off, cx = flat(rb, "clip_x")
            cy_off, cy = flat(rb, "clip_y")
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
            # flat emission per rule: numpy arrays straight into Arrow, zero
            # per-ring python (same treatment as overlay_grouped_rows below)
            ops, orrs, osids, ocids, oas, lens_parts, pts_parts = [], [], [], [], [], [], []
            for ri, rule in enumerate(rule_objs):
                job_r, sid_r, cid_r, lens_r, pts_r, a2_r = res[rule]
                ops.append(pids[job_r])
                orrs.append(np.full(len(job_r), ri, dtype=np.int64))
                osids.append(sid_r)
                ocids.append(cid_r)
                oas.append(a2_r)
                lens_parts.append(lens_r)
                pts_parts.append(pts_r)
            op = np.concatenate(ops)
            m = len(op)
            lens = np.concatenate(lens_parts) if m else np.empty(0, dtype=np.int64)
            # cumsum in int64 first: an int32 cumsum would wrap silently past 2^31
            offs64 = np.zeros(m + 1, dtype=np.int64)
            if m:
                np.cumsum(lens, out=offs64[1:])
                if offs64[-1] >= 2**31:
                    raise ValueError(
                        "overlay batch output exceeds int32 list offsets; "
                        "repartition the input finer (list offsets are int32)"
                    )
            offs = offs64.astype(np.int32)
            PTS = (
                np.concatenate(pts_parts, axis=0)
                if m
                else np.empty((0, 2), dtype=np.int64)
            )
            po = pa.array(offs)
            rule_dict = (
                pa.DictionaryArray.from_arrays(
                    pa.array(np.concatenate(orrs).astype(np.int32, copy=False)),
                    pa.array(rule_vals, type=pa.string()),
                ).cast(pa.string())
                if m
                else pa.array([], type=pa.string())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(op),
                    rule_dict,
                    pa.array(np.concatenate(osids).astype(np.int64, copy=False)),
                    pa.array(np.concatenate(ocids).astype(np.int32, copy=False)),
                    pa.ListArray.from_arrays(po, pa.array(np.ascontiguousarray(PTS[:, 0]))),
                    pa.ListArray.from_arrays(po, pa.array(np.ascontiguousarray(PTS[:, 1]))),
                    pa.array(np.concatenate(oas).astype(np.int64, copy=False)),
                ],
                names=[
                    "pair_id", "rule", "shape_id", "contour_idx",
                    "pts_x", "pts_y", "area2",
                ],
            )

    return rows.mapInArrow(kernel, schema=SHAPES_OUT_SCHEMA)


def overlay_grouped_rows(
    rows: DataFrame,
    rules: list[str | OverlayRule],
    fill_rule: str | FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions = DEFAULT_OPTIONS,
    parts: int | None = None,
    pre_grouped: bool = False,
) -> DataFrame:
    """overlay_pairs semantics over (pair_id, role, pts_x, pts_y) rows, but on
    the FLAT Arrow path (the overlay_rows treatment for multi-row jobs): one
    repartition co-locates each pair, then a mapInArrow kernel feeds the list
    columns' offsets+values straight into the flat-output batch kernel — no
    per-row python job assembly on input, no per-ring python on output.
    Bit-identical results to overlay_pairs (same kernel underneath); used by
    cluster_overlay where a job is a spatial cluster of many contours.

    pre_grouped=True skips the co-locating shuffle: the caller asserts every
    pair_id's rows already live in one partition (e.g. all-singleton spatial
    clusters, where each contour IS its own job) — the geometry never moves."""
    from ..session import ship_package

    ship_package(rows.sparkSession)
    rule_objs = [OverlayRule(r) for r in rules]
    fr = FillRule(fill_rule)
    if parts is None:
        try:
            parts = max(2, int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions")))
        except Exception:
            parts = 64

    def kernel(it):
        import pyarrow as pa

        from ..kernel.batch import overlay_batch_flat_out

        rule_vals = [r.value for r in rule_objs]
        batches = list(it)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()

        def flat(name):
            col = tbl.column(name).chunk(0) if tbl.column(name).num_chunks else None
            if col is None:
                return np.zeros(1, dtype=np.int64), np.empty(0, dtype=np.int64)
            if col.null_count:
                raise ValueError(f"overlay_grouped_rows: null {name} ring")
            offs = np.asarray(col.offsets, dtype=np.int64)
            vals = np.asarray(col.values, dtype=np.int64)
            if offs[0] != 0 or offs[-1] != len(vals):
                vals = vals[offs[0]:offs[-1]]
                offs = offs - offs[0]
            return offs, vals

        pids = tbl.column("pair_id").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        n = len(pids)
        if n == 0:
            return
        role = tbl.column("role").to_numpy(zero_copy_only=False)
        x_off, vx = flat("pts_x")
        y_off, vy = flat("pts_y")
        if not np.array_equal(x_off, y_off):
            raise ValueError("overlay_grouped_rows: x/y ring length mismatch")
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
        nj = len(job_pid)
        ring_subj = (role[order] == "subject")

        res = overlay_batch_flat_out(
            P, counts_s, ring_job, np.asarray(ring_subj, dtype=bool), nj,
            rule_objs, fr, options,
        )
        # flat emission per rule: numpy arrays straight into Arrow, zero
        # per-ring python (the scalar one-shot path's treatment, commit-shared
        # kernel overlay_batch_flat_out)
        ops, orrs, osids, ocids, oas, lens_parts, pts_parts = [], [], [], [], [], [], []
        for ri, rule in enumerate(rule_objs):
            job_r, sid_r, cid_r, lens_r, pts_r, a2_r = res[rule]
            ops.append(job_pid[job_r])
            orrs.append(np.full(len(job_r), ri, dtype=np.int64))
            osids.append(sid_r)
            ocids.append(cid_r)
            oas.append(a2_r)
            lens_parts.append(lens_r)
            pts_parts.append(pts_r)
        op = np.concatenate(ops)
        m = len(op)
        lens = np.concatenate(lens_parts) if m else np.empty(0, dtype=np.int64)
        # cumsum in int64 first: an int32 cumsum would wrap silently past 2^31
        # total output points and corrupt the ListArray offsets (ADVICE r04)
        offs64 = np.zeros(m + 1, dtype=np.int64)
        if m:
            np.cumsum(lens, out=offs64[1:])
            if offs64[-1] >= 2**31:
                raise ValueError(
                    f"partition output rings total {offs64[-1]} points >= 2^31; "
                    "repartition the input finer (list offsets are int32)"
                )
        offs_out = offs64.astype(np.int32)
        PTS = (
            np.concatenate(pts_parts, axis=0)
            if m
            else np.empty((0, 2), dtype=np.int64)
        )
        po = pa.array(offs_out)
        # rule column as a dictionary decode — vectorized C++ cast, no python loop
        rule_dict = (
            pa.DictionaryArray.from_arrays(
                pa.array(np.concatenate(orrs).astype(np.int32, copy=False)),
                pa.array(rule_vals, type=pa.string()),
            ).cast(pa.string())
            if m
            else pa.array([], type=pa.string())
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(op),
                rule_dict,
                pa.array(np.concatenate(osids).astype(np.int64, copy=False)),
                pa.array(np.concatenate(ocids).astype(np.int32, copy=False)),
                pa.ListArray.from_arrays(po, pa.array(np.ascontiguousarray(PTS[:, 0]))),
                pa.ListArray.from_arrays(po, pa.array(np.ascontiguousarray(PTS[:, 1]))),
                pa.array(np.concatenate(oas).astype(np.int64, copy=False)),
            ],
            names=["pair_id", "rule", "shape_id", "contour_idx", "pts_x", "pts_y", "area2"],
        )

    src = rows.select("pair_id", "role", "pts_x", "pts_y")
    if not pre_grouped:
        src = src.repartition(parts, "pair_id")
    return src.mapInArrow(kernel, schema=SHAPES_OUT_SCHEMA)
