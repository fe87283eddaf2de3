"""Distributed pipeline for ONE huge boolean overlay (SURVEY.md §7 v2).

When a single overlay job has millions of segments, the per-pair kernel cannot hold
it; this pipeline distributes every stage of the reference algorithm:

  A1/A2  sort+merge          -> groupBy(a,b).sum(counts), drop zeros (hash agg)
  A6/A7  split               -> grid-cell explode -> per-cell Arrow kernel runs
                                the list split's mark finder
                                (kernel/split.find_marks) on the cell's rows
  A8     apply marks         -> (_sid, px, py) mark rows union segment rows, ONE
                                hash exchange on the segment key `_sid`, then ONE
                                numpy kernel (kernel/split._apply_marks) per
                                partition matches and splits each segment at
                                its marks
  A9     snap fixpoint       -> driver loop; counts, bounds and the termination
                                probe are observed on the rounds' checkpoints, no
                                jobs of their own; SplitResult goes to the fill
  A10    fill                -> x-strip explode -> per-strip vectorized ray-cast
                                winding (each segment evaluated in its midpoint
                                strip against all segments crossing that strip);
                                the fill kernel keeps the rule's boundary
                                segments and packs them into binary blobs
  A11-14 extract + binding   -> ONE task labels components (numpy union-find),
                                walks every ring and binds holes (the kernel's
                                bind_holes); past 8 M boundary edges: connected
                                components (one union-find task, or alternating
                                large-star/small-star rounds) -> salted
                                per-component kernel walk -> distributed
                                below-anchor scan binding (x-band equi-join)

Skew: per-cell segment histograms pick the grid level; cells exceeding the hot
threshold are salted to a finer sub-grid before the Arrow kernel (north rule).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..arrow_np import (
    binary_from_np,
    blobs_np,
    from_np,
    record_batch,
    to_np,
    valid_np,
)
from ..kernel.segments import Segments
from ..kernel.split import _apply_marks, find_marks
from ..options import FillRule, OverlayOptions, OverlayRule

SEG_COLS = ["ax", "ay", "bx", "by", "subj", "clip"]

# split marks, keyed by their segment's `_sid`: the row key _checkpoint_segments
# stores on every segment set a split round reads
MARKS_SCHEMA = StructType(
    [
        StructField("_sid", LongType()),
        StructField("px", LongType()),
        StructField("py", LongType()),
        StructField("is_round", BooleanType()),
        # mark came from a collinear-overlap pair — the only pair class whose
        # sub-segments can coincide after apply (gates the post-apply merge)
        StructField("col_ovl", BooleanType()),
    ]
)


def merge_segments_df(segs: DataFrame, extra_aggs: dict[str, str] | None = None) -> DataFrame:
    """A2: coincident merge (reference iOverlay/src/segm/merge.rs:26-87).

    extra_aggs: payload columns carried through the pipeline (A19 edge data,
    iOverlay/src/core/edge_data.rs:5-19) — {col: SQL agg expr} gives the user merge
    policy for coincident segments (e.g. {"data": "bit_or(data)"} for provenance)."""
    aggs = [F.sum("subj").alias("subj"), F.sum("clip").alias("clip")]
    for col, expr in (extra_aggs or {}).items():
        aggs.append(F.expr(expr).alias(col))
    return (
        segs.groupBy("ax", "ay", "bx", "by")
        .agg(*aggs)
        .where((F.col("subj") != 0) | (F.col("clip") != 0))
    )


_MARKS_ARROW_SCHEMA = pa.schema(
    [
        ("_sid", pa.int64()),
        ("px", pa.int64()),
        ("py", pa.int64()),
        ("is_round", pa.bool_()),
        ("col_ovl", pa.bool_()),
    ]
)


def _np_col(tbl, name: str, dtype=np.int64) -> np.ndarray:
    """One Arrow table/batch column as a numpy array (int64 by default)."""
    return to_np(tbl.column(name), dtype, name)


def _find_marks_kernel(tbl: pa.Table, radius: int = 2) -> pa.Table:
    """Per-cell exact pairwise crossing detection (A6/A7): the cell's rows,
    sorted by (a, b), go through the same mark finder as the list split
    (kernel/split.find_marks: pair enumeration, one int64 gate, exact solve),
    single-threaded since every executor core already runs a task. Emits
    MARKS_SCHEMA rows: each mark keyed by its segment's `_sid`, Arrow-native.

    radius: the snap radius (squared distance) of rounded marks to segment
    endpoints, kernel/split.cross_pair's."""
    ax, ay, bx, by = (_np_col(tbl, c) for c in ("ax", "ay", "bx", "by"))
    order = np.lexsort((by, bx, ay, ax))
    z = np.zeros(len(ax), dtype=np.int64)
    segs = Segments(ax[order], ay[order], bx[order], by[order], z, z)
    si, mx, my, rnd, col = find_marks(segs, radius, threads=1)
    cols = [_np_col(tbl, "_sid")[order[si]], mx, my, rnd, col]
    return pa.Table.from_batches([record_batch(cols, schema=_MARKS_ARROW_SCHEMA)])


def _bounds_aggs() -> list:
    """Count + bbox aggregates of a segment set: (n, x0, x1, y0, y1)."""
    return [
        F.count("*").alias("n"),
        F.min(F.least("ax", "bx")).alias("x0"),
        F.max(F.greatest("ax", "bx")).alias("x1"),
        F.min(F.least("ay", "by")).alias("y0"),
        F.max(F.greatest("ay", "by")).alias("y1"),
    ]


def _count_and_bounds(segs: DataFrame, observed: dict | None = None):
    """(n, x0, x1, y0, y1) of a segment set: ONE scalar agg job, or none when
    a checkpoint already observed the _bounds_aggs (`observed`)."""
    row = observed if observed is not None else segs.agg(*_bounds_aggs()).first()
    return tuple(int(row[c] or 0) for c in ("n", "x0", "x1", "y0", "y1"))


def _checkpoint_observed(df: DataFrame, aggs: list, path: str | None = None):
    """Materialize `df` (eager localCheckpoint, or parquet write + read at
    `path`) and compute `aggs` over the same rows in the same job
    (Dataset.observe): a count, bbox or probe costs no action of its own.
    Returns (checkpointed frame, {alias: value}); an empty frame observes
    count 0 and NULL min/max."""
    obs = Observation()
    df = df.observe(obs, *aggs)
    if path is None:
        return df.localCheckpoint(eager=True), obs.get
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path), obs.get


def _checkpoint_segments(segs: DataFrame, path: str | None = None):
    """_checkpoint_observed for a segment set: stores a `_sid` row key (the
    marks' segment id, stable because it is stored, not re-evaluated) and
    returns the frame with its _count_and_bounds tuple."""
    segs = segs.withColumn("_sid", F.monotonically_increasing_id())
    segs, m = _checkpoint_observed(segs, _bounds_aggs(), path)
    return segs, _count_and_bounds(segs, m)


def salted_cover(
    segs: DataFrame,
    cells_per_axis: int,
    hot_threshold: int = 20000,
    bounds: tuple[int, int, int, int, int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Grid cover with TARGETED hot-cell salting: every segment is exploded into
    the coarse cells its bbox covers; cells whose load exceeds hot_threshold are
    additionally split into a 4x4 fine sub-grid — but ONLY the segments covering
    a hot cell are re-exploded, and only within that cell. Cold cells keep a
    single (sx, sy) = (0, 0) salt, so exploded-row growth is proportional to the
    hot-cell share of the data, not global (north-rule skew handling).

    Correct because a crossing pair's intersection point p lies in both bboxes:
    if the coarse cell containing p is cold, the pair meets at that cell's
    (0, 0) salt; if hot, both bbox covers (clamped to the cell) include the fine
    sub-cell containing p.

    Returns (cover_df with group key (cx, cy, sx, sy), loads_df)."""
    if bounds is None:
        n, x0, x1, y0, y1 = _count_and_bounds(segs)
    else:
        n, x0, x1, y0, y1 = bounds
    extent = max(x1 - x0, y1 - y0, 1)
    cell = max(1, (extent + cells_per_axis - 1) // cells_per_axis)

    cx_seq = (
        f"sequence( (least(ax, bx) - {x0}) DIV {cell}, (greatest(ax, bx) - {x0}) DIV {cell} )"
    )
    cy_seq = (
        f"sequence( (least(ay, by) - {y0}) DIV {cell}, (greatest(ay, by) - {y0}) DIV {cell} )"
    )
    covered = (
        segs.withColumn("cx", F.explode(F.expr(cx_seq)))
        .withColumn("cy", F.explode(F.expr(cy_seq)))
    )
    loads = covered.groupBy("cx", "cy").count()
    if n <= hot_threshold:
        # no cell can exceed the threshold's order of magnitude — skip the
        # histogram shuffle + broadcast join entirely (latency on small rounds)
        return (
            covered.withColumn("sx", F.lit(0)).withColumn("sy", F.lit(0)),
            loads,
        )
    hot = (
        loads.where(F.col("count") > hot_threshold)
        .select("cx", "cy")
        .withColumn("_hot", F.lit(True))
    )
    cov = covered.join(F.broadcast(hot), ["cx", "cy"], "left")
    out_cols = [*covered.columns]
    cold = cov.where(F.col("_hot").isNull()).select(
        *out_cols, F.lit(0).alias("sx"), F.lit(0).alias("sy")
    )
    fsz = (cell + 3) // 4  # fine sub-cell size; 4x4 per hot cell
    sx_seq = (
        f"sequence( greatest(least(ax, bx) - {x0} - cx * {cell}, 0) DIV {fsz},"
        f" least(greatest(ax, bx) - {x0} - cx * {cell}, {cell - 1}) DIV {fsz} )"
    )
    sy_seq = (
        f"sequence( greatest(least(ay, by) - {y0} - cy * {cell}, 0) DIV {fsz},"
        f" least(greatest(ay, by) - {y0} - cy * {cell}, {cell - 1}) DIV {fsz} )"
    )
    hotc = (
        cov.where(F.col("_hot").isNotNull())
        .withColumn("sx", F.explode(F.expr(sx_seq)))
        .withColumn("sy", F.explode(F.expr(sy_seq)))
        .select(*out_cols, "sx", "sy")
    )
    return cold.unionByName(hotc), loads


def split_round(
    segs: DataFrame,
    cells_per_axis: int,
    hot_threshold: int = 20000,
    bounds: tuple[int, int, int, int, int] | None = None,
    radius: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """One split round over a segment set that stores its `_sid` row key
    (_checkpoint_segments): returns (marks, loads), the round's MARKS_SCHEMA
    rows and salted_cover's per-cell load histogram. Hot cells are salted to
    a 4x4 finer sub-grid via salted_cover (only hot-cell segments re-explode).

    Marks are not deduplicated here: a pair spanning a cell border is found
    once per shared cell, and the apply kernel drops duplicate marks. radius
    is the round's snap radius (split_segments_df grows it as the kernel
    does)."""
    cover, loads = salted_cover(segs, cells_per_axis, hot_threshold, bounds)
    # Explicit repartition on the GROUP KEY ahead of the grouped kernel:
    # HashPartitioning(keys, n) satisfies the groupBy's ClusteredDistribution,
    # so no second shuffle is added — but the user-specified partition count
    # is exempt from AQE byte-based coalescing, which otherwise squeezes the
    # (tiny-bytes, CPU-heavy) cover of a crossing-dense input into 1-2 tasks
    # and serializes the exact cross solver (measured: lines_net n=1024 split
    # kernel 2.6 s on 2 tasks with coalescing vs 64-way parallel without).
    n_part = int(segs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cover = cover.repartition(n_part, "cx", "cy", "sx", "sy")
    marks = cover.groupBy("cx", "cy", "sx", "sy").applyInArrow(
        lambda tbl: _find_marks_kernel(tbl, radius=radius), schema=MARKS_SCHEMA
    )
    return marks, loads


def _union_marks(
    segs: DataFrame, marks: DataFrame, payload: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """ONE exchange that brings every segment and its marks together: segment
    rows (mark columns null) union mark rows (segment columns null), hashed on
    `_sid`. The explicit partition count keeps AQE from coalescing the apply
    into a few tasks. The rows feed _apply_union."""
    seg_rows = segs.select(*SEG_COLS, *payload, "_sid")
    rows = seg_rows.unionByName(marks.select("_sid", "px", "py"), allowMissingColumns=True)
    n_part = int(segs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return rows.repartition(n_part, "_sid")


def _apply_union(tbl: pa.Table, payload: list[str] | tuple[str, ...] = ()):
    """Match + apply (A8) over one partition of _union_marks rows (segment
    rows have a non-null `subj`): returns the split segments and the
    `payload` columns copied onto every sub-segment from its parent (the
    reference's default split hook, iOverlay/src/core/edge_data.rs:5-19).

    Marks find their segments by a sorted match on `_sid`, unique per
    segment (a mark whose `_sid` names no segment is dropped). The numpy
    _apply_marks kernel drops endpoint and duplicate marks (a pair spanning a
    cell border is found in every shared cell), orders each chain along its
    segment and renormalizes it."""
    is_seg = valid_np(tbl.column("subj"))
    seg_t = tbl.filter(from_np(is_seg))
    mark_t = tbl.filter(from_np(~is_seg))
    segs = Segments(*(_np_col(seg_t, c) for c in SEG_COLS))
    seg_sid, mark_sid = _np_col(seg_t, "_sid"), _np_col(mark_t, "_sid")
    order = np.argsort(seg_sid)
    pos = np.searchsorted(seg_sid, mark_sid, sorter=order)
    hit = pos < len(order)
    hit[hit] = seg_sid[order[pos[hit]]] == mark_sid[hit]
    marks = (order[pos[hit]], _np_col(mark_t, "px")[hit], _np_col(mark_t, "py")[hit])
    segs, parent = _apply_marks(segs, marks, parents=True)
    return segs, (seg_t.select(list(payload)).take(from_np(parent)) if payload else None)


def _apply_iter(names: list[str]):
    """_apply_rows' mapInArrow iterator: _apply_union over the whole
    partition (a segment and its marks may arrive in different Arrow
    batches), emitting SEG_COLS + the `names` payload columns."""

    def it(batches):
        chunks = list(batches)
        if not chunks:
            return
        segs, extra = _apply_union(pa.Table.from_batches(chunks), names)
        if not len(segs):
            return
        cols = [getattr(segs, c) for c in SEG_COLS]
        if extra is not None:
            cols += extra.columns
        yield record_batch(cols, names=SEG_COLS + names)

    return it


def _apply_rows(rows: DataFrame, payload: list[StructField] = ()) -> DataFrame:
    """The apply stage over _union_marks rows: one mapInArrow running
    _apply_union per partition, emitting SEG_COLS + the `payload` fields."""
    schema = StructType([StructField(c, LongType()) for c in SEG_COLS] + list(payload))
    return rows.mapInArrow(_apply_iter([f.name for f in payload]), schema=schema)


def apply_marks_df(
    segs: DataFrame,
    marks: DataFrame,
    extra_aggs: dict[str, str] | None = None,
    skip_final_merge: bool = False,
) -> DataFrame:
    """A8: one exchange brings each segment and its marks together
    (_union_marks), one mapInArrow matches and splits them in numpy
    (_apply_union), then the closing coincident merge.

    Marks are MARKS_SCHEMA rows (split_round's) keyed by the `_sid` that
    `segs` stores. Payload columns (extra_aggs keys) are duplicated onto
    every sub-segment — the reference's default split hook
    (iOverlay/src/core/edge_data.rs:5-19).

    skip_final_merge=True drops the closing coincident-merge groupBy (a full
    shuffle of the post-split set). Callers may set it ONLY when the round's
    marks contain no collinear-overlap pairs AND no snap-rounded marks:
    sub-segments lie on their parent's line, so coincidences require a
    collinear-overlap parent pair, and rounding can move points onto new
    coincidences (the fixpoint's next round handles those through its merge)."""
    payload = list(extra_aggs or {})
    out = _apply_rows(_union_marks(segs, marks, payload), [segs.schema[c] for c in payload])
    if skip_final_merge:
        return out
    return merge_segments_df(out, extra_aggs)


@dataclass(frozen=True)
class SplitResult:
    """What the split fixpoint (split_segments_df) hands the fill stage.

    segs: the split, intersection-free segment set.
    n_segments: an upper bound on segs' row count, or None when unknown — fill
        strip sizing and extract's fused-cap check use it instead of a count.
    strip_edges: doubled-x fill strip edges from the terminal round's mark
        quantiles, or None (the fill stage then samples its own).
    pending: the _union_marks rows of a terminal round whose apply was left
        to the fill stage's pack, which runs it in the same numpy kernel;
        `segs` is that apply as a lazy DataFrame for any other consumer."""

    segs: DataFrame
    n_segments: int | None = None
    strip_edges: list[int] | None = None
    pending: DataFrame | None = None


def split_segments_df(
    segs: DataFrame,
    target_per_cell: int = 2000,
    max_rounds: int = 16,
    checkpoint_dir: str | None = None,
    extra_aggs: dict[str, str] | None = None,
    bounds: tuple[int, int, int, int, int] | None = None,
    checkpoint_last: bool = True,
) -> SplitResult:
    """A9 fixpoint: repeat split rounds until no marks (rounded intersections can
    move sub-segments onto new crossings). Each round checkpoints its marks and,
    unless it is a lazy terminal round, its applied segments (parquet under
    checkpoint_dir when set). No round runs a metadata job: the termination
    probe is observed on the marks checkpoint, the next round's count + bbox
    on the apply checkpoint, which also stores the marks' `_sid` key
    (_checkpoint_segments). Without `bounds`, the input is merged and stored
    by _checkpoint_segments first; with `bounds`, `segs` is already a
    _checkpoint_segments output and `bounds` its count + bbox.

    checkpoint_last=False: the TERMINAL round's apply is returned LAZY (its
    inputs — the round's marks and the pre-round segments — are both
    checkpointed, so the lineage stays shallow). When that apply needs no
    closing merge and carries no payload, the result's `pending` hands its
    inputs to compute_fills_df, whose pack stage then runs the apply itself
    instead of materializing the post-split set. Multi-action callers keep
    the default.

    The terminal probe also returns approx quantiles of the round's mark x
    (SplitResult.strip_edges) — the fill stage reuses them as strip edges
    instead of running its own sampling job."""
    from ..session import audit_desc

    if bounds is None:
        segs, bounds = _checkpoint_segments(merge_segments_df(segs, extra_aggs))
    n_hint = bounds[0]  # upper bound on the output row count (fills sizing hint)
    strip_edges = None
    pending = None

    for rnd in range(max_rounds):
        # parallelism floor: crossing-DENSE inputs (few long segments, many
        # intersections) would otherwise land in one cell and serialize the
        # exact solver; extra cover rows are cheap, idle cells cost nothing
        floor = 8 if bounds[0] >= 64 else 1
        cells_per_axis = max(floor, int((bounds[0] / max(target_per_cell, 1)) ** 0.5))
        # the scalar kernel's snap radius progression: 2^round, capped at 2^60
        marks, _ = split_round(segs, cells_per_axis, bounds=bounds, radius=1 << min(rnd, 60))
        # the probe rides on the marks checkpoint:
        #  - n == 0: nothing to apply, the fixpoint is reached;
        #  - need_fix (scalar split.split_segments rule): marks that are ALL
        #    exact split segments at points exactly ON them, so no new
        #    crossings can appear — apply and stop without a verification
        #    round (for crossing-dense inputs that round is a full
        #    cover+kernel pass over the whole post-split set);
        #  - has_col: no collinear-overlap marks + no round marks means the
        #    apply cannot create coincident sub-segments, so the terminal
        #    round may skip its closing merge shuffle entirely.
        # 255 approx quantiles of the marks' x — reused by the fill stage as
        # strip edges (split points dominate the post-split midpoint
        # distribution in the crossing-dense regime; strip edges only steer
        # balance, ANY values are correct). 255, not 1023: querying the
        # quantile summary scales with the fraction count (1023 fractions
        # added ~1.9 s to the probe at 2 M marks, 255 adds ~0.3 s) and ~256
        # strips keep every strip kernel comfortably sized.
        fracs = ", ".join(str(i / 256) for i in range(1, 256))
        # quantiles over a ~5% row sample (percentile_approx skips NULLs): the
        # summary insert per row was ~0.5 s at 2 M marks and scales linearly —
        # a sample steers load balance just as well (strip edges carry no
        # correctness weight). The sample predicate hashes the mark itself, so
        # it is deterministic (rand() is rejected inside aggregates).
        audit_desc(segs.sparkSession, f"split:kernel+ckpt r{rnd}")
        marks, probe = _checkpoint_observed(
            marks,
            [
                F.count("*").alias("n"),
                F.max("is_round").alias("any_round"),
                F.max("col_ovl").alias("any_col"),
                F.expr(
                    f"percentile_approx("
                    "IF(pmod(hash(_sid, px, py), 20) = 0, px, NULL),"
                    f" array({fracs}), 100)"
                ).alias("pq"),
            ],
        )
        n_marks = int(probe["n"])
        if n_marks == 0:
            break  # n_hint is exact: nothing was applied this round
        need_fix = bool(probe["any_round"])
        has_col = bool(probe["any_col"])
        terminal = not need_fix
        if terminal and probe["pq"]:
            strip_edges = sorted(set(2 * int(q) for q in probe["pq"]))
        lazy = terminal and not checkpoint_last and checkpoint_dir is None
        if lazy and not has_col and not extra_aggs:
            # both inputs are checkpointed, so the fill plan that applies them
            # stays shallow
            pending = _union_marks(segs, marks)
            applied = _apply_rows(pending)
        else:
            applied = apply_marks_df(
                segs, marks, extra_aggs, skip_final_merge=not need_fix and not has_col
            )
        if lazy:
            # each mark row adds at most one sub-segment to one parent, so
            # pre-count + mark rows bounds the lazy output
            n_hint += n_marks
            segs = applied
            break
        path = None if checkpoint_dir is None else f"{checkpoint_dir}/split_r{rnd}"
        audit_desc(segs.sparkSession, f"split:apply+ckpt r{rnd}")
        segs, bounds = _checkpoint_segments(applied, path)
        n_hint = bounds[0]
        if terminal:
            break
    return SplitResult(segs.drop("_sid"), n_hint, strip_edges, pending)


# ---------------------------------------------------------------------------------
# distributed fill (A10): x-strip ray-cast


FILL_SCHEMA = StructType(
    [
        StructField("ax", LongType()),
        StructField("ay", LongType()),
        StructField("bx", LongType()),
        StructField("by", LongType()),
        StructField("subj", LongType()),
        StructField("clip", LongType()),
        StructField("fill", IntegerType()),
    ]
)


_FILL_ARROW_SCHEMA = pa.schema(
    [
        ("ax", pa.int64()),
        ("ay", pa.int64()),
        ("bx", pa.int64()),
        ("by", pa.int64()),
        ("subj", pa.int64()),
        ("clip", pa.int64()),
        ("fill", pa.int32()),
    ]
)

# boundary-blob fill output (compute_fills_df with boundary_rule): ONE row per
# fill reduce partition holding the partition's whole boundary set as a raw
# buffer — ax|ay|bx|by (cnt each, wc-byte words) then fill (cnt uint8). cnt and
# cmax ride as columns so extract's metadata is a trivial sum/max over
# ~n_partitions rows instead of a scan of millions.
BOUNDARY_BLOB_SCHEMA = StructType(
    [
        StructField("cnt", LongType()),
        StructField("wc", IntegerType()),  # coord word size: 4 or 8
        StructField("cmax", LongType()),
        StructField("xyf", BinaryType()),
    ]
)


def _boundary_blob_batch(ax, ay, bx, by, fill) -> pa.RecordBatch:
    """Pack one boundary set into a single BOUNDARY_BLOB_SCHEMA row. Coordinate
    words narrow to int32 when the actual values fit (the reader re-widens)."""
    cmax = max(int(np.abs(c).max(initial=0)) for c in (ax, ay, bx, by))
    cdt = np.int32 if cmax < 2**31 else np.int64
    blob = np.concatenate(
        [np.ascontiguousarray(c, dtype=cdt).view(np.uint8) for c in (ax, ay, bx, by)]
        + [fill.astype(np.uint8, copy=False)]
    )
    return record_batch(
        [
            np.array([len(ax)], dtype=np.int64),
            np.array([cdt().itemsize], dtype=np.int32),
            np.array([cmax], dtype=np.int64),
            binary_from_np(blob, [0, len(blob)]),
        ],
        names=["cnt", "wc", "cmax", "xyf"],
    )


def _fill_strips_sorted(ax, ay, bx, by, subj, clip, is_home, s, fill_rule, boundary_rule):
    """Strip-fill core: arrays already sorted by strip id `s`; runs the
    subset-safe fill (kernel/fill.compute_fills_windowed) per contiguous
    strip slice and keeps the home-strip rows.

    Without boundary_rule it yields FILL_SCHEMA batches, one row per segment.
    With boundary_rule it keeps only that rule's result-boundary segments and
    yields ONE BOUNDARY_BLOB_SCHEMA row for the whole partition: the kernel
    already holds the boundary set as numpy arrays, so packing here costs one
    concatenate+tobytes and no extra Arrow crossing. The downstream 64->1
    exchange into the fused extract then moves ~n_partitions blob rows
    instead of millions of segment rows."""
    from ..kernel.extract import boundary_mask
    from ..kernel.fill import compute_fills_windowed

    starts = np.flatnonzero(np.concatenate([[True], s[1:] != s[:-1]]))
    bounds = np.append(starts, len(s))
    outs = []
    for i in range(len(starts)):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        home = is_home[lo:hi]
        if not home.any():
            continue
        segs = Segments(
            ax[lo:hi], ay[lo:hi], bx[lo:hi], by[lo:hi], subj[lo:hi], clip[lo:hi]
        )
        # threads=1: this kernel already runs on every executor thread in
        # parallel (one partition per strip group) — nested pools would
        # oversubscribe the box
        fills = compute_fills_windowed(segs, fill_rule, threads=1)
        mask = home
        if boundary_rule is not None:
            mask = mask & boundary_mask(fills.astype(np.uint8), boundary_rule)
            outs.append(
                (
                    ax[lo:hi][mask], ay[lo:hi][mask],
                    bx[lo:hi][mask], by[lo:hi][mask],
                    fills[mask].astype(np.uint8),
                )
            )
        else:
            outs.append(
                (
                    ax[lo:hi][mask], ay[lo:hi][mask],
                    bx[lo:hi][mask], by[lo:hi][mask],
                    subj[lo:hi][mask], clip[lo:hi][mask],
                    fills[mask].astype(np.int32),
                )
            )
    if not outs:
        return
    cols = [np.concatenate([o[k] for o in outs]) for k in range(len(outs[0]))]
    if boundary_rule is not None:
        yield _boundary_blob_batch(*cols)
        return
    yield record_batch(cols, schema=_FILL_ARROW_SCHEMA)


# packed strip-chain shuffle rows: one row per (upstream partition, strip)
# holding the strip's segment arrays as raw little-endian buffers — the
# shuffle then moves thousands of blob rows instead of millions of segment
# rows (same payload bytes, none of the per-row serialization)
PACKED_STRIP_SCHEMA = StructType(
    [
        StructField("strip", IntegerType()),
        StructField("cnt", LongType()),
        StructField("wc", IntegerType()),  # coord word size: 4 or 8
        StructField("ww", IntegerType()),  # winding word size: 4 or 8
        StructField("xy", BinaryType()),  # ax|ay|bx|by, cnt each
        StructField("sc", BinaryType()),  # subj|clip, cnt each
        StructField("hm", BinaryType()),  # is_home, cnt uint8
    ]
)


def _pack_strips_iter(edges, pending: bool):
    """Map-side pack stage (mapInArrow): compute each segment's strip span
    (np.searchsorted against the driver's quantile edges: the strip of a
    doubled-x value is the count of edges <= it, monotone, so the span
    [strip(2ax), strip(2bx)] always holds the home strip(ax + bx); with no
    edges every segment sits in strip 0 as home), explode via np.repeat,
    sort by strip ONCE, and emit one binary-blob row per strip present in the
    partition. Coord/winding words narrow to int32 per partition when the
    actual values fit (the reader re-widens; fill math is unchanged).

    With `pending`, the rows are a SplitResult.pending in _union_marks form
    (segment rows and mark rows, partitioned on `_sid`): the same numpy apply
    as apply_marks_df splits them first, so the terminal round's apply needs
    no stage of its own."""
    E = np.asarray(edges, dtype=np.int64)

    def it(batches):
        chunks = list(batches)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        if not len(tbl):
            return
        if pending:
            segs, _ = _apply_union(tbl)
        else:
            segs = Segments(*(_np_col(tbl, c) for c in SEG_COLS))
        yield _pack_arrays(segs, E)

    return it


def _pack_arrays(segs: Segments, E: np.ndarray) -> pa.RecordBatch:
    """Pack core of _pack_strips_iter: strip spans + explode + one
    PACKED_STRIP_SCHEMA row per strip present."""
    ax, ay, bx, by, subj, clip = segs.ax, segs.ay, segs.bx, segs.by, segs.subj, segs.clip
    s_lo = np.searchsorted(E, 2 * ax, side="right")
    s_hi = np.searchsorted(E, 2 * bx, side="right")
    s_mid = np.searchsorted(E, ax + bx, side="right")
    copies = s_hi - s_lo + 1
    total = int(copies.sum())
    rep = np.repeat(np.arange(len(ax), dtype=np.int64), copies)
    starts = np.zeros(len(ax), dtype=np.int64)
    np.cumsum(copies[:-1], out=starts[1:])
    strip = s_lo[rep] + (np.arange(total, dtype=np.int64) - starts[rep])
    home = strip == s_mid[rep]
    order = np.argsort(strip, kind="stable")
    rep = rep[order]
    strip_s = strip[order]
    home = home[order]
    # per-partition narrowing by the ACTUAL values (no global gate needed)
    cmax = max(
        int(np.abs(a).max(initial=0)) for a in (ax, ay, bx, by)
    ) if len(ax) else 0
    wmax = max(
        int(np.abs(subj).max(initial=0)), int(np.abs(clip).max(initial=0))
    ) if len(ax) else 0
    cdt = np.int32 if cmax < 2**31 else np.int64
    wdt = np.int32 if wmax < 2**31 else np.int64
    sb = np.flatnonzero(np.concatenate([[total > 0], strip_s[1:] != strip_s[:-1]]))
    cnt = np.diff(np.append(sb, total))
    return record_batch(
        [
            strip_s[sb].astype(np.int32),
            cnt,
            np.full(len(sb), cdt().itemsize, dtype=np.int32),
            np.full(len(sb), wdt().itemsize, dtype=np.int32),
            _strip_blob([ax, ay, bx, by], rep, cdt, sb, cnt),
            _strip_blob([subj, clip], rep, wdt, sb, cnt),
            _strip_blob([home], None, np.uint8, sb, cnt),
        ],
        names=["strip", "cnt", "wc", "ww", "xy", "sc", "hm"],
    )


def _strip_blob(cols, rep, dt, starts, counts) -> pa.Array:
    """One binary row per strip: with the strip-sorted columns g = col[rep]
    (col itself when rep is None), strip i's row is g0[s:e] | g1[s:e] | ...
    as `dt` words, s:e = starts[i]:starts[i] + counts[i]; one scatter per
    column into one buffer, no per-row bytes."""
    m, total = len(cols), int(counts.sum())
    seg = np.repeat(np.arange(len(starts)), counts)
    step = counts[seg]
    # word j of column c lands at m * starts[s] + c * counts[s] + (j - starts[s])
    dest = (m - 1) * starts[seg] + np.arange(total)
    out = np.empty(m * total, dtype=dt)
    for col in cols:
        out[dest] = col if rep is None else col[rep]
        dest += step
    offs = m * np.dtype(dt).itemsize * np.append(starts, total)
    return binary_from_np(out, offs, "packed strip blobs")


def _packed_fill_iter(fill_rule: FillRule, boundary_rule: OverlayRule | None = None):
    """Reduce-side unpack + fill (mapInArrow over PACKED_STRIP_SCHEMA rows):
    parse each blob row back to arrays (np.frombuffer memcpy), concatenate the
    rows of each strip in strip order, and run the strip-fill core.

    Per strip: windings of home segments against ALL segments crossing the
    strip (compute fills on the union, keep rows for home segments only). A
    strip group is a SUBSET of the global segment set; the fill's
    ray-at-midpoint windings are exact on it at any coordinate width."""

    def it(batches):
        chunks = list(batches)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks).combine_chunks()
        if not len(tbl):
            return
        strips = _np_col(tbl, "strip")
        cnts = _np_col(tbl, "cnt")
        wcs = _np_col(tbl, "wc")
        wws = _np_col(tbl, "ww")
        xyd, xyo = blobs_np(tbl.column("xy"), "xy")
        scd, sco = blobs_np(tbl.column("sc"), "sc")
        hmd, hmo = blobs_np(tbl.column("hm"), "hm")
        order = np.argsort(strips, kind="stable")
        p_ax, p_ay, p_bx, p_by, p_su, p_cl, p_hm, p_s = (
            [], [], [], [], [], [], [], []
        )
        for r in order.tolist():
            n = int(cnts[r])
            cdt = np.int32 if int(wcs[r]) == 4 else np.int64
            wdt = np.int32 if int(wws[r]) == 4 else np.int64
            xy = np.frombuffer(xyd, cdt, 4 * n, int(xyo[r])).astype(np.int64, copy=False)
            sc = np.frombuffer(scd, wdt, 2 * n, int(sco[r])).astype(np.int64, copy=False)
            p_ax.append(xy[:n])
            p_ay.append(xy[n : 2 * n])
            p_bx.append(xy[2 * n : 3 * n])
            p_by.append(xy[3 * n :])
            p_su.append(sc[:n])
            p_cl.append(sc[n:])
            p_hm.append(hmd[hmo[r] : hmo[r + 1]])
            p_s.append(np.full(n, strips[r], dtype=np.int64))
        yield from _fill_strips_sorted(
            np.concatenate(p_ax), np.concatenate(p_ay),
            np.concatenate(p_bx), np.concatenate(p_by),
            np.concatenate(p_su), np.concatenate(p_cl),
            np.concatenate(p_hm).astype(bool),
            np.concatenate(p_s),
            fill_rule, boundary_rule,
        )

    return it


def compute_fills_df(
    segs: SplitResult | DataFrame,
    fill_rule: FillRule = FillRule.EVEN_ODD,
    n_strips: int | None = None,
    boundary_rule: OverlayRule | None = None,
) -> DataFrame:
    """Distributed winding classification: strip-partition the x-axis on midpoint
    quantiles; every segment is copied into each strip it crosses and evaluated
    (ray-cast at its own midpoint) in its home strip only.

    Correct because: the downward ray at the segment's midpoint x* only crosses
    segments whose x-span contains x*, and every such segment also crosses the home
    strip, hence is present in the group.

    Plan: a pack mapInArrow (strip spans, the copy per strip and the home flag
    in numpy; one binary row per upstream partition and strip) -> ONE hash
    exchange on the strip key -> the fill mapInArrow. When the split fixpoint
    left its terminal apply to this stage (SplitResult.pending), the pack
    stage runs that apply in numpy too.

    segs: split_segments_df's SplitResult, whose segment-count bound and strip
    edges save the sizing jobs, or a plain segment DataFrame.

    Output: FILL_SCHEMA rows, one per segment. With boundary_rule (the ONE
    overlay rule the caller extracts next) the fill kernel keeps only that
    rule's result-boundary segments and emits them as BOUNDARY_BLOB_SCHEMA
    rows, one per reduce partition — extract_shapes_df reads either form."""
    split = segs if isinstance(segs, SplitResult) else SplitResult(segs)
    segs = split.segs
    spark = segs.sparkSession
    n = split.n_segments
    if n is None and n_strips is None:
        n = segs.count()
    if n_strips is None:
        # strip kernels are O(n_strip * m_strip): finer strips cut the quadratic
        # term; per-strip constants are negligible beyond ~2k segments
        n_strips = max(1, min(1024, n // 2000))
    hint_edges = split.strip_edges
    edges: list[int] = []
    if n_strips > 1 and hint_edges:
        # edges precomputed by the split fixpoint's probe (mark-x quantiles,
        # doubled) — zero extra jobs; downsample evenly to the strip budget
        k = len(hint_edges)
        if k > n_strips - 1:
            idx = np.linspace(0, k - 1, n_strips - 1).round().astype(int)
            edges = sorted(set(hint_edges[int(i)] for i in idx))
        else:
            edges = list(hint_edges)
    elif n_strips > 1:
        # strip edges from SAMPLED midpoint quantiles (doubled-coordinate
        # midpoints). Strip edges only steer load balance — fill values are
        # exact for ANY strip boundaries (each segment is still evaluated
        # against everything crossing its home strip) — so a bounded random
        # sample replaces the full-scan approxQuantile: one cheap job whose
        # cost is independent of the segment count (the full scan was a
        # second full pass over the post-split set).
        mids = segs.select(((F.col("ax") + F.col("bx"))).alias("mx2"))
        # unknown n (explicit n_strips, no hint): sample nothing away — small
        # callers pass explicit strip counts on small data
        frac = min(1.0, 400_000 / max(n, 1)) if n is not None else 1.0
        if frac < 1.0:
            mids = mids.sample(fraction=frac, seed=7)
        vals = to_np(mids.toArrow().column("mx2"), np.int64)
        if len(vals):
            qs = np.quantile(
                vals, [i / n_strips for i in range(1, n_strips)], method="lower"
            )
            edges = sorted(set(int(q) for q in qs))

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pending = split.pending is not None
    # with a pending apply: terminal apply + pack in one python stage, behind
    # the one exchange that brings each pre-round segment and its marks together
    rows = split.pending if pending else segs.select(*SEG_COLS)
    packed = rows.mapInArrow(_pack_strips_iter(edges, pending), schema=PACKED_STRIP_SCHEMA)
    # the strip hash shuffle carries thousands of blob rows instead of millions
    # of segment rows (same payload bytes, none of the per-row serialization)
    return packed.repartition(n_part, "strip").mapInArrow(
        _packed_fill_iter(fill_rule, boundary_rule),
        schema=FILL_SCHEMA if boundary_rule is None else BOUNDARY_BLOB_SCHEMA,
    )


def _local_overlay_kernel(rule: OverlayRule, fill_rule: FillRule, options: OverlayOptions):
    """One-task exact kernel over a merged segment set: split fixpoint + fill +
    extract + hole binding, all in numpy/python — the List-solver analog.
    A mapInArrow iterator: the caller's repartition(1) hands it every segment.

    Runs the scalar kernel's stages on the whole set: split_segments (the
    vectorized exact solver, python-int past its int64 bound), the fill
    compute_fills_windowed, then the fused extract's walk + bind
    (distributed_extract._fused_extract_arrays) on the rule's boundary."""
    from ..kernel.extract import boundary_mask
    from ..kernel.fill import compute_fills_windowed
    from ..kernel.split import split_segments
    from .distributed_extract import _fused_extract_arrays

    def run(it):
        batches = list(it)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return
        segs = Segments(*(_np_col(tbl, c) for c in SEG_COLS))
        segs = split_segments(segs, threads=1)
        fills = compute_fills_windowed(segs, fill_rule)
        b = boundary_mask(fills, rule)
        if b.any():
            yield from _fused_extract_arrays(
                rule, options, segs.ax[b], segs.ay[b], segs.bx[b], segs.by[b], fills[b]
            ).to_batches()

    return run


def distributed_overlay(
    segs: DataFrame,
    rule: OverlayRule,
    fill_rule: FillRule = FillRule.EVEN_ODD,
    options: OverlayOptions | None = None,
    checkpoint_dir: str | None = None,
    small_threshold: int = 100_000,
    pair_threshold: int = 40_000,
    force_distributed: bool = False,
) -> DataFrame:
    """End-to-end distributed boolean overlay of ONE huge job.

    Strategy dispatch (reference Solver::is_list_split / is_fragmentation_required,
    iOverlay/src/core/solver.rs:141-189, applied at pipeline level): the
    distributed MERGE always runs (it is the stage that shrinks the data — e.g. a
    contiguous checkerboard's interior edges cancel), then TWO criteria pick the
    plan: the post-merge segment count AND an estimated candidate-pair bound
    (sum of c·(c−1)/2 over a 32×32 grid-cover histogram). The pair bound matters
    because post-merge size says nothing about post-SPLIT size — a lines-net of
    2n long strips is only 8n segments but explodes into n² crossings, which
    would OOM a single task at scale. Both small → one mapInArrow task runs
    the exact kernel (split + fill + extract + hole binding) in one job; either
    large (or force_distributed) → the fully distributed fixpoint / x-strip fill
    / component extraction pipeline. Differential tests assert the paths agree.

    segs: (ax, ay, bx, by, subj, clip) raw directed-normalized segments (e.g. from
    the DataFrame segment builder). Returns rings: (shape_id, ring_id, is_hole,
    pts_x, pts_y, area2)."""
    from ..session import audit_desc, ship_package

    ship_package(segs.sparkSession)
    from .distributed_extract import RINGS_OUT_SCHEMA, extract_shapes_df

    if options is None:
        options = OverlayOptions()
    audit_desc(segs.sparkSession, "merge+ckpt")
    # the merge checkpoint also observes the count + bbox and stores the
    # split's `_sid` key
    merged, bounds = _checkpoint_segments(merge_segments_df(segs))
    if not force_distributed and bounds[0] <= small_threshold:
        _, loads = salted_cover(merged, cells_per_axis=32, hot_threshold=1 << 62, bounds=bounds)
        est_pairs = int(
            loads.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0
        )
        # every crossing adds two sub-segments: the POST-split size bound is what
        # the one-task kernel's O(n*m) fill must survive, not the input size
        est_out = bounds[0] + 2 * est_pairs
        if est_out <= pair_threshold:
            # repartition(1) + mapInArrow, not a constant-key grouped map: the
            # grouped-map plan sorts the partition by its key before grouping
            return merged.select(*SEG_COLS).repartition(1).mapInArrow(
                _local_overlay_kernel(rule, fill_rule, options), schema=RINGS_OUT_SCHEMA
            )
    split = split_segments_df(
        merged,
        checkpoint_dir=checkpoint_dir,
        bounds=bounds,
        # the fill stage's shuffle is the sole consumer of the terminal apply:
        # its pack stage runs it (SplitResult.pending)
        checkpoint_last=False,
    )
    # boundary rows leave the fill kernel as per-partition binary blobs (the
    # kernel already holds them as numpy arrays — packing there is free and
    # the fused 64->1 exchange then carries ~n_partitions rows
    # instead of millions)
    fills = compute_fills_df(split, fill_rule, boundary_rule=rule)
    return extract_shapes_df(
        fills,
        rule,
        options,
        # post-split row count UPPER BOUND >= boundary rows: when it already
        # clears the fused cap, extract needs no metadata and no fills checkpoint
        n_edges_hint=split.n_segments,
    )


def contours_to_segments_df(spark: SparkSession, contours_df: DataFrame) -> DataFrame:
    """(role, cid, pts_x, pts_y) contour rows -> normalized segments, pure Column ops.

    Map-side only: edge pairs are built INSIDE the array columns (transform over
    index i pairing point i with point (i+1) mod n), then exploded — no window,
    no shuffle (a lead()-window formulation would range-shuffle every point).
    `cid` remains the caller-provided stable contour id (determinism), though the
    output no longer depends on it."""
    pairs = contours_df.where(F.size("pts_x") >= 2).select(
        "role",
        F.explode(
            F.expr(
                "transform(sequence(0, size(pts_x) - 1), i -> struct("
                " pts_x[i] AS p0x, pts_y[i] AS p0y,"
                " pts_x[(i + 1) % size(pts_x)] AS p1x,"
                " pts_y[(i + 1) % size(pts_x)] AS p1y))"
            )
        ).alias("e"),
    )
    nxt = pairs.select(
        "role",
        F.col("e.p0x").alias("p0x"),
        F.col("e.p0y").alias("p0y"),
        F.col("e.p1x").alias("p1x"),
        F.col("e.p1y").alias("p1y"),
    ).where((F.col("p0x") != F.col("p1x")) | (F.col("p0y") != F.col("p1y")))
    fwd = (F.col("p0x") < F.col("p1x")) | (
        (F.col("p0x") == F.col("p1x")) & (F.col("p0y") < F.col("p1y"))
    )
    sgn = F.when(fwd, F.lit(1)).otherwise(F.lit(-1))
    return nxt.select(
        F.when(fwd, F.col("p0x")).otherwise(F.col("p1x")).alias("ax"),
        F.when(fwd, F.col("p0y")).otherwise(F.col("p1y")).alias("ay"),
        F.when(fwd, F.col("p1x")).otherwise(F.col("p0x")).alias("bx"),
        F.when(fwd, F.col("p1y")).otherwise(F.col("p0y")).alias("by"),
        F.when(F.col("role") == "subject", sgn).otherwise(F.lit(0)).cast("long").alias("subj"),
        F.when(F.col("role") == "clip", sgn).otherwise(F.lit(0)).cast("long").alias("clip"),
    )
