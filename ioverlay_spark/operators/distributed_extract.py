"""Distributed contour extraction for the huge-overlay pipeline (SURVEY.md A11-A14).

boundary filter  -> Column expressions over the fill bits (or the fill
                    kernel's boundary blobs, already filtered)
fused extract    -> up to 8 M boundary edges: ONE task labels components
                    (numpy union-find), walks + validates every ring and
                    binds holes (kernel.extract.bind_holes)
components       -> past it: one union-find task (repartition(1).mapInArrow)
                    or alternating large-star / small-star label propagation
                    (O(log n) rounds; each round = two joins + aggregates)
per-component    -> salted groupBy(_salt).applyInArrow running the exact
                    kernel walk on each component of the group
hole binding     -> past it: distributed "segments strictly below the
                    anchor" scan: anchors x hull segments equi-joined on
                    x-bands, an exact DECIMAL below test and crossing parity;
                    a hole's smallest containing hull is its shape
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from ..arrow_np import blobs_np, from_np, list_from_np, list_np, record_batch
from ..kernel.cluster import _cc_label_arrays
from ..kernel.extract import RingSet, area2_int64, bind_holes
from ..options import ContourDirection, FillRule, OverlayOptions, OverlayRule
from .distributed import (
    BOUNDARY_BLOB_SCHEMA,
    _boundary_blob_batch,
    _checkpoint_observed,
    _np_col,
)


def boundary_segments_df(fills: DataFrame, rule: OverlayRule) -> DataFrame:
    """A11: keep result-boundary segments (membership differs across sides)."""
    from ..kernel.fill import CLIP_BOTTOM, CLIP_TOP, SUBJ_BOTTOM, SUBJ_TOP

    s_top = (F.col("fill").bitwiseAND(SUBJ_TOP) != 0).alias("s_top")
    s_bot = (F.col("fill").bitwiseAND(SUBJ_BOTTOM) != 0).alias("s_bot")
    c_top = (F.col("fill").bitwiseAND(CLIP_TOP) != 0).alias("c_top")
    c_bot = (F.col("fill").bitwiseAND(CLIP_BOTTOM) != 0).alias("c_bot")

    def member(s, c):
        if rule == OverlayRule.SUBJECT:
            return s
        if rule == OverlayRule.CLIP:
            return c
        if rule == OverlayRule.INTERSECT:
            return s & c
        if rule == OverlayRule.UNION:
            return s | c
        if rule == OverlayRule.DIFFERENCE:
            return s & ~c
        if rule == OverlayRule.INVERSE_DIFFERENCE:
            return c & ~s
        return s != c  # XOR (boolean Columns don't support ^)

    df = fills.select("*", s_top, s_bot, c_top, c_bot)
    return df.where(
        member(F.col("s_top"), F.col("c_top")) != member(F.col("s_bot"), F.col("c_bot"))
    ).drop("s_top", "s_bot", "c_top", "c_bot")


def _union_find_iter(batches):
    """Single-task connected components (mapInArrow over the ONE partition
    holding every edge): (node, component = min node id of the component).
    Arrow-native: the edge columns come in zero-copy and the node map goes
    back as two flat int64 arrays — no pandas wrap on a path that moves
    millions of rows through one task."""
    chunks = list(batches)
    if not chunks:
        return
    tbl = pa.Table.from_batches(chunks)
    if not len(tbl):
        return
    nodes, parent = _cc_label_arrays(_np_col(tbl, "u"), _np_col(tbl, "v"))
    yield record_batch([nodes, nodes[parent]], names=["node", "component"])


def connected_components(
    edges: DataFrame,
    max_rounds: int = 40,
    local_threshold: int = 4_000_000,
    count_hint: int | None = None,
) -> DataFrame:
    """Connected components: edges(u, v) long node ids -> (node, component=min id).

    Strategy dispatch (the reference Solver's list/tree/frag idea, A3): below
    `local_threshold` edges the whole problem fits one executor task — a single
    union-find task (ONE job, no driver loop); above it, alternating
    large-star/small-star label propagation (Kiveris et al.), O(log n) rounds of
    joins + aggregates, each round localCheckpointed to cut lineage. Both paths
    produce identical output (component = min node id of the component).

    Self-loop edges (u == v) are filtered BEFORE the dispatch so both plans see
    the same edge set — a node appearing only in self-loops is absent from the
    output on either path (ADVICE r02). The dispatch count is a bounded
    limit-probe, not a full count, so the large path doesn't pay a full extra
    action just to route; callers that already know an upper bound on the edge
    count (count_hint) skip the probe job entirely."""
    canon = edges.select("u", "v").where(F.col("u") != F.col("v"))
    probe = count_hint if count_hint is not None else canon.limit(local_threshold + 1).count()
    if probe <= local_threshold:
        # repartition(1) + mapInArrow, not a constant-key grouped map: the
        # grouped-map plan sorts the partition by its key before grouping
        return canon.repartition(1).mapInArrow(
            _union_find_iter, schema="node long, component long"
        )
    e = canon.distinct()
    # undirected -> keep both directions for neighborhood construction
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # parent starts as min neighbor (including self)
    parent = (
        sym.select("u", "v")
        .unionAll(sym.select("u", F.col("u").alias("v")))
        .groupBy("u")
        .agg(F.min("v").alias("p"))
        .localCheckpoint(eager=True)
    )
    cur = sym
    for _ in range(max_rounds):
        # large-star: for each node u, attach neighbors v > u to min(parent of u's
        # neighborhood); small-star: attach parents. Implemented as the standard
        # "hash-to-min" variant: propagate min component id across edges until stable.
        p1 = parent.alias("pu")
        j = (
            cur.join(p1, cur["u"] == F.col("pu.u"))
            .select(cur["v"].alias("u"), F.col("pu.p").alias("cand"))
        )
        new_parent = (
            j.unionAll(parent.select(F.col("u"), F.col("p").alias("cand")))
            .groupBy("u")
            .agg(F.min("cand").alias("p"))
            .localCheckpoint(eager=True)
        )
        # pointer jumping: p = parent[parent[u]] (doubles propagation distance)
        pj = (
            new_parent.alias("a")
            .join(
                new_parent.select(F.col("u").alias("pu2"), F.col("p").alias("pp")).alias("b"),
                F.col("a.p") == F.col("pu2"),
                "left",
            )
            .select(F.col("a.u").alias("u"), F.coalesce("pp", "a.p").alias("p"))
            .localCheckpoint(eager=True)
        )
        changed = (
            pj.alias("n")
            .join(parent.alias("o"), "u")
            .where(F.col("n.p") != F.col("o.p"))
            .isEmpty()
        )
        parent = pj
        if changed:
            break
    return parent.select(F.col("u").alias("node"), F.col("p").alias("component"))


# final output of both overlay plans (distributed extraction and the one-task
# small-path kernel): resolved shape ids + rings
RINGS_OUT_SCHEMA = StructType(
    [
        StructField("shape_id", LongType()),
        StructField("ring_id", LongType()),
        StructField("is_hole", BooleanType()),
        StructField("pts_x", ArrayType(LongType())),
        StructField("pts_y", ArrayType(LongType())),
        StructField("area2", LongType()),
    ]
)

RINGS_SCHEMA = StructType(
    [
        StructField("component", LongType()),
        StructField("ring_id", LongType()),
        StructField("is_hole", BooleanType()),
        StructField("pts_x", ArrayType(LongType())),
        StructField("pts_y", ArrayType(LongType())),
        StructField("area2", LongType()),
        StructField("anchor_x", LongType()),
        StructField("anchor_y", LongType()),
    ]
)


_RINGS_ARROW_SCHEMA = pa.schema(
    [
        ("component", pa.int64()),
        ("ring_id", pa.int64()),
        ("is_hole", pa.bool_()),
        ("pts_x", pa.list_(pa.int64())),
        ("pts_y", pa.list_(pa.int64())),
        ("area2", pa.int64()),
        ("anchor_x", pa.int64()),
        ("anchor_y", pa.int64()),
    ]
)


def _extract_kernel(rule: OverlayRule, options: OverlayOptions):
    """Kernel over a SALT group holding MANY components (one grouped-map call
    per component would pay per-group Arrow overhead x millions of components;
    salting bounds the group count while each component is still walked alone).

    Arrow-native (applyInArrow): input columns land zero-copy in numpy, and the
    rings go back as Arrow list columns built straight from the validated CSR ring
    set (_extract_rings_core) — the per-ring .tolist() materialization this
    replaces was over half the kernel's wall-clock at 262k rings (lines_net
    audit, BENCH.md round 4)."""

    def run(tbl: pa.Table) -> pa.Table:
        # globally-unique ring ids without arithmetic on component ids (packed
        # node ids reach ~2^62, so comp * K overflows int64): compose from the
        # salt-group id (disjoint across kernel invocations) and a local counter
        salt = (
            int(_np_col(tbl, "_salt")[0])
            if "_salt" in tbl.column_names and len(tbl)
            else 0
        )
        if not len(tbl):
            return pa.Table.from_batches([], schema=_RINGS_ARROW_SCHEMA)
        comp_arr = _np_col(tbl, "component")
        axv = _np_col(tbl, "ax")
        ayv = _np_col(tbl, "ay")
        bxv = _np_col(tbl, "bx")
        byv = _np_col(tbl, "by")
        fills_arr = _np_col(tbl, "fill", np.uint8)
        return _extract_rings_core(
            rule, options, comp_arr, axv, ayv, bxv, byv, fills_arr, salt
        )

    return run


def _extract_rings_core(
    rule: OverlayRule,
    options: OverlayOptions,
    comp_arr: np.ndarray,
    axv: np.ndarray,
    ayv: np.ndarray,
    bxv: np.ndarray,
    byv: np.ndarray,
    fills_arr: np.ndarray,
    salt: int,
    threads: int = 1,
) -> pa.Table:
    """Shared walk + Arrow emission over (component-labeled) boundary segments:
    one extract.walk_rings call per chunk of components (slot = component),
    validate_rings, take each kept ring's lexmin anchor, emit Arrow.

    threads > 1 splits the components into contiguous chunks walked on a
    thread pool — exact: components never share an endpoint, so every
    per-component computation of the batch walk is unchanged under chunking
    (ring ids differ only in assignment order, which nothing consumes: a ring
    id is an opaque key for hole binding and the shape id). Used by the FUSED
    single-task extract, where one python task owns the whole boundary set
    while the rest of the executor sits idle; the salted multi-task kernel
    keeps threads=1."""
    from types import SimpleNamespace

    from ..kernel.extract import (
        boundary_mask,
        concat_rings,
        ring_starts,
        validate_rings,
        walk_rings,
    )

    clockwise = options.output_direction == ContourDirection.CLOCKWISE
    # ONE lexsort over the whole salt group + flat per-component list slices
    # (the batch kernel's shape): a pandas groupby with per-component numpy
    # gathers cost ~68us per 4-edge component on lines_net
    order = np.lexsort((byv, bxv, ayv, axv, comp_arr))
    comp_arr = comp_arr[order]
    axv, ayv, bxv, byv = axv[order], ayv[order], bxv[order], byv[order]
    fills_arr = fills_arr[order]
    bmask = boundary_mask(fills_arr, rule)
    starts = np.flatnonzero(np.concatenate([[True], comp_arr[1:] != comp_arr[:-1]]))
    bounds = np.concatenate([starts, [len(comp_arr)]])
    ncomp = len(starts)
    comps = comp_arr[starts]

    def _chunk_rings(c0: int, c1: int):
        """Validated rings (slot = component index) + area2 of components
        [c0, c1): one walk_rings call with slot = component (components never
        share an endpoint: they are connectivity classes over exact
        endpoints), zero per-slot offsets."""
        lo, hi = int(bounds[c0]), int(bounds[c1])
        z = np.zeros(c1 - c0, dtype=np.int64)
        rings = walk_rings(
            SimpleNamespace(ax=axv[lo:hi], ay=ayv[lo:hi], bx=bxv[lo:hi], by=byv[lo:hi]),
            bmask[lo:hi], fills_arr[lo:hi], bounds[c0 : c1 + 1] - lo, rule, clockwise, z, z,
        )
        rings, a2 = validate_rings(rings, options)
        return rings._replace(slot=rings.slot + c0), a2

    k = max(1, min(int(threads), ncomp))
    if k <= 1 or len(comp_arr) < 200_000:
        results = [_chunk_rings(0, ncomp)]
    else:
        # equal-ROW chunk boundaries snapped to component starts
        cuts = np.searchsorted(
            bounds, np.linspace(0, len(comp_arr), k + 1).astype(np.int64)
        )
        cuts = np.unique(np.clip(cuts, 0, ncomp))
        if cuts[0] != 0:
            cuts = np.concatenate([[0], cuts])
        if cuts[-1] != ncomp:
            cuts = np.concatenate([cuts, [ncomp]])
        spans = list(zip(cuts[:-1].tolist(), cuts[1:].tolist()))
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(spans)) as ex:
            results = list(ex.map(lambda se: _chunk_rings(*se), spans))
    rings = concat_rings([r for r, _ in results])
    nring = len(rings.lens)
    if nring == 0:
        return pa.Table.from_batches([], schema=_RINGS_ARROW_SCHEMA)
    a2 = area2_int64(np.concatenate([a for _, a in results]))

    # lexicographic-min anchor per ring: min x, then min y among the points
    # at that x
    pos = ring_starts(rings.lens)
    x, y = rings.x, rings.y
    anchor_x = np.minimum.reduceat(x, pos)
    at_min = x == np.repeat(anchor_x, rings.lens)
    anchor_y = np.minimum.reduceat(np.where(at_min, y, np.iinfo(np.int64).max), pos)

    ring_ids = salt * (1 << 40) + np.arange(1, nring + 1, dtype=np.int64)
    offs = np.append(pos, len(x))
    cols = [
        comps[rings.slot],
        ring_ids,
        rings.hole,
        list_from_np(offs, x, "extract rings"),
        list_from_np(offs, y, "extract rings"),
        a2,
        anchor_x,
        anchor_y,
    ]
    return pa.Table.from_batches([record_batch(cols, schema=_RINGS_ARROW_SCHEMA)])


_NODE_CAP = 1 << 30  # the 2^30-biased node packing is exact for |coords| below it


def _fused_extract_arrays(
    rule: OverlayRule,
    options: OverlayOptions,
    ax: np.ndarray,
    ay: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
    fills_arr: np.ndarray,
) -> pa.Table:
    """Single-task CC + walk + bind FUSION for boundary sets up to the fused
    cap: one task receives the whole boundary set, labels components in-kernel
    (numpy union-find, the same _cc_label_arrays the one-task CC path uses),
    walks and validates rings via the shared _extract_rings_core (one
    extract.walk_rings call per thread chunk, any ring length) and binds them
    with _bind_rings_table: RINGS_OUT_SCHEMA rows.

    Vs the broadcast-CC path this removes, per overlay: the edge shuffle to the
    CC task, the node->component broadcast build, the map-side hash join and
    the salt re-shuffle of the boundary set — the boundary blobs move through
    exactly ONE shuffle (into this task).

    Node ids: 2^30-biased packing when coordinates fit (exact), else local
    dense ids from np.unique over the endpoint rows — exact at any width, no
    _wide_node_ids join needed on this path."""
    cmax = max(
        int(np.abs(ax).max()), int(np.abs(ay).max()),
        int(np.abs(bx).max()), int(np.abs(by).max()),
    )
    if cmax < _NODE_CAP:
        u = (ax + _NODE_CAP) * (2 * _NODE_CAP) + (ay + _NODE_CAP)
        v = (bx + _NODE_CAP) * (2 * _NODE_CAP) + (by + _NODE_CAP)
    else:
        pts = np.stack(
            [np.concatenate([ax, bx]), np.concatenate([ay, by])], axis=1
        )
        _, inv = np.unique(pts, axis=0, return_inverse=True)
        u, v = inv[: len(ax)].astype(np.int64), inv[len(ax):].astype(np.int64)
    nodes, parent = _cc_label_arrays(u, v)
    comp_of_u = nodes[parent[np.searchsorted(nodes, u)]]
    # this kernel owns the ONE task of its stage (repartition(1)) — the
    # rest of the executor is idle, so the component walk threads out
    threads = min(8, os.cpu_count() or 1)
    return _bind_rings_table(
        _extract_rings_core(
            rule, options, comp_of_u, ax, ay, bx, by, fills_arr, 0, threads=threads
        )
    )


def _bind_rings_table(tbl: pa.Table) -> pa.Table:
    """In-kernel hole binding of one task's rings (RINGS_SCHEMA rows, bound as
    one slot: a hole and its hull are different components) to
    RINGS_OUT_SCHEMA rows: a hull's shape_id is its ring_id, a hole's is its
    hull's, and unbound holes are dropped."""
    offs, px = list_np(tbl.column("pts_x"), "pts_x")
    _, py = list_np(tbl.column("pts_y"), "pts_y")
    hole = _np_col(tbl, "is_hole", bool)
    lens = np.diff(offs)
    shape, _ = bind_holes(RingSet(np.zeros(len(lens), dtype=np.int64), hole, lens, px, py))
    keep = np.flatnonzero(shape >= 0)
    ids = _np_col(tbl, "ring_id")[~hole][shape[keep]]
    out = tbl.select(RINGS_OUT_SCHEMA.fieldNames()[1:]).take(from_np(keep))
    return out.add_column(0, "shape_id", from_np(ids, np.int64))


def _blob_boundary_arrays(tbl: pa.Table):
    """Parse BOUNDARY_BLOB_SCHEMA rows (fill-stage in-kernel pack, see
    distributed._fill_strips_sorted) back to (ax, ay, bx, by, fill) numpy
    arrays — np.frombuffer memcpy per row, one concatenate per column.
    Word sizes may differ per row (per-partition narrowing); concatenate
    upcasts, then a final astype pins int64."""
    cnts = _np_col(tbl, "cnt")
    wcs = _np_col(tbl, "wc")
    data, offs = blobs_np(tbl.column("xyf"), "xyf")
    axs, ays, bxs, bys, fls = [], [], [], [], []
    for r in range(len(tbl)):
        n = int(cnts[r])
        w = int(wcs[r])
        o = int(offs[r])
        cdt = np.int32 if w == 4 else np.int64
        xy = np.frombuffer(data, dtype=cdt, count=4 * n, offset=o)
        axs.append(xy[:n])
        ays.append(xy[n : 2 * n])
        bxs.append(xy[2 * n : 3 * n])
        bys.append(xy[3 * n :])
        fls.append(data[o + 4 * n * w : o + 4 * n * w + n])
    if not axs:
        z = np.zeros(0, np.int64)
        return z, z, z, z, np.zeros(0, np.uint8)
    return (
        np.concatenate(axs).astype(np.int64, copy=False),
        np.concatenate(ays).astype(np.int64, copy=False),
        np.concatenate(bxs).astype(np.int64, copy=False),
        np.concatenate(bys).astype(np.int64, copy=False),
        np.concatenate(fls),
    )


def _fused_extract_blob_iter(rule: OverlayRule, options: OverlayOptions):
    """Single-task fused extract over BOUNDARY_BLOB_SCHEMA rows: unpack the
    blobs (memcpy) and run the fused CC+walk+bind kernel on the arrays."""

    def it(batches):
        chunks = list(batches)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        if not len(tbl):
            return
        ax, ay, bx, by, fl = _blob_boundary_arrays(tbl)
        if not len(ax):
            return
        yield from _fused_extract_arrays(rule, options, ax, ay, bx, by, fl).to_batches()

    return it


def _blob_rows_iter(batches):
    """Unpack BOUNDARY_BLOB_SCHEMA rows back to the per-segment row feed
    (ax, ay, bx, by, fill) — the giant-boundary fallback where the salted
    multi-task extract needs plain rows."""
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        if not len(tbl):
            continue
        ax, ay, bx, by, fl = _blob_boundary_arrays(tbl)
        if not len(ax):
            continue
        yield record_batch(
            [ax, ay, bx, by, fl.astype(np.int32)], names=["ax", "ay", "bx", "by", "fill"]
        )


def _pack_boundary_rows_iter(batches):
    """Pack one partition's boundary rows (ax, ay, bx, by, fill) into a single
    BOUNDARY_BLOB_SCHEMA row — the inverse of _blob_rows_iter, so FILL_SCHEMA
    input reaches the same blob-fed extract as the fill kernel's own pack."""
    chunks = list(batches)
    if not chunks:
        return
    tbl = pa.Table.from_batches(chunks)
    if not len(tbl):
        return
    yield _boundary_blob_batch(
        _np_col(tbl, "ax"), _np_col(tbl, "ay"), _np_col(tbl, "bx"), _np_col(tbl, "by"),
        _np_col(tbl, "fill", np.uint8),
    )


def _node_expr(x: str, y: str) -> F.Column:
    # 2^30-biased packing of a point into one long node id: ids live in
    # [0, 2^62) — exact (collision-free) for |coords| < _NODE_CAP = 2^30.
    # Wider grids take _wide_node_ids (exact
    # dense ids via a distinct-points dim), never a silent collision
    # (VERDICT r02 Wrong #3).
    return (F.col(x) + F.lit(_NODE_CAP)) * F.lit(2 * _NODE_CAP) + (F.col(y) + F.lit(_NODE_CAP))


def _wide_node_ids(b: DataFrame) -> DataFrame:
    """Exact node ids for out-of-cap coordinate grids: dense ids from a distinct
    endpoint dim table, joined back onto both segment ends. One extra shuffle,
    zero collision risk at any coordinate width."""
    pts = (
        b.select(F.col("ax").alias("px"), F.col("ay").alias("py"))
        .unionAll(b.select(F.col("bx").alias("px"), F.col("by").alias("py")))
        .distinct()
        .withColumn("nid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    ua = pts.select(
        F.col("px").alias("ax"), F.col("py").alias("ay"), F.col("nid").alias("u")
    )
    vb = pts.select(
        F.col("px").alias("bx"), F.col("py").alias("by"), F.col("nid").alias("v")
    )
    return b.join(ua, ["ax", "ay"]).join(vb, ["bx", "by"])


def _ring_segments_df(rings: DataFrame) -> DataFrame:
    """Ring polylines -> normalized non-vertical segments (ax, ay, bx, by), each
    carrying its ring's other columns. Map-side only: edge pairs built inside
    the array columns (index i paired with (i+1) mod n) then exploded — no
    window, no shuffle. Vertical segments drop out naturally (the downward-ray
    test uses the half-open span [ax, bx))."""
    keys = [c for c in rings.columns if c not in ("pts_x", "pts_y")]
    pairs = rings.where(F.size("pts_x") >= 2).select(
        *keys,
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
        *keys,
        F.col("e.p0x").alias("p0x"),
        F.col("e.p0y").alias("p0y"),
        F.col("e.p1x").alias("p1x"),
        F.col("e.p1y").alias("p1y"),
    ).where(F.col("p0x") != F.col("p1x"))
    fwd = F.col("p0x") < F.col("p1x")
    return nxt.select(
        *keys,
        F.when(fwd, F.col("p0x")).otherwise(F.col("p1x")).alias("ax"),
        F.when(fwd, F.col("p0y")).otherwise(F.col("p1y")).alias("ay"),
        F.when(fwd, F.col("p1x")).otherwise(F.col("p0x")).alias("bx"),
        F.when(fwd, F.col("p1y")).otherwise(F.col("p0y")).alias("by"),
    )


def bind_holes_df(hulls: DataFrame, holes: DataFrame, n_bands: int = 256) -> DataFrame:
    """A14 v2: fully distributed hole->hull binding (no driver-side ring data).

    Downward ray cast from each hole anchor against hull-ring segments
    (reference ShapeBinder scanline, iOverlay/src/bind/solver.rs:25-236,
    re-expressed relationally):
      1. hull segments explode into x-bands (bbox cover on x) — map-side;
      2. hole anchors equi-join their band (the only wide shuffle);
      3. exact strictly-below test in DECIMAL(38,0);
      4. per (hole, hull): crossing parity = containment; the innermost
         containing hull is the one with the smallest |area2| (ties by ring
         id).
    Containing hulls of one overlay's disjoint rings are nested, so the
    smallest is the innermost, and a hole's innermost CONTAINING HULL is its
    parent directly: hole->hole chains resolve without iteration.

    hulls: (ring_id, pts_x, pts_y, area2) rows; holes: (ring_id, anchor_x,
    anchor_y) rows. Returns (hole_ring_id, shape_id). Holes contained by no
    hull are dropped (caller decides). Precondition: anchors do not lie
    exactly on hull segments (guaranteed for disjoint result rings of one
    overlay)."""
    segs = _ring_segments_df(hulls.select("ring_id", "area2", "pts_x", "pts_y"))
    bounds = segs.agg(
        F.min("ax").alias("x0"), F.max("bx").alias("x1"),
        F.min(F.least("ay", "by")).alias("y0"),
    ).first()
    if bounds is None or bounds["x0"] is None:
        spark = hulls.sparkSession
        return spark.createDataFrame([], "hole_ring_id LONG, shape_id LONG")
    x0, x1, y0 = int(bounds["x0"]), int(bounds["x1"]), int(bounds["y0"])
    band = max(1, (x1 - x0 + n_bands - 1) // n_bands)
    # coordinates relative to the hull segments' min corner (x0, y0): the
    # products below then scale with the extent, not the offset
    seg_b = segs.select(
        F.col("ring_id").alias("hull_ring_id"),
        F.abs(F.col("area2").cast("decimal(20,0)")).alias("hull_area"),
        *[(F.col(c) - o).alias(c) for c, o in zip(("ax", "ay", "bx", "by"), (x0, y0) * 2)],
    ).withColumn("band", F.explode(F.expr(f"sequence(ax DIV {band}, bx DIV {band})")))
    anch = holes.select(
        F.col("ring_id").alias("hole_ring_id"),
        (F.col("anchor_x") - x0).alias("anchor_x"),
        (F.col("anchor_y") - y0).alias("anchor_y"),
    ).withColumn("band", F.expr(f"anchor_x DIV {band}"))
    j = anch.join(seg_b, "band").where(
        (F.col("ax") <= F.col("anchor_x")) & (F.col("anchor_x") < F.col("bx"))
    )
    # strictly below: y-at-x = num / den with den = bx - ax > 0, so the test
    # is num < anchor_y * den; shifted extents stay below 2^62, so every
    # product stays below 2^125 and fits DECIMAL(38,0)
    d = {
        c: F.col(c).cast("decimal(38,0)")
        for c in ("ax", "ay", "bx", "by", "anchor_x", "anchor_y")
    }
    den = d["bx"] - d["ax"]
    below = j.where(
        d["ay"] * den + (d["by"] - d["ay"]) * (d["anchor_x"] - d["ax"]) < d["anchor_y"] * den
    )
    per_hull = (
        below.groupBy("hole_ring_id", "hull_ring_id", "hull_area")
        .agg(F.count("*").alias("n_cross"))
        .where(F.col("n_cross") % 2 == 1)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("hole_ring_id").orderBy("hull_area", "hull_ring_id")
    return (
        per_hull.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("hole_ring_id", F.col("hull_ring_id").alias("shape_id"))
    )


# one fused task at 8M edges holds ~500MB of working arrays (input columns +
# node ids + labels + ring buffers) — comfortably inside one executor; beyond
# it connected_components labels the edges and a salted walk takes over
_FUSED_EXTRACT_CAP = 8_000_000


def extract_shapes_df(
    fills: DataFrame,
    rule: OverlayRule,
    options: OverlayOptions = OverlayOptions(),
    band_bits: int = 13,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Full distributed extraction. Returns rings with resolved shape ids:
    (shape_id, ring_id, is_hole, pts_x, pts_y, area2).

    fills: BOUNDARY_BLOB_SCHEMA rows (compute_fills_df with boundary_rule=rule:
    the fill kernel already kept only this rule's boundary and packed it),
    recognized by their `xyf` column, or FILL_SCHEMA rows, which are filtered
    to the boundary of `rule` and packed here. Either way the fused 64->1
    exchange carries one binary blob per partition, and the metadata, when
    needed, is a sum/max over those rows observed on their checkpoint.

    n_edges_hint: an UPPER BOUND on the boundary row count when the caller
    knows one (the overlay pipeline's post-split row count). When it already
    clears the fused cap, the dispatch is decided without any job at all, and
    the fused walk, the blobs' only reader, consumes the fill plan directly.

    Up to the fused cap the result is the fused kernel's lazy output (walk and
    bind_holes in one task: no rings checkpoint, no binding join); past it the
    salted walk's rings go through _bind_and_project."""
    from ..session import audit_desc

    if "xyf" not in fills.columns:
        # extraction reads only coordinates + fill bits: subj/clip never
        # enter the checkpoint or the downstream shuffles
        fills = (
            boundary_segments_df(fills, rule)
            .select("ax", "ay", "bx", "by", "fill")
            .mapInArrow(_pack_boundary_rows_iter, schema=BOUNDARY_BLOB_SCHEMA)
        )
    b = fills
    n_edges = n_edges_hint
    if n_edges is None or n_edges > _FUSED_EXTRACT_CAP:
        # the exact edge count (the fused/salted dispatch and the CC bound:
        # boundary filtering may have cut the true count below the cap) and
        # the coordinate cap for node-id packing, observed on the checkpoint
        # that the dispatch needs anyway
        audit_desc(fills.sparkSession, "fill+boundary:ckpt")
        b, meta = _checkpoint_observed(
            fills, [F.max("cmax").alias("m"), F.sum("cnt").alias("n")]
        )
        cmax, n_edges = meta["m"], int(meta["n"] or 0)
    if n_edges <= _FUSED_EXTRACT_CAP:
        # blob feed straight into ONE task that does CC + walk + bind fused
        # (node ids, labels, the vectorized component walk and the hole
        # binding all in-kernel): the
        # exchange moves ~n_partitions binary rows, no comp-map broadcast or
        # salt re-shuffle, and the task unpacks via np.frombuffer.
        # repartition(1) + mapInArrow instead of a constant-key grouped map:
        # the grouped-map plan SORTS the partition by its key before grouping
        # (measured ~6 s vs ~1 s for a 1 M-row noop); repartition(1), not
        # coalesce(1): the 64-way shuffle write parallelizes and it cannot
        # infect upstream lineage. Differential-tested equal to the salted path.
        audit_desc(fills.sparkSession, "extract:fused blob walk+bind")
        return b.repartition(1).mapInArrow(
            _fused_extract_blob_iter(rule, options), schema=RINGS_OUT_SCHEMA
        )
    # giant boundary set: unpack the blobs back to the per-segment row feed
    # for the salted multi-task plan below (rare — the fused cap is 8 M
    # edges; the unpack is a memcpy map over the checkpointed blobs)
    b = b.mapInArrow(
        _blob_rows_iter, schema="ax long, ay long, bx long, by long, fill int"
    )
    if cmax is not None and int(cmax) >= _NODE_CAP:
        bb = _wide_node_ids(b)
        comp = connected_components(bb.select("u", "v"), count_hint=n_edges)
        labeled = bb.join(comp, on=bb["u"] == comp["node"]).drop("node", "u", "v")
    else:
        edges = b.select(
            _node_expr("ax", "ay").alias("u"), _node_expr("bx", "by").alias("v")
        )
        comp = connected_components(edges, count_hint=n_edges)
        labeled = (
            b.withColumn("u", _node_expr("ax", "ay"))
            .join(comp, on=F.col("u") == comp["node"])
            .drop("node", "u")
        )
    n_part = int(fills.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    audit_desc(fills.sparkSession, "extract:salted walk+ckpt")
    rings = (
        # salt components into a BOUNDED number of groups (per-group Arrow
        # overhead x millions of tiny components would dominate otherwise);
        # the kernel walks each component separately inside the group
        labeled.withColumn("_salt", F.pmod(F.hash("component"), F.lit(8 * n_part)))
        .groupBy("_salt")
        .applyInArrow(_extract_kernel(rule, options), schema=RINGS_SCHEMA)
    )
    return _bind_and_project(rings)


def _bind_and_project(rings: DataFrame) -> DataFrame:
    """Tail of the salted extract plan (the fused kernel binds in-kernel):
    checkpoint the raw rings (observing their hole count in the same job),
    then bind_holes_df + the final shape-id projection."""
    rings, m = _checkpoint_observed(rings, [F.count_if("is_hole").alias("holes")])
    hulls = rings.where(~F.col("is_hole"))
    holes = rings.where(F.col("is_hole"))
    if not m["holes"]:
        return rings.select(
            F.col("ring_id").alias("shape_id"), "ring_id", "is_hole", "pts_x", "pts_y", "area2"
        )

    # v2 hole binding: distributed below-anchor ray cast (x-band equi-join +
    # parity + innermost argmax) — zero driver materialization of ring data.
    amap = bind_holes_df(hulls, holes)
    holes_out = holes.join(
        amap, holes["ring_id"] == amap["hole_ring_id"]
    ).select("shape_id", "ring_id", "is_hole", "pts_x", "pts_y", "area2")
    hulls_out = hulls.select(
        F.col("ring_id").alias("shape_id"), "ring_id", "is_hole", "pts_x", "pts_y", "area2"
    )
    return hulls_out.unionAll(holes_out)
