"""Winding classification ("fill") of an intersection-free segment set.

Produces the reference's 4-bit SegmentFill per segment
(iOverlay/src/segm/segment.rs:10-24): SUBJ_TOP/SUBJ_BOTTOM/CLIP_TOP/CLIP_BOTTOM =
"is the region on the TOP/BOTTOM side of this segment inside subject/clip" under the
fill rule. TOP/BOTTOM follow the reference sweep convention
(iOverlay/src/build/sweep.rs:33-90, iOverlay/src/build/boolean.rs:96-154):
for a non-vertical segment TOP is the region above; for a vertical segment
(a.y < b.y) TOP is the region to the WEST (the sweep's clock-ordered start-point
group puts the vertical segment last, so its "top" accumulator is the west side).

Instead of a sequential sweep, each segment's bottom winding is evaluated directly by
an exact integer ray-cast at the segment midpoint (valid because after splitting the
winding is constant along every segment interior). A ray at x only meets segments
whose x-span holds x, so the same answer comes out of any subset that keeps those
segments: a distributed x-strip, or one tile of a batch whose jobs sit in disjoint
x-tiles (SURVEY.md A10).

compute_fills_windowed is the one fill every pipeline calls: a segment tree over
the set in local coordinates, on int64 operands under int64_operands' gate and on
python ints past it. compute_fills, the dense O(n^2) ray-cast, is the oracle the
tests compare against.

Working set: a tree of M members holds about 36 B per member, and its build
peaks near 63 B per member (segtree_build drops each temporary after its last
use). Queries go to the tree in blocks of at most _PAIR_BLOCK (query, node)
pairs, so the bisection state is bounded by the block, not by the set. A
threaded one-shot splits the set into at least n / _STRIP_TARGET x-strips and
holds at most `threads` strip trees at a time. The two constants trade memory
for per-call python overhead (_PAIR_BLOCK) and for long segments copied into
several strips (_STRIP_TARGET).
"""

from __future__ import annotations

import os
from collections import namedtuple

import numpy as np

from ..options import FillRule
from .overlap import canonical_blocks
from .segments import Segments

SUBJ_TOP = 1
SUBJ_BOTTOM = 2
CLIP_TOP = 4
CLIP_BOTTOM = 8
SUBJ_BOTH = SUBJ_TOP | SUBJ_BOTTOM
CLIP_BOTH = CLIP_TOP | CLIP_BOTTOM
BOTH_TOP = SUBJ_TOP | CLIP_TOP
BOTH_BOTTOM = SUBJ_BOTTOM | CLIP_BOTTOM


def _windings_below(segs: Segments) -> tuple[np.ndarray, np.ndarray]:
    """For each segment i: sum of winding counts of segments crossed by a downward ray
    from just below the segment midpoint (non-vertical i), or just east of the segment
    (vertical i). Exact integer math; falls back to Python-int (object) arrays when the
    coordinate extent could overflow int64 products."""
    n = len(segs)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy()
    ax, ay, bx, by = segs.ax, segs.ay, segs.bx, segs.by
    # translate to local origin to bound products
    x0 = min(ax.min(), bx.min())
    y0 = min(ay.min(), by.min())
    tax, tay, tbx, tby = ax - x0, ay - y0, bx - x0, by - y0
    extent = max(int(tbx.max()), int(tby.max()), int(tay.max()), 1)
    use_object = 4 * extent * extent >= (1 << 62)
    if use_object:
        tax = tax.astype(object)
        tay = tay.astype(object)
        tbx = tbx.astype(object)
        tby = tby.astype(object)

    nonvert = tbx > tax
    dt = tbx - tax  # valid only where nonvert
    dy = tby - tay
    Xi = tax + tbx  # doubled midpoint x; for vertical segments == 2*ax
    Yi = tay + tby  # doubled midpoint y

    subj = segs.subj
    clip = segs.clip
    wind_s = np.zeros(n, dtype=object if use_object else np.int64)
    wind_c = np.zeros(n, dtype=object if use_object else np.int64)

    # consider only non-vertical t as ray-crossing candidates
    tidx = np.flatnonzero(nonvert)
    if len(tidx) == 0:
        return wind_s.astype(np.int64), wind_c.astype(np.int64)
    t_ax = tax[tidx]
    t_ay = tay[tidx]
    t_bx = tbx[tidx]
    t_dt = dt[tidx]
    t_dy = dy[tidx]
    t_subj = subj[tidx]
    t_clip = clip[tidx]

    chunk = max(1, int(4_000_000 // max(1, len(tidx))))
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        Xc = Xi[lo:hi, None]
        Yc = Yi[lo:hi, None]
        span = (2 * t_ax[None, :] <= Xc) & (Xc < 2 * t_bx[None, :])
        # y_t(x*) < y*  <=>  2*ay_t*dt + dy_t*(X - 2*ax_t) < Y*dt   (dt > 0)
        num = 2 * t_ay[None, :] * t_dt[None, :] + t_dy[None, :] * (Xc - 2 * t_ax[None, :])
        below = num < Yc * t_dt[None, :]
        m = span & below
        wind_s[lo:hi] = (m * t_subj[None, :]).sum(axis=1)
        wind_c[lo:hi] = (m * t_clip[None, :]).sum(axis=1)
    return wind_s.astype(np.int64), wind_c.astype(np.int64)


def _is_inside(w: np.ndarray, rule: FillRule) -> np.ndarray:
    if rule == FillRule.EVEN_ODD:
        return (w & 1) != 0
    if rule == FillRule.NON_ZERO:
        return w != 0
    if rule == FillRule.POSITIVE:
        return w > 0
    return w < 0


def compute_fills(segs: Segments, fill_rule: FillRule) -> np.ndarray:
    """4-bit SegmentFill per segment (uint8) by the dense O(n^2) ray-cast: the
    oracle compute_fills_windowed is tested against."""
    bot_s, bot_c = _windings_below(segs)
    return _fill_bits(segs, bot_s, bot_c, fill_rule)


def int64_operands(ex: int, h: int, dx: int) -> bool:
    """True when the segment tree's int64 products are exact on a set in
    local coordinates with x extent ex, y extent h and longest segment x-length
    dx (segtree_build, segtree_below, extract._ray_parents).

    Doubled and quadrupled x coordinates (leaf bounds, node midpoints 4*x)
    need 4*ex < 2^63. Every product multiplies a segment's x-length by the y
    extent or by another x-length, never two x extents: the node key
    NUM = 4*ay*dt + dy*(m - 4*ax) and its parts are at most 4*h*dx, the
    remainder compare rk_i*DEN_j at most 4*dx^2, the ray predicate at most
    2*h*dx. max(h, dx)*dx < 2^60 keeps all of them under 2^62."""
    return ex < 1 << 61 and max(h, dx) * dx < 1 << 60


def _local_operands(segs: Segments):
    """(tax, tay, tbx, tby): offsets from the set's min corner, exact at any
    int64 span (uint64 differences), as int64 under int64_operands and python
    ints past it."""
    x0 = np.int64(min(segs.ax.min(), segs.bx.min()))
    y0 = np.int64(min(segs.ay.min(), segs.by.min()))
    # int64 differences wrap past 2^63; their uint64 views are exact
    loc = [segs.ax - x0, segs.ay - y0, segs.bx - x0, segs.by - y0]
    uloc = tax, tay, tbx, tby = [v.view(np.uint64) for v in loc]
    if int64_operands(
        int(tbx.max()), max(int(tay.max()), int(tby.max())), int((tbx - tax).max())
    ):
        return loc
    return [v.astype(object) for v in uloc]


def _resolve_fill_threads(threads: int | None, n_pairs: int) -> int:
    """Thread count for the segtree's bisection loop (segtree_below's slices,
    _windings_segtree's query blocks). None = auto: engage only
    for large jobs (the loop is gather-LATENCY-bound and numpy releases the
    GIL, so threads scale ~6-9x on it — measured; small jobs would pay pool
    overhead). Callers running inside an already-parallel executor (the
    distributed strip fill, the tiled batch kernel, string slices) pass
    threads=1 explicitly."""
    if threads is not None and threads > 0:
        return threads
    if n_pairs < 1_500_000:
        return 1
    return min(8, os.cpu_count() or 1)


# (query, node) pairs per segtree_below call in _windings_segtree, at most: a
# block takes _PAIR_BLOCK // depth queries, since a query meets at most one
# node per level. Smaller blocks bound the working set tighter and pay more
# python overhead per query; sizing by pairs rather than queries keeps the
# numpy calls of a shallow tree (one pair per query) as large as a deep one's.
_PAIR_BLOCK = 1 << 17
# segments per strip tree in _windings_segtree_strips: a one-shot of n
# segments cuts at least n / _STRIP_TARGET strips, so k threads hold k strip
# trees of O(_STRIP_TARGET) members. Smaller strips bound the working set
# tighter and copy more long segments into several strips.
_STRIP_TARGET = 1 << 16

# segtree_build's tree: leaf boundaries B (nL leaves padded to nP), CSR rows
# per heap-numbered node (start/cnt), each row's segment index sid and its four
# point-vs-segment predicate operands
SegTree = namedtuple("SegTree", "B nL nP start cnt sid enum0 edy edt eax2")


def segtree_build(tax, tay, tbx, tby) -> SegTree | None:
    """Segment tree over the non-vertical segments of a non-crossing set in
    non-negative local coordinates (None when there are none).

    Each non-vertical segment covers the elementary x-intervals between its
    doubled endpoints; the canonical decomposition (overlap.canonical_blocks,
    shared with the bbox-overlap enumerator) assigns it to <=2 tree nodes per
    level. Within a node every member spans the node's whole x-interval and no
    two members cross there, so members are TOTALLY y-ordered throughout the
    interval: they are sorted once by their exact rational y at the node
    midpoint (int64 floor + remainder key, float tiebreak, exact adjacent
    verification with a python re-sort of the rare float-ambiguous nodes).

    The build holds at most five member-sized (8-byte) arrays at a time: each
    temporary is dropped, or reused in place, once its last reader has run.
    int64 operands need int64_operands' gate (every product here is bounded
    there); python-int (object) operand arrays run the same code at any
    width."""
    mem = np.flatnonzero(tbx > tax)
    if len(mem) == 0:
        return None
    ax2, bx2 = 2 * tax[mem], 2 * tbx[mem]
    B = np.unique(np.concatenate([ax2, bx2]))
    nL = len(B) - 1
    nP = 1 << max(0, int(nL - 1).bit_length())
    lo_leaf = np.searchsorted(B, ax2)
    hi_leaf = np.searchsorted(B, bx2)
    del ax2, bx2

    # canonical decomposition (<=2 nodes per level each), heap-numbered: a
    # level-k block blk is node blk + (nP >> k) over leaves
    # [lo, hi) = [blk << k, min((blk + 1) << k, nL)), and m_num = B[lo] + B[hi]
    # is four times its x-interval midpoint
    node_parts, own_parts, num_parts = [], [], []
    for k in range(int((hi_leaf - lo_leaf).max()).bit_length()):
        blk, own = canonical_blocks(lo_leaf, hi_leaf, k)
        lo = blk << k
        m_num = B[lo]
        m_num += B[np.minimum(lo + (1 << k), nL)]
        blk += nP >> k
        node_parts.append(blk)
        own_parts.append(own)
        num_parts.append(m_num)
    del lo_leaf, hi_leaf, blk, own, lo, m_num
    node = np.concatenate(node_parts)
    del node_parts
    sid = np.concatenate(own_parts)
    del own_parts
    sid = mem[sid]
    NUM = np.concatenate(num_parts)
    del num_parts
    # node x-interval midpoint (exact rational NUM/DEN, local coords):
    # NUM = 4*tay[sid]*edt + edy*(m_num - 4*tax[sid]), DEN = 2*edt, built in
    # place on one scratch array (int64 throughout, or python ints)
    tmp = tax[sid]
    tmp <<= 2  # 4*tax[sid] (local coords are >= 0)
    NUM -= tmp
    np.take(tby - tay, sid, out=tmp)  # edy
    NUM *= tmp
    np.take(tay, sid, out=tmp)
    tmp <<= 2
    DEN = (tbx - tax)[sid]  # edt
    tmp *= DEN
    NUM += tmp
    del tmp
    DEN *= 2
    # (node, y) sort. Fast path: pack node | y-fraction | index into ONE uint64
    # and np.sort it — a direct sort of packed keys is ~7x an indirect float
    # argsort (measured). Node bits lead, so node grouping is exact by
    # construction; y ties inside the fraction's resolution land in arbitrary
    # order and are repaired by the exact adjacent verification below (which
    # runs either way). Falls back to the composite-float argsort when the bit
    # budget doesn't fit (huge node ids or pair counts).
    yf = (NUM / DEN).astype(np.float64, copy=False)
    ylo = float(yf.min())
    yspan = float(yf.max()) - ylo
    M = len(node)
    bits_node = int(2 * nP).bit_length()
    bits_idx = max(M - 1, 1).bit_length()
    bits_frac = 64 - bits_node - bits_idx
    if bits_frac >= 12:
        # fused (yf-ylo)*(fscale/denom) — one temporary instead of four; the
        # low-bit rounding difference vs the two-step form lands inside the
        # fraction's resolution and is repaired by the exact verification.
        # One y level (yspan 0) keys every row 0: the scale would be inf and
        # 0 * inf a NaN key
        fscale = float(1 << bits_frac) / (yspan * (1.0 + 1e-6)) if yspan > 0 else 0.0
        yf -= ylo
        yf *= fscale
        key = yf.astype(np.uint64)
        del yf
        np.minimum(key, np.uint64((1 << bits_frac) - 1), out=key)
        key <<= np.uint64(bits_idx)
        hi = node.astype(np.uint64)
        del node
        hi <<= np.uint64(bits_frac + bits_idx)
        key |= hi
        del hi
        key |= np.arange(M, dtype=np.uint64)
        key.sort()
        # the sorted keys carry both the sorted node column and the order
        node = (key >> np.uint64(bits_frac + bits_idx)).view(np.int64)
        key &= np.uint64((1 << bits_idx) - 1)
        order = key.view(np.int64)
        del key
    else:
        frac = (yf - ylo) / (yspan * (1.0 + 1e-6) + 1e-300)
        order = np.argsort(node + frac, kind="stable")
        del frac
        if not np.all(np.diff(node[order]) >= 0):
            order = np.lexsort((yf, node))
        del yf
        node = node[order]
    sid = sid[order]
    NUM = NUM[order]
    DEN = DEN[order]
    del order
    # exact adjacent verification of the float order (transitivity makes
    # adjacent checks sufficient): y_i <= y_j  <=>  (q, r*DEN-cross) ordered
    qk = NUM // DEN
    tmp = qk * DEN
    NUM -= tmp
    rk = NUM  # remainder, in NUM's storage
    del NUM, tmp

    def inversions():
        return (node[1:] == node[:-1]) & (
            (qk[1:] < qk[:-1])
            | ((qk[1:] == qk[:-1]) & (rk[:-1] * DEN[1:] > rk[1:] * DEN[:-1]))
        )

    inv = inversions()
    if inv.any():
        # vectorized repair: gather ALL rows of the offending nodes (contiguous
        # ranges — node is sorted) and lexsort them by (node, qk, rk/DEN). qk
        # is the exact floor; the float fraction rk/DEN in [0,1) resolves ties
        # to 2^-52, far past the packed key's resolution that caused the
        # inversion. Exactness is re-verified below; any residual inversion
        # (denominator products straddling float precision) falls back to a
        # python comparison sort per remaining node — not observed in practice.
        bad_nodes = np.unique(node[:-1][inv])
        s_all = np.searchsorted(node, bad_nodes, side="left")
        e_all = np.searchsorted(node, bad_nodes, side="right")
        lens = e_all - s_all
        sub = np.repeat(s_all, lens) + (
            np.arange(int(lens.sum()), dtype=np.int64)
            - np.repeat(np.cumsum(lens) - lens, lens)
        )
        order_sub = np.lexsort(
            (rk[sub].astype(np.float64) / DEN[sub], qk[sub], node[sub])
        )
        sub_sorted = sub[order_sub]
        sid[sub] = sid[sub_sorted]
        qk[sub] = qk[sub_sorted]
        rk[sub] = rk[sub_sorted]
        DEN[sub] = DEN[sub_sorted]
        inv = inversions()
    if inv.any():
        import functools

        for v in np.unique(node[:-1][inv]).tolist():
            s = int(np.searchsorted(node, v, side="left"))
            e = int(np.searchsorted(node, v, side="right"))

            def _less(i, j):
                if qk[i] != qk[j]:
                    return -1 if qk[i] < qk[j] else 1
                lhs = int(rk[i]) * int(DEN[j])
                rhs = int(rk[j]) * int(DEN[i])
                return -1 if lhs < rhs else (1 if lhs > rhs else 0)

            idx = sorted(range(s, e), key=functools.cmp_to_key(_less))
            sid[s:e] = sid[idx]
            qk[s:e] = qk[idx]
            rk[s:e] = rk[idx]
            DEN[s:e] = DEN[idx]

    # CSR over node-id space; predicate operands as four 1-D arrays (numpy's
    # 1-D integer gather is ~2x a 2-D row gather — measured) with pairs sorted
    # by node below so the gathers are quasi-sequential
    del qk, rk, DEN
    n_nodes = 2 * nP
    cnt = np.bincount(node, minlength=n_nodes)
    del node
    start = np.zeros(n_nodes + 1, dtype=np.int64)
    np.cumsum(cnt, out=start[1:])
    # bisection gathers are the fill's hot loop and memory-latency-bound: when
    # doubled local coordinates fit int32 (always under the 2^30 grid; the
    # wide-coordinate path keeps int64) narrow the three coordinate-scale
    # operand arrays — numpy upcasts int32*int64 -> int64 inside the predicate,
    # so every product is computed in int64 exactly as before (bit-identical;
    # pinned by the fill differentials). enum0 is a coordinate PRODUCT and
    # stays int64 unconditionally. Narrowing the per-segment columns before
    # the gather leaves no member-sized int64 copy behind.
    cmax2 = 2 * max(
        (int(a.max()) for a in (tax, tay, tbx, tby) if len(a)), default=0
    )
    dt, dy, ax2 = tbx - tax, tby - tay, 2 * tax
    if 0 < cmax2 < 2**31:
        dt, dy, ax2 = (v.astype(np.int32) for v in (dt, dy, ax2))
    edt, edy, eax2 = dt[sid], dy[sid], ax2[sid]
    enum0 = tay[sid]
    enum0 *= 2
    enum0 *= edt
    return SegTree(B, nL, nP, start, cnt, sid, enum0, edy, edt, eax2)


def segtree_below(
    tree: SegTree, Xi, Ti, threads: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[int]]:
    """Downward rays from the queries (doubled x Xi, doubled y Ti): in each
    node on Xi's root-to-leaf path the members strictly below the query point
    are a PREFIX (order is monotone at every x in the node), found by
    vectorized binary search. Returns (PQ, PV, plo, lvl_off): per (query,
    nonempty path node), the prefix end plo in the CSR rows, grouped by level
    at [lvl_off[k], lvl_off[k + 1]) (a query at most once per level)."""
    start, cnt = tree.start, tree.cnt
    enum0, edy, edt, eax2 = tree.enum0, tree.edy, tree.edt, tree.eax2
    nL, nP = tree.nL, tree.nP
    # the root-to-leaf path is one broadcast shift matrix (all leaves share the
    # tree depth), filtered to nonempty nodes. Queries are pre-sorted by LEAF
    # (one small argsort), which makes PV monotone within every level block of
    # the level-major reshape — the same gather locality the previous global
    # 4M-element node argsort bought, at 1/10 the cost (nothing downstream
    # needs a global order: start/cnt lookups are random-access and the
    # accumulate is a bincount).
    p = np.searchsorted(tree.B, Xi, side="right") - 1
    qs = np.flatnonzero((p >= 0) & (p < nL))
    qs = qs[np.argsort(p[qs], kind="stable")]
    levels = int(nP).bit_length()  # leaf v in [nP, 2nP) -> levels shifts to 1
    leaf = p[qs] + nP
    pq_parts: list[np.ndarray] = []
    pv_parts: list[np.ndarray] = []
    for lvl in range(levels):  # filter per level: ~half the node visits are
        v = leaf >> lvl  # empty, and this skips the 2-D broadcast copies
        m = cnt[v] > 0
        pq_parts.append(qs[m])
        pv_parts.append(v[m])
    lvl_off = np.cumsum([0] + [len(a) for a in pq_parts]).tolist()
    PQ = np.concatenate(pq_parts)
    del pq_parts
    PV = np.concatenate(pv_parts)
    del pv_parts, qs, leaf, v, m

    def _bisect(sl: slice) -> np.ndarray:
        # vectorized binary search over each query's node-member prefix; the
        # mid-indexed gathers dominate (latency-bound), so callers may run
        # several slices on threads — numpy releases the GIL here
        PVs = PV[sl]
        plo = start[PVs]
        phi = plo + cnt[PVs]
        Xq = Xi[PQ[sl]]
        Tq = Ti[PQ[sl]]
        act = np.flatnonzero(plo < phi)
        lo_a = plo[act]
        hi_a = phi[act]
        Xa = Xq[act]
        Ta = Tq[act]
        while len(act):
            mid = (lo_a + hi_a) >> 1
            pred = enum0[mid] + edy[mid] * (Xa - eax2[mid]) < Ta * edt[mid]
            lo_a[pred] = mid[pred] + 1
            np.putmask(hi_a, ~pred, mid)
            live = lo_a < hi_a
            if not live.all():
                plo[act] = lo_a
                act = act[live]
                lo_a = lo_a[live]
                hi_a = hi_a[live]
                Xa = Xa[live]
                Ta = Ta[live]
        return plo

    k = _resolve_fill_threads(threads, len(PQ))
    if k <= 1:
        plo = _bisect(slice(0, len(PQ)))
    else:
        from concurrent.futures import ThreadPoolExecutor

        M = len(PQ)
        slices = [slice(i * M // k, (i + 1) * M // k) for i in range(k)]
        plo = np.empty(M, dtype=np.int64)
        with ThreadPoolExecutor(k) as ex:
            for sl, part in zip(slices, ex.map(_bisect, slices)):
                plo[sl] = part
    return PQ, PV, plo, lvl_off


def _windings_segtree(
    segs: Segments, threads: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized O((n+q) log^2 n) midpoint-ray windings on the segment tree
    (segtree_build, segtree_below): every segment's doubled midpoint is a
    query, and per-node prefix weight sums over each query's strictly-below
    prefixes finish the count.

    The queries, sorted by leaf once, go to segtree_below in blocks of
    _PAIR_BLOCK // depth, and each block's windings are added as it
    finishes: the (query, node) pair arrays hold at most _PAIR_BLOCK pairs,
    not the whole set's. threads > 1 (or None on a large set,
    _resolve_fill_threads) runs the blocks on a pool, so that many blocks
    are live at once.

    Ray-at-midpoint semantics (identical to _windings_below), hence valid on
    strip SUBSETS and on tiled batches too. Operands are _local_operands': int64
    under int64_operands' gate, python ints past it.
    """
    n = len(segs)
    wind_s = np.zeros(n, dtype=np.int64)
    wind_c = np.zeros(n, dtype=np.int64)
    if n == 0:
        return wind_s, wind_c
    tax, tay, tbx, tby = _local_operands(segs)
    tree = segtree_build(tax, tay, tbx, tby)
    if tree is None:
        return wind_s, wind_c
    Xi, Ti = tax + tbx, tay + tby
    del tax, tay, tbx, tby
    # zero-weight sides (self-union, string fills: clip empty) skip their
    # prefix sums and accumulation entirely
    sides = [
        (np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(w[tree.sid])]), wind)
        for w, wind in ((segs.subj, wind_s), (segs.clip, wind_c))
        if np.any(w)
    ]
    p = np.searchsorted(tree.B, Xi, side="right") - 1
    qs = np.flatnonzero((p >= 0) & (p < tree.nL))
    qs = qs[np.argsort(p[qs], kind="stable")]
    del p

    levels = int(tree.nP).bit_length()
    step = max(1, _PAIR_BLOCK // levels)

    def block(b: int):
        q = qs[b : b + step]
        PQ, PV, plo, _ = segtree_below(tree, Xi[q], Ti[q], threads=1)
        base = tree.start[PV]
        return q, [
            np.bincount(
                PQ, weights=(cs[plo] - cs[base]).astype(np.float64), minlength=len(q)
            ).astype(np.int64)
            for cs, _ in sides
        ]

    def add(parts) -> None:
        for q, sums in parts:
            for (_, wind), sm in zip(sides, sums):
                wind[q] += sm

    blocks = range(0, len(qs), step)
    # about half of a query's root-to-leaf nodes hold members
    k = _resolve_fill_threads(threads, len(qs) * (levels // 2))
    if k <= 1 or len(blocks) <= 1:
        add(map(block, blocks))
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(k, len(blocks))) as ex:
            add(ex.map(block, blocks))
    return wind_s, wind_c


def _windings_segtree_strips(
    segs: Segments, k: int
) -> tuple[np.ndarray, np.ndarray] | None:
    """Strip-parallel _windings_segtree: independent segment trees over
    x-strips, run on a pool of k threads.

    Correctness rests on the same subset-safety the distributed x-strip fill
    uses: a downward ray at doubled-x Xi crosses segment t iff
    2*ax[t] <= Xi < 2*bx[t], so the EXACT winding of every query whose Xi lies
    in strip [lo, hi) is determined by the subset of segments whose doubled
    x-interval intersects that strip (2*bx > lo and 2*ax < hi) — each strip's
    tree answers its own queries with no cross-strip information needed.
    Borrowed members (x-interval overlaps the strip, midpoint outside) get
    queried too; their answers are DISCARDED — their own strip computes them
    against the full relevant subset. Bit-identical to the single tree (same
    predicate; differential-tested).

    Strips split at query-midpoint quantiles (balanced query load), and there
    are max(k, ceil(n / _STRIP_TARGET)) of them, so at most k strip trees of
    O(_STRIP_TARGET) members each are live at once. Every segment's strips
    are one run; the subsets are cut from one stable sort of (segment, strip)
    copies by strip. The duplication guard returns None (caller falls back to
    the single tree) when long segments would make the copies exceed 2.5 n —
    per-strip trees are smaller AND everything (sort, decomposition, bisection)
    runs in parallel, vs the single tree that threads only its query blocks.
    Sets past int64_operands' gate also return None: python-int trees hold the
    GIL, so threads would not pay."""
    n = len(segs)
    tax, _, tbx, _ = _local_operands(segs)
    if tax.dtype == object:
        return None
    Xi = tax + tbx
    n_strips = max(k, -(-n // _STRIP_TARGET))
    edges = np.unique(np.sort(Xi)[np.arange(1, n_strips) * n // n_strips])
    if len(edges) == 0:
        return None
    n_strips = len(edges) + 1
    # strip run of each segment: first strip with 2*ax < hi, last with
    # 2*bx > lo; a vertical segment on an edge reaches none of them and keeps
    # only its home strip (the one holding its midpoint)
    home = np.searchsorted(edges, Xi, side="right")
    s_lo = np.searchsorted(edges, 2 * tax, side="right")
    s_hi = np.searchsorted(edges, 2 * tbx, side="left")
    del Xi, tax, tbx
    copies = np.maximum(s_hi, s_lo) - s_lo + 1
    total = int(copies.sum())
    if total > int(2.5 * n):
        return None
    rep = np.repeat(np.arange(n, dtype=np.int64), copies)
    strip = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(copies) - copies, copies)
    strip += s_lo[rep]
    order = np.argsort(strip, kind="stable")
    rep = rep[order]
    strip = strip[order]
    del order
    is_home = strip == home[rep]
    bounds = np.searchsorted(strip, np.arange(n_strips + 1))
    del strip
    wind_s = np.zeros(n, dtype=np.int64)
    wind_c = np.zeros(n, dtype=np.int64)

    def work(s: int):
        lo, hi = bounds[s], bounds[s + 1]
        if lo == hi:
            return None
        sub = rep[lo:hi]
        ws, wc = _windings_segtree(segs.take(sub), threads=1)
        keep = is_home[lo:hi]
        return sub[keep], ws[keep], wc[keep]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(k, n_strips)) as ex:
        for part in ex.map(work, range(n_strips)):
            if part is None:
                continue
            idx, ws, wc = part
            wind_s[idx] = ws
            wind_c[idx] = wc
    return wind_s, wind_c


def _fill_bits(segs: Segments, wind_s, wind_c, fill_rule: FillRule) -> np.ndarray:
    top_s = wind_s + segs.subj
    top_c = wind_c + segs.clip
    return (
        _is_inside(top_s, fill_rule).astype(np.uint8) * SUBJ_TOP
        | _is_inside(wind_s, fill_rule).astype(np.uint8) * SUBJ_BOTTOM
        | _is_inside(top_c, fill_rule).astype(np.uint8) * CLIP_TOP
        | _is_inside(wind_c, fill_rule).astype(np.uint8) * CLIP_BOTTOM
    )


def compute_fills_windowed(
    segs: Segments, fill_rule: FillRule, threads: int | None = None
) -> np.ndarray:
    """The fill: 4-bit SegmentFill per segment (uint8) from the segment-tree
    windings (_windings_segtree), exact at any coordinate width and valid on
    any subset that keeps every segment a ray can meet (strip subsets, tiled
    batches).

    threads=1 runs one tree on the calling thread (callers inside a Spark task
    or a batch kernel). Unset, a one-shot of >= 48k segments builds
    strip-parallel trees on a pool (_windings_segtree_strips) and a large
    single tree runs its query blocks on a pool (_resolve_fill_threads).

    Working set beyond the input and the result: one tree's build (about
    63 B per member) plus one block of at most _PAIR_BLOCK query-node pairs
    on one thread; with strips, that times the pool's threads, for trees of
    O(_STRIP_TARGET) segments each."""
    n = len(segs)
    if n == 0:
        return np.zeros(0, dtype=np.uint8)
    k = threads if threads and threads > 0 else (
        min(8, os.cpu_count() or 1) if n >= 48_000 else 1
    )
    res = _windings_segtree_strips(segs, k) if k > 1 and n >= 48_000 else None
    if res is None:
        res = _windings_segtree(segs, threads=threads)
    return _fill_bits(segs, res[0], res[1], fill_rule)
