"""Closed-bbox overlap enumeration: the one answer to "which boxes intersect".

`overlap_pairs` returns every pair of closed boxes [x0, x1] x [y0, y1] that
intersect, each exactly once, in O(n log^2 n + k) for k pairs; the split's
mark finder (split.find_marks) calls it. `overlap_edges` walks the same runs
but emits a spanning set of O(n log n) edges of the overlap graph instead of
the pairs, which is all the cluster labelling (cluster.cluster_labels) needs.
The reference answers the same question with an x-ordered list and a y-keyed
interval tree (iOverlay/src/split/solver_list.rs, solver_tree.rs; SURVEY.md
A4/A5); this is the hierarchical form (HERO, PAPERS.md) with no cost model
between variants.

Boxes are sorted by x0, so pair p < q overlaps in x iff q lies in p's window
[p+1, his_p). Positions are grouped in aligned leaf blocks of 2^_LEAF. The
window's parts shorter than a leaf block (the rest of p's own block, and the
prefix of the block where the window ends) are scanned directly; the leaf
blocks between them decompose into <=2 aligned blocks per level of a segment
tree (`canonical_blocks`, which the fill's segment tree shares). Inside a
block, y-overlap splits into two disjoint cases, each one contiguous run of a
per-level sorted array:
- A, y0_q in [y0_p, y1_p]: p searches the block's members sorted by y0 rank;
- B, y0_q < y0_p <= y1_q: each member q searches the windows stored at its
  block, sorted by y0 rank.
Keys are (block, y0 rank) packed in one int64 (both < 2^31), exact at every
coordinate width.
"""

from __future__ import annotations

import os
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np

_LEAF = 5  # log2 of the block size under which window edges are scanned directly
_CHUNK = 1 << 16  # boxes (or search needles) per task


def canonical_blocks(lo: np.ndarray, hi: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Level k of the canonical decomposition of the half-open leaf ranges
    [lo[i], hi[i]) (leaves are k = 0): (block, owner) arrays, range owner
    covering the aligned block [block * 2^k, (block + 1) * 2^k) but not its
    parent block. A range gets <=2 blocks per level, its left one first, both
    in owner order, and none past level bit_length(max(hi - lo)) - 1. This is
    the classic iterative l/r walk in closed form: at level k it stands at
    [ceil(lo / 2^k), floor(hi / 2^k)), so each level is computed on its own."""
    left = (lo + ((1 << k) - 1)) >> k
    right = hi >> k
    act = left < right
    ml = np.flatnonzero(act & ((left & 1) == 1))
    mr = np.flatnonzero(act & ((right & 1) == 1))
    return np.concatenate([left[ml], right[mr] - 1]), np.concatenate([ml, mr])


def _pairs_of_runs(q, s, e, arr):
    """Every (q[i], arr[t]) for t in [s[i], e[i])."""
    hit = np.flatnonzero(e > s)
    q, s, c = q[hit], s[hit], e[hit] - s[hit]
    rep = np.repeat(np.arange(len(q), dtype=np.int64), c)
    cum = np.cumsum(c) - c
    idx = np.arange(len(rep), dtype=np.int64) - cum[rep] + s[rep]
    return q[rep], arr[idx]


def _edges_of_runs(q, s, e, arr):
    """A spanning forest's worth of the same pairs: q[i] to the run's first
    element, and each run element to the next one in arr (every element of a
    run overlaps its query, so both kinds join one component)."""
    hit = e > s
    s, e = s[hit], e[hit]
    d = np.bincount(s, minlength=len(arr)) - np.bincount(e - 1, minlength=len(arr))
    nxt = np.flatnonzero(np.cumsum(d)[:-1] > 0)
    return np.concatenate([q[hit], arr[nxt]]), np.concatenate([arr[s], arr[nxt + 1]])


def _enumerate(x0, x1, y0, y1, ex, emit):
    """The traversal behind overlap_pairs/overlap_edges: emit(q, s, e, arr)
    turns each batch of runs into (u, v) position arrays; direct-scan pairs
    pass through as they are. Work is split into tasks run on the executor
    ex (None: on the calling thread). Returns xo (x order: position -> index)
    and the (u, v) chunks, as positions, in an order fixed by the input alone."""
    n = len(x0)
    run = map if ex is None else ex.map
    tasks = []  # futures, in output order

    def start(fn, *args):
        if ex is not None:
            tasks.append(ex.submit(fn, *args))
        else:
            tasks.append(Future())
            tasks[-1].set_result(fn(*args))

    def search(hay, needles, side="left"):
        parts = [needles[c : c + _CHUNK] for c in range(0, len(needles), _CHUNK)]
        return _cat(list(run(lambda v: np.searchsorted(hay, v, side=side), parts)))

    xo = np.argsort(x0, kind="stable")
    his = search(x0[xo], x1[xo], "right")
    ylo = y0[xo]
    yhi = y1[xo]
    pos = np.arange(n, dtype=np.int64)
    # window [p+1, his_p) = the rest of p's leaf block, the aligned leaf
    # blocks [ta, tb) (the tree part) and a remainder [rs, his_p) shorter
    # than one block: the next block's prefix when there is no tree part
    ta = (pos + (1 << _LEAF)) >> _LEAF
    tb = his >> _LEAF
    nlev = int((tb - ta).max(initial=0)).bit_length()
    rs = np.maximum(ta, tb) << _LEAF
    L = 1 << _LEAF
    pad = -n % L
    wlen_b, ylo_b, yhi_b = (
        np.concatenate([a, np.zeros(pad, dtype=np.int64)]).reshape(-1, L)
        for a in (his - pos - 1, ylo, yhi)
    )

    def direct(b0, b1):
        # the parts outside the tree, scanned directly: p + d inside p's own
        # block as strided slices of the (block, offset) view, then the
        # remainders by length (rows sorted by it, so each step is a prefix)
        us, vs = [], []
        c0, c1 = b0 << _LEAF, min(b1 << _LEAF, n)
        for d in range(1, min(L, int(wlen_b[b0:b1].max()) + 1)):
            m = wlen_b[b0:b1, : L - d] >= d
            m &= ylo_b[b0:b1, d:] <= yhi_b[b0:b1, : L - d]
            m &= ylo_b[b0:b1, : L - d] <= yhi_b[b0:b1, d:]
            i = np.flatnonzero(m)
            u = c0 + (i // (L - d)) * L + i % (L - d)
            us.append(u)
            vs.append(u + d)
        rlen = his[c0:c1] - rs[c0:c1]
        u = np.flatnonzero(rlen > 0)
        rlen = rlen[u].astype(np.int8)  # < L
        o = np.argsort(-rlen, kind="stable")
        u = u[o] + c0
        cnt = len(u) - np.cumsum(np.bincount(rlen, minlength=L))
        ulo, uhi, urs = ylo[u], yhi[u], rs[u]
        for j in range(int(rlen.max(initial=0))):
            k = cnt[j]
            v = urs[:k] + j
            m = (ylo[v] <= uhi[:k]) & (ulo[:k] <= yhi[v])
            us.append(u[:k][m])
            vs.append(v[m])
        return _cat(us), _cat(vs)

    step = max(_CHUNK >> _LEAF, 1)
    for b in range(0, len(ylo_b), step):
        start(direct, b, b + step)
    if nlev:
        # y0 ranks; per rank r (tie order is immaterial), with p the box of rank
        # r: rank >= lo[r] <=> y0 >= y0_p, and rank < hi1[r] <=> y0 <= y1_p
        yo = np.argsort(ylo)  # position of each rank
        sy = ylo[yo]
        r0 = np.empty(n, dtype=np.int64)
        r0[yo] = pos
        lo = np.zeros(n, dtype=np.int64)
        grp = np.flatnonzero(sy[1:] != sy[:-1]) + 1
        lo[grp] = grp
        np.maximum.accumulate(lo, out=lo)
        hi1 = search(sy, yhi[yo], "right")
        rb = n.bit_length()
        rmask = np.int64((1 << rb) - 1)
        wlen = tb - ta

        def level(k):
            # members of each block sorted by rank, and the windows stored at
            # each block sorted the same way: packed (block, rank) keys; the
            # runs come out as ranks
            lv = _LEAF + k
            cand = np.flatnonzero(wlen >= (1 << k))
            blk, own = canonical_blocks(ta[cand], tb[cand], k)
            mkey = np.sort(((yo >> lv) << rb) | pos)
            skey = np.sort((blk << rb) | r0[cand[own]])
            sr = skey & rmask
            base = skey ^ sr
            sa = np.searchsorted(mkey, base | lo[sr])
            ua, va = emit(sr, sa, np.searchsorted(mkey, base | hi1[sr]), mkey & rmask)  # case A
            # case B runs start past the stored windows with y0_p <= y0_q, which
            # by the case A search are those with sa_p <= q's index in mkey
            sb = np.cumsum(np.bincount(sa, minlength=n + 1)[:n])
            has = np.zeros(((n - 1) >> lv) + 1, dtype=bool)
            has[blk] = True
            sel = has[mkey >> rb]
            mkey = mkey[sel]
            qr = mkey & rmask
            ub, vb = emit(qr, sb[sel], np.searchsorted(skey, (mkey ^ qr) | hi1[qr]), sr)  # case B
            return yo[_cat([ua, ub])], yo[_cat([va, vb])]

        for k in range(nlev):
            start(level, k)
    return xo, [t.result() for t in tasks]


def _pool(n: int, threads: int | None):
    """Worker pool for an n-box enumeration: none (the calling thread) for
    threads=1 or when the input fits one task, else `threads` workers
    (None: sized from the host)."""
    k = threads if threads is not None and threads > 0 else min(8, os.cpu_count() or 1)
    return ThreadPoolExecutor(k) if k > 1 and n > _CHUNK else nullcontext()


def _cat(parts):
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)


def _overlap(x0, x1, y0, y1, threads, emit):
    x0, x1, y0, y1 = (np.asarray(a, dtype=np.int64) for a in (x0, x1, y0, y1))
    if len(x0) < 2:
        return _cat([]), _cat([])
    with _pool(len(x0), threads) as ex:
        xo, chunks = _enumerate(x0, x1, y0, y1, ex, emit)
    return xo[_cat([c[0] for c in chunks])], xo[_cat([c[1] for c in chunks])]


def overlap_pairs(x0, x1, y0, y1, threads: int | None = None) -> np.ndarray:
    """Every index pair (i, j), i < j, whose closed boxes [x0, x1] x [y0, y1]
    intersect, exactly once, as an (m, 2) int64 array. Requires x0 <= x1 and
    y0 <= y1. threads=None sizes the worker pool from the host; callers inside
    a Spark task pass threads=1, which starts no pool."""
    u, v = _overlap(x0, x1, y0, y1, threads, _pairs_of_runs)
    return np.stack([np.minimum(u, v), np.maximum(u, v)], axis=1)


def overlap_edges(x0, x1, y0, y1, threads: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Edges (u, v) of the closed-box overlap graph whose connected components
    are the overlap graph's: O(n log n) of them whatever the pair count. Same
    traversal and arguments as overlap_pairs."""
    return _overlap(x0, x1, y0, y1, threads, _edges_of_runs)
