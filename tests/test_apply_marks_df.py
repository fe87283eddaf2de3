"""Differential test of the distributed A8 apply (operators/distributed.py
apply_marks_df) against the scalar reference walk kernel/split._apply_marks_ref.

Seeded random segments (both y directions, zero and non-zero counts, one int
payload column) and random marks per segment: interior points, endpoints and
repeats. The split round's one mark form, (_sid, px, py) keyed by the
segment's `_sid`, is covered at shift 0 and at shift 2^40. The comparison is
the exact multiset of (ax, ay, bx, by, subj, clip, payload) with the closing
merge skipped, so every sub-segment is seen as emitted."""

import numpy as np
import pytest

from ioverlay_spark.kernel.segments import Segments
from ioverlay_spark.kernel.split import _apply_marks_ref


def _random_case(seed: int, shift: int):
    rng = np.random.default_rng(seed)
    n = 60
    ax = rng.integers(-400, 400, n)
    bx = ax + rng.integers(0, 120, n)
    ay = rng.integers(-400, 400, n)
    by = ay + rng.integers(-120, 120, n)
    by = np.where((ax == bx) & (ay == by), ay + 1, by)
    swap = (bx < ax) | ((bx == ax) & (by < ay))
    xy = np.stack(
        [
            np.where(swap, bx, ax),
            np.where(swap, by, ay),
            np.where(swap, ax, bx),
            np.where(swap, ay, by),
        ],
        axis=1,
    ).astype(np.int64)
    # distinct segments
    xy = xy[np.sort(np.unique(xy, axis=0, return_index=True)[1])] + shift
    n = len(xy)
    segs = Segments(
        xy[:, 0], xy[:, 1], xy[:, 2], xy[:, 3],
        rng.integers(-2, 3, n).astype(np.int64),
        rng.integers(-2, 3, n).astype(np.int64),
    )
    data = rng.integers(0, 1 << 20, n).astype(np.int64)
    marks = []  # (seg index, x, y)
    for i in range(n):
        if rng.random() < 0.2:
            continue  # unmarked segment: passes through unchanged
        for _ in range(int(rng.integers(1, 7))):
            r = rng.random()
            if r < 0.15:
                marks.append((i, int(segs.ax[i]), int(segs.ay[i])))
            elif r < 0.3:
                marks.append((i, int(segs.bx[i]), int(segs.by[i])))
            else:
                t = rng.random()
                marks.append(
                    (
                        i,
                        int(segs.ax[i]) + int(round(t * int(segs.bx[i] - segs.ax[i]))),
                        int(segs.ay[i]) + int(round(t * int(segs.by[i] - segs.ay[i]))),
                    )
                )
            if rng.random() < 0.2:
                marks.append(marks[-1])  # the same mark found twice
    return segs, data, marks


def _expected(segs: Segments, data: np.ndarray, marks) -> list[tuple]:
    """Reference rows: _apply_marks_ref per segment, payload from the parent."""
    by_seg: dict[int, list] = {}
    for i, x, y in marks:
        by_seg.setdefault(i, []).append((0, x, y))
    rows = []
    for i in range(len(segs)):
        out = _apply_marks_ref(segs.take([i]), by_seg.get(i, []))
        for r in zip(out.ax, out.ay, out.bx, out.by, out.subj, out.clip):
            rows.append(tuple(int(v) for v in r) + (int(data[i]),))
    return sorted(rows)


def _seg_rows(segs, data):
    """Segment rows with payload, `_sid` = the segment's index."""
    return [
        tuple(int(v[i]) for v in (segs.ax, segs.ay, segs.bx, segs.by, segs.subj, segs.clip))
        + (int(data[i]), i)
        for i in range(len(segs))
    ]


@pytest.mark.parametrize("shift", [0, 1 << 40], ids=["narrow", "wide"])
def test_apply_marks_df_matches_reference(spark, shift):
    from ioverlay_spark.operators.distributed import MARKS_SCHEMA, apply_marks_df

    cols = ["ax", "ay", "bx", "by", "subj", "clip", "data"]
    for seed in range(3):
        segs, data, marks = _random_case(seed, shift)
        seg_df = spark.createDataFrame(_seg_rows(segs, data), cols + ["_sid"])
        mark_df = spark.createDataFrame(
            [(i, x, y, False, False) for i, x, y in marks], MARKS_SCHEMA
        )
        out = apply_marks_df(seg_df, mark_df, {"data": "max(data)"}, skip_final_merge=True)
        assert out.columns == cols
        got = sorted(tuple(int(v) for v in r) for r in out.collect())
        want = _expected(segs, data, marks)
        assert len(want) > len(segs)
        assert got == want
