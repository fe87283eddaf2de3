import argparse

import numpy as np
import pytest

import workloads
from run import Run


class KernelLinesNet(workloads.LinesNet):
    """lines_net through the single-process kernel instead of Spark, with the
    same closed-form check; `drop` removes one output ring."""

    uses_spark = False

    def __init__(self, seed, drop):
        super().__init__(seed)
        self.drop = drop

    def build(self, spark):
        pass

    def run(self):
        from ioverlay_spark.kernel import overlay, ring_area2
        from ioverlay_spark.options import FillRule, OverlayRule

        t = self.table.to_pydict()
        rings = {"subject": [], "clip": []}
        for role, xs, ys in zip(t["role"], t["pts_x"], t["pts_y"]):
            rings[role].append(np.stack([xs, ys], axis=1))
        shapes = overlay(rings["subject"], rings["clip"], OverlayRule.INTERSECT, FillRule.EVEN_ODD)
        if self.drop:
            shapes = shapes[1:]
        return {
            "rings": sum(len(s) for s in shapes),
            "area2": sum(int(ring_area2(r)) for s in shapes for r in s),
            "shapes": len(shapes),
            "holes": sum(len(s) - 1 for s in shapes),
        }


@pytest.mark.parametrize("drop", [False, True])
def test_a_dropped_ring_is_a_failed_operation(monkeypatch, tmp_path, drop):
    monkeypatch.setattr(workloads, "LINES_NET_N", 6)
    args = argparse.Namespace(workload="lines_net", seed=5, seconds=0, trace=0)
    run = Run(args, str(tmp_path), workload=KernelLinesNet(5, drop))
    rec = run.one_op()
    assert (run.attempted, run.failed) == (1, int(drop))
    assert rec["ok"] is not drop


def test_flagship_fingerprint_catches_one_missing_ring():
    w = workloads.FlagshipJobs(7)
    good = {"rings": 0, "area2": w.expected["area2"], "fp": w.expected["fp"]}
    assert w.check(good)
    # one pair's intersect ring lost: its area leaves both sums
    i = int(w.cols["pair_id"][0])
    x1, x2 = (int(v[0]) for v in (w.cols["subj_x"][0], w.cols["subj_x"][1]))
    a2 = 2 * (x2 - x1)  # any non-zero area changes the fingerprint
    fp = tuple(f - a2 * ((i * m + q) % mod + 1) for f, (m, q, mod) in zip(w.expected["fp"], workloads._FP))
    assert not w.check({**good, "area2": good["area2"] - a2, "fp": fp})
    assert not w.check({**good, "fp": fp})


def test_seed_changes_inputs_but_not_their_size():
    a, b = workloads.FlagshipJobs(1), workloads.FlagshipJobs(2)
    assert len(a.cols["pair_id"]) == len(b.cols["pair_id"]) == workloads.FLAGSHIP_PAIRS
    assert not np.array_equal(a.cols["pair_id"], b.cols["pair_id"])
    again = workloads.FlagshipJobs(1)
    assert np.array_equal(a.cols["pair_id"], again.cols["pair_id"])
    assert a.expected == again.expected


def test_spiral_check_wants_one_shape_with_one_ring():
    w = workloads.Spiral(0)
    assert not w.check([])
    ring = np.zeros((4, 2))
    assert not w.check([[ring], [ring]])
    assert not w.check([[ring, ring]])


def test_ring_digest_ignores_the_starting_vertex():
    ring = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 1.0], [0.0, 1.0]])
    assert workloads.ring_digest(ring) == workloads.ring_digest(np.roll(ring, 2, axis=0))
    assert workloads.ring_digest(ring) != workloads.ring_digest(ring[::-1])


class TwoSquares(workloads.Workload):
    """The single-process kernel on two overlapping squares."""

    name = "two_squares"
    unit = "op"
    uses_spark = False
    items = 1

    def build(self, spark):
        pass

    def run(self):
        from ioverlay_spark.kernel import overlay
        from ioverlay_spark.options import FillRule, OverlayRule

        sq = lambda x, y: np.array([[x, y], [x + 4, y], [x + 4, y + 4], [x, y + 4]])  # noqa: E731
        return overlay([sq(0, 0)], [sq(2, 2)], OverlayRule.INTERSECT, FillRule.EVEN_ODD)

    def check(self, out):
        return len(out) == 1


def test_traced_loop_alternates_and_leaves_the_engine_unpatched(tmp_path):
    import importlib

    from spans import Tracer

    kernel_overlay = importlib.import_module("ioverlay_spark.kernel.overlay")
    plain = kernel_overlay.split_segments
    args = argparse.Namespace(workload="two_squares", seed=0, seconds=0, trace=1)
    run = Run(args, str(tmp_path), workload=TwoSquares(0))
    run.tracer = Tracer()
    run._loop(0, trace=True)
    # at least MIN_OPS operations, ending on a traced one
    assert [o["traced"] for o in run.ops] == [False, True] * 3
    assert all(o["ok"] for o in run.ops)
    assert len(run.tracer.ops) == 3
    assert all(op.spans["kernel.split"].calls == 1 for op in run.tracer.ops)
    assert kernel_overlay.split_segments is plain
