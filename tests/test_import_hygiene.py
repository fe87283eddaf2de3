"""Import hygiene of the Python worker path.

pyarrow 16 imports pandas (about 30 MB of resident memory and 0.4 s of CPU
per Python worker) inside pa.array, Array.to_numpy, Table.join and a few more
calls (arrow_np's docstring lists them). The engine's mapInArrow /
applyInArrow kernels cross Arrow only through arrow_np, so a worker that runs
them never imports pandas; the numpy float path never imports pyspark.

Each check runs in a fresh interpreter, so modules loaded by this test
session cannot hide an import. The lint test pins the crossing rule in the
five kernel modules.
"""

import ast
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KERNEL_MODULES = [
    "ioverlay_spark/operators/overlay_df.py",
    "ioverlay_spark/operators/distributed.py",
    "ioverlay_spark/operators/distributed_extract.py",
    "ioverlay_spark/operators/cluster_overlay.py",
    "ioverlay_spark/operators/spatial.py",
]


def _run(script: str) -> str:
    """Run `script` in a fresh interpreter with the repo on sys.path; return
    its stdout, failing the test with its stderr when it exits non-zero."""
    code = f"import sys\nsys.path.insert(0, {ROOT!r})\n" + textwrap.dedent(script)
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, cwd=ROOT
    )
    assert r.returncode == 0, r.stdout + r.stderr
    return r.stdout


def test_numpy_paths_load_neither_pyspark_nor_pandas():
    out = _run(
        """
        import numpy as np
        from ioverlay_spark.functions.float_shell import float_overlay
        from ioverlay_spark.kernel.overlay import overlay
        from ioverlay_spark.options import FillRule, OverlayRule

        sq = lambda x, y, s: np.array([[x, y], [x + s, y], [x + s, y + s], [x, y + s]])
        f = float_overlay([sq(0.0, 0.0, 1.5)], [sq(0.75, 0.75, 1.5)], OverlayRule.UNION,
                          FillRule.NON_ZERO, dtype=np.float64)
        s = overlay([sq(0, 0, 100)], [sq(25, 25, 50)], OverlayRule.DIFFERENCE)
        print(len(f), len(s), sorted(m for m in ("pyspark", "pandas") if m in sys.modules))
        """
    )
    assert out.split() == ["1", "1", "[]"], out


_KERNELS = """
import numpy as np
import pyarrow as pa
from types import SimpleNamespace

from ioverlay_spark.arrow_np import (
    from_np, list_from_np, record_batch, strings_from_codes, to_np,
)
from ioverlay_spark.kernel.segments import Segments, build_segments
from ioverlay_spark.operators import (
    cluster_overlay as co, distributed as d, distributed_extract as de,
    overlay_df as od, spatial as sp,
)
from ioverlay_spark.options import DEFAULT_OPTIONS, FillRule, OverlayRule


def check(name):
    if "pandas" in sys.modules:
        print("pandas loaded by", name)
        sys.exit(3)


check("importing the operators")


def sq(x, y, s):
    return np.array([[x, y], [x + s, y], [x + s, y + s], [x, y + s]], dtype=np.int64)


def lists(rings):
    offs = np.cumsum([0] + [len(r) for r in rings])
    return list_from_np(offs, np.concatenate(rings))


def col(v, valid=None):
    a = from_np(np.asarray(v, dtype=np.int64))
    if valid is None:
        return a
    bits = pa.py_buffer(np.packbits(np.asarray(valid, dtype=bool), bitorder="little"))
    return pa.Array.from_buffers(pa.int64(), len(a), [bits, a.buffers()[1]])


def area2(batches):
    return int(sum(np.abs(to_np(b.column("area2"))).sum() for b in batches))


rules = [OverlayRule.INTERSECT, OverlayRule.UNION]
subj = [sq(0, 0, 10), sq(100, 0, 10)]
clip = [sq(5, 5, 10), sq(105, 5, 10)]

# overlay_rows / overlay_pairs: two pairs, intersect 2 * 25 + union 2 * 175 each
rows = record_batch(
    [np.array([1, 2]), lists([r[:, 0] for r in subj]), lists([r[:, 1] for r in subj]),
     lists([r[:, 0] for r in clip]), lists([r[:, 1] for r in clip])],
    names=["pair_id", "subj_x", "subj_y", "clip_x", "clip_y"],
)
out = list(od._rows_kernel(rules, FillRule.EVEN_ODD, DEFAULT_OPTIONS)(iter([rows])))
assert area2(out) == 800, area2(out)
check("overlay_df._rows_kernel")
rings = subj + clip
pairs = record_batch(
    [np.array([1, 2, 1, 2]), strings_from_codes(["subject", "clip"], [0, 0, 1, 1]),
     lists([r[:, 0] for r in rings]), lists([r[:, 1] for r in rings])],
    names=["pair_id", "role", "pts_x", "pts_y"],
)
out = list(od._pairs_kernel(rules, FillRule.EVEN_ODD, DEFAULT_OPTIONS)(iter([pairs[:1], pairs[1:]])))
assert area2(out) == 800, area2(out)
check("overlay_df._pairs_kernel")

# the distributed pipeline's kernels on the first pair's segments
s = Segments.concat([build_segments([subj[0]], True), build_segments([clip[0]], False)])
n = len(s)
sid = np.arange(10, 10 + n)
cells = record_batch([s.ax, s.ay, s.bx, s.by, sid], names=["ax", "ay", "bx", "by", "_sid"])
marks = d._find_marks_kernel(pa.Table.from_batches([cells]))
m = marks.num_rows
assert m == 4, marks.to_pydict()
check("distributed._find_marks_kernel")
seg_valid = np.r_[np.ones(n, bool), np.zeros(m, bool)]
union = record_batch(
    [col(np.r_[getattr(s, c), np.zeros(m, np.int64)], seg_valid) for c in d.SEG_COLS]
    + [col(np.r_[sid, to_np(marks.column("_sid"))]),
       col(np.r_[np.zeros(n, np.int64), to_np(marks.column("px"))], ~seg_valid),
       col(np.r_[np.zeros(n, np.int64), to_np(marks.column("py"))], ~seg_valid)],
    names=d.SEG_COLS + ["_sid", "px", "py"],
)
split = list(d._apply_iter([])(iter([union])))
assert sum(b.num_rows for b in split) == n + m, split
check("distributed._apply_iter")
packed = list(d._pack_strips_iter([20], pending=True)(iter([union])))
assert sum(b.num_rows for b in packed) == 2, packed
check("distributed._pack_strips_iter")
fills = list(d._packed_fill_iter(FillRule.EVEN_ODD)(iter(packed)))
assert sum(b.num_rows for b in fills) == n + m, fills
blobs = list(d._packed_fill_iter(FillRule.EVEN_ODD, OverlayRule.UNION)(iter(packed)))
check("distributed._packed_fill_iter")
ring_batches = list(de._fused_extract_blob_iter(OverlayRule.UNION, DEFAULT_OPTIONS)(iter(blobs)))
assert area2(ring_batches) == 350, area2(ring_batches)
check("distributed_extract._fused_extract_blob_iter")
b_rows = list(de._blob_rows_iter(iter(blobs)))
repacked = list(de._pack_boundary_rows_iter(iter(b_rows)))
assert to_np(repacked[0].column("cnt")).tolist() == [8], repacked
check("distributed_extract._blob_rows_iter / _pack_boundary_rows_iter")
local = list(d._local_overlay_kernel(OverlayRule.UNION, FillRule.EVEN_ODD, DEFAULT_OPTIONS)(
    iter([record_batch([getattr(s, c) for c in d.SEG_COLS], names=d.SEG_COLS)])
))
assert area2(local) == 350, area2(local)
check("distributed._local_overlay_kernel")
f = pa.Table.from_batches(fills)
salted = pa.Table.from_batches([record_batch(
    [np.zeros(f.num_rows, np.int64)] + [f.column(c) for c in ("ax", "ay", "bx", "by", "fill")]
    + [np.full(f.num_rows, 3, np.int32)],
    names=["component", "ax", "ay", "bx", "by", "fill", "_salt"],
)])
walked = de._extract_kernel(OverlayRule.UNION, DEFAULT_OPTIONS)(salted)
assert area2([walked]) == 350 and walked.num_rows == 1, walked
check("distributed_extract._extract_kernel")
cc = list(de._union_find_iter(iter([record_batch([[1, 2, 7], [2, 3, 8]], names=["u", "v"])])))
assert to_np(cc[0].column("component")).tolist() == [1, 1, 1, 7, 7], cc
check("distributed_extract._union_find_iter")

# cluster labels: the two pairs are two bbox-overlap clusters
contours = record_batch(
    [np.arange(4), lists([r[:, 0] for r in rings]), lists([r[:, 1] for r in rings])],
    names=["cid", "pts_x", "pts_y"],
)
bboxes = list(co._bbox_kernel(iter([contours])))
labels = list(co._one_task_labels(iter(bboxes)))
assert to_np(labels[0].column("cluster")).tolist() == [0, 1, 0, 1], labels
check("cluster_overlay._bbox_kernel / _one_task_labels")

# kNN against a broadcast grid
grid = sp.knn_grid(np.arange(3), np.array([0, 40, 400]), np.array([0, 0, 0]))
pts = record_batch([np.array([5, 6]), np.array([1, 190]), np.array([0, 0])],
                   names=["p_id", "px", "py"])
knn = list(sp._knn_kernel(SimpleNamespace(value=grid), 2)(iter([pts])))
assert to_np(knn[0].column("r_id")).tolist() == [0, 1, 2, 1], knn
check("spatial._knn_kernel")
print("ok")
"""


def test_worker_kernels_do_not_load_pandas():
    assert _run(_KERNELS).split()[-1] == "ok"


_FORBIDDEN = {
    ("pa", "array"): "pa.array(",
    ("pa", "table"): "pa.table(",
    (None, "to_numpy"): ".to_numpy(",
    (None, "toPandas"): "toPandas(",
}


@pytest.mark.parametrize("path", KERNEL_MODULES)
def test_kernel_modules_cross_arrow_only_through_arrow_np(path):
    """No call in a kernel module goes through pyarrow's pandas shim: Arrow
    is read and built through arrow_np (docstrings and comments may name the
    calls)."""
    tree = ast.parse(open(os.path.join(ROOT, path)).read(), filename=path)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            base = node.func.value
            key = (base.id if isinstance(base, ast.Name) else None, node.func.attr)
            for (mod, attr), label in _FORBIDDEN.items():
                if attr == key[1] and mod in (None, key[0]):
                    hits.append(f"{path}:{node.lineno}: {label}")
    assert not hits, "\n".join(hits)
