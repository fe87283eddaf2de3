"""Reference string-fixture corpus (iOverlay/tests/string/test_*.json via
string_tests.rs): slice_by_paths + clip_paths(direct/invert, boundary excluded)
against the shipped expected variants.

Shape comparison reuses the boolean corpus' rotation-invariant canonical compare;
path comparison canonicalizes direction (reversal allowed) and order — the
reference asserts exact list equality against hand-listed variants, which bakes
in its walk's emission order; geometry equality is the semantic contract."""

import json
import os

import numpy as np
import pytest

from ioverlay_spark.kernel.fixtures import canonical, shapes_match_any
from ioverlay_spark.kernel.string_ops import clip_paths, slice_shape
from ioverlay_spark.options import FillRule

FIXTURE_DIR = "/root/reference/iOverlay/tests/string"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXTURE_DIR), reason=f"fixture corpus {FIXTURE_DIR} not available"
)


def load(i):
    with open(os.path.join(FIXTURE_DIR, f"test_{i}.json")) as f:
        d = json.load(f)
    return {
        "fill_rule": FillRule.from_code(d.get("fillRule", 0)),
        "body": [np.array(c, dtype=np.int64).reshape(-1, 2) for c in d["body"]],
        "string": [np.array(p, dtype=np.int64).reshape(-1, 2) for p in d["string"]],
        "slice": d.get("slice"),
        "clip_direct": d.get("clip_direct"),
        "clip_invert": d.get("clip_invert"),
    }


def _edges(paths):
    out = []
    for p in paths:
        pts = [tuple(int(v) for v in q) for q in p]
        for a, b in zip(pts, pts[1:]):
            if a != b:
                out.append((min(a, b), max(a, b)))
    return out


def _split_cover(edges, points):
    """Split every edge at the given points lying collinear-interior to it;
    return the sorted piece multiset — a segmentation-independent canonical form
    (the reference emits sub-edges split at string-string crossings; ours may
    emit coarser or finer pieces of the same covered set)."""
    out = []
    for a, b in edges:
        hits = [a, b]
        for r in points:
            if r == a or r == b:
                continue
            if (b[0] - a[0]) * (r[1] - a[1]) - (b[1] - a[1]) * (r[0] - a[0]) != 0:
                continue
            if a < r < b:
                hits.append(r)
        hits.sort()
        for u, v in zip(hits, hits[1:]):
            out.append((u, v))
    return sorted(out)


def paths_match_any(got, variants):
    """Coverage equality: identical covered point sets, compared as maximally
    split edge multisets (duplicate coverage must match too)."""
    ge = _edges(got)
    for v in variants:
        ve = _edges(v)
        pts = {p for e in ge + ve for p in e}
        if _split_cover(ge, pts) == _split_cover(ve, pts):
            return True
    return False


INDICES = (
    sorted(int(f[5:-5]) for f in os.listdir(FIXTURE_DIR) if f.startswith("test_"))
    if os.path.isdir(FIXTURE_DIR)
    else []
)


@pytest.mark.parametrize("i", INDICES)
def test_string_fixture_slice(i):
    t = load(i)
    if t["slice"] is None:
        pytest.skip("no slice expectation")
    got = slice_shape(t["body"], t["string"], t["fill_rule"])
    assert shapes_match_any(got, t["slice"]), f"fixture {i}: slice mismatch"


@pytest.mark.parametrize("i", INDICES)
@pytest.mark.parametrize("invert", [False, True])
def test_string_fixture_clip(i, invert):
    t = load(i)
    key = "clip_invert" if invert else "clip_direct"
    if t[key] is None:
        pytest.skip("no clip expectation")
    got = [
        p.tolist()
        for p in clip_paths(
            t["body"], t["string"], t["fill_rule"], invert=invert, boundary_included=False
        )
    ]
    assert paths_match_any(got, t[key]), f"fixture {i}: {key} mismatch"
