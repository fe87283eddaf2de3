"""Golden-fixture loading and comparison for the reference boolean test corpus.

The reference ships 162 JSON fixtures (iOverlay/tests/boolean/test_*.json) with inputs
and, per overlay rule, a LIST OF ACCEPTED VARIANTS (variant -> shapes -> contours ->
points). The reference comparator is rotation-invariant per ring
(iOverlay/tests/util.rs:8-60). Ours additionally canonicalizes contour/shape order on
both sides (the reference's discovery order is an implementation detail of its graph
walk; geometry equality is what matters): rings rotate to start at their lex-min point,
holes sort canonically within a shape, shapes sort canonically. Ring direction is
semantic (hull vs hole) and is NOT normalized.
"""

from __future__ import annotations

import json
import os

import numpy as np

from ..options import FillRule, OverlayRule

FIXTURE_DIR = "/root/reference/iOverlay/tests/boolean"

RULE_KEYS = {
    OverlayRule.SUBJECT: "subject",
    OverlayRule.CLIP: "clip",
    OverlayRule.INTERSECT: "intersect",
    OverlayRule.UNION: "union",
    OverlayRule.DIFFERENCE: "difference",
    OverlayRule.INVERSE_DIFFERENCE: "inverseDifference",
    OverlayRule.XOR: "xor",
}


def load_fixture(index: int, fixture_dir: str = FIXTURE_DIR) -> dict:
    with open(os.path.join(fixture_dir, f"test_{index}.json")) as f:
        data = json.load(f)
    out = {
        "fill_rule": FillRule.from_code(data.get("fillRule", 0)),
        "subj": [np.array(c, dtype=np.int64).reshape(-1, 2) for c in data.get("subjPaths", [])],
        "clip": [np.array(c, dtype=np.int64).reshape(-1, 2) for c in data.get("clipPaths", [])],
        "expected": {},
    }
    for rule, key in RULE_KEYS.items():
        variants = data.get(key)
        if variants is None:
            continue
        out["expected"][rule] = [
            [[np.array(c, dtype=np.int64).reshape(-1, 2) for c in shape] for shape in variant]
            for variant in variants
        ]
    return out


def _canon_ring(ring: np.ndarray) -> tuple:
    pts = [(int(x), int(y)) for x, y in ring]
    k = min(range(len(pts)), key=lambda i: pts[i])
    return tuple(pts[k:] + pts[:k])


def canonical(shapes) -> tuple:
    """Canonical form of a multipolygon: per-shape (hull, sorted holes), shapes sorted."""
    canon_shapes = []
    for shape in shapes:
        if not len(shape):
            continue
        hull = _canon_ring(shape[0])
        holes = sorted(_canon_ring(r) for r in shape[1:])
        canon_shapes.append((hull, tuple(holes)))
    return tuple(sorted(canon_shapes))


def shapes_match_any(result, variants) -> bool:
    got = canonical(result)
    return any(canonical(v) == got for v in variants)
