"""A19 edge-data (provenance) overlay: the boolean pipeline generic over a user
payload carried on every edge.

Reference: EdgeOverlay / OverlayEdgeData (iOverlay/src/core/edge_overlay.rs:40-141,
iOverlay/src/core/edge_data.rs:5-45): ingest edges with payload `D`, user `merge`
hook for coincident edges, default `split` hook duplicates the payload onto
sub-segments; output is edge-level "vectors" with fill + payload (S8
build_shape_vectors, iOverlay/src/vector/extract.rs).

Spark-first expression: payload = extra columns on the segments DataFrame; the merge
hook = a SQL aggregate expression applied in the coincident-merge groupBy; the split
hook = the apply kernel copying each parent row's payload onto its sub-segments
(one Arrow take; both inside operators/distributed.py). Fills are computed on
de-payloaded geometry and joined back by segment coordinates (exact: (a, b) is
unique after merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..options import FillRule, OverlayRule
from .distributed import compute_fills_df, split_segments_df
from .distributed_extract import boundary_segments_df

KEYS = ["ax", "ay", "bx", "by"]


def edge_overlay_links(
    segs: DataFrame,
    fill_rule: FillRule = FillRule.EVEN_ODD,
    extra_aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Split + fill with payload columns preserved.

    segs: (ax, ay, bx, by, subj, clip, <payload...>); extra_aggs maps each payload
    column to its coincident-merge aggregate (default provenance union:
    {"data": "bit_or(data)"}). Returns links (ax, ay, bx, by, subj, clip, fill,
    <payload...>) — the reference's vector output with SideFill + data."""
    if extra_aggs is None:
        extra_aggs = {"data": "bit_or(data)"}
    split = split_segments_df(segs, extra_aggs=extra_aggs)
    fills = compute_fills_df(split, fill_rule)
    payload = split.segs.select(*KEYS, *extra_aggs.keys())
    return fills.join(payload, KEYS, "left")


def included_links(links: DataFrame, rule: OverlayRule) -> DataFrame:
    """A11 on payload links: keep result-boundary edges for the rule (payload
    columns flow through untouched)."""
    return boundary_segments_df(links, rule)
