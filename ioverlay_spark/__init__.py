"""ioverlay_spark — PySpark-native polygon overlay, spatial-join & tiling engine.

From-scratch reimplementation of iShape-Rust/iOverlay's semantics (boolean polygon
overlay with fill rules, self-intersection resolution, spatial predicates, clip/slice,
buffering) as idiomatic Spark: DataFrames of quantized integer segments, grid-cell
partitioning, vectorized Arrow/pandas-UDF kernels, and driver-coordinated fixpoint
rounds. See SURVEY.md for the blueprint.
"""

from .memtune import tune_allocator as _tune_allocator
from .zipcache import install as _install_zipcache

_tune_allocator()  # slow-demand-paging hosts: keep kernel temp pages (memtune.py)
_install_zipcache()  # python workers: no zip directory re-read per task (zipcache.py)

from .options import (
    ALL_RULES,
    ContourDirection,
    DEFAULT_OPTIONS,
    FillRule,
    OverlayOptions,
    OverlayRule,
)

__version__ = "0.1.0"
