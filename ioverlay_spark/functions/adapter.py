"""Float shell: FloatPointAdapter analog — fit, quantize, dequantize.

Reference: the float API wraps the integer core by snapping floats onto an integer
grid via an adapter built from the union bounding box of all inputs
(iOverlay/src/float/overlay.rs:146-159 `FloatPointAdapter::with_iter`), or a
user-fixed scale (`FixedScaleFloatOverlay`, iOverlay/src/float/scale.rs:78 —
scale = 1/grid_size). Output maps back int->float.

Spark-first expression (SURVEY.md §1.3): the adapter fit is a TWO-PASS plan —
one `agg(min/max)` job over the float geometry columns, then the scale/offset
travel to executors as plain literals folded into quantize Column expressions
(whole-stage codegen; no UDF, no broadcast variable needed for two doubles).

The scale is a power of two so that floats already on a 2^-k grid quantize and
dequantize EXACTLY (no drift), mirroring the reference's power-of-two adapter.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # the numpy float path imports this module without pyspark
    from pyspark.sql import Column, DataFrame

# target integer extent ~2^29: products of two coordinate diffs stay << 2^63
TARGET_BITS = 29


def _ceil_log2(x: float) -> int:
    if x <= 0:
        return 0
    m, e = math.frexp(x)  # x = m * 2^e, m in [0.5, 1)
    return e - 1 if m == 0.5 else e


@dataclass(frozen=True)
class FloatAdapter:
    """offset + power-of-two scale; int = round((float - offset) * scale)."""

    offset_x: float
    offset_y: float
    scale: float  # 2^k

    @staticmethod
    def _round_half_away(v: Column) -> Column:
        # reference FloatPointAdapter uses Rust f64::round = half AWAY from zero
        # (iOverlay/src/float/*); floor(v+0.5) would send negative exact halves
        # toward +inf instead
        from pyspark.sql import functions as F

        return (
            F.when(v >= 0, F.floor(v + F.lit(0.5)))
            .otherwise(-F.floor(-v + F.lit(0.5)))
            .cast("long")
        )

    def quantize_x(self, col: Column) -> Column:
        return self._round_half_away((col - self.offset_x) * self.scale)

    def quantize_y(self, col: Column) -> Column:
        return self._round_half_away((col - self.offset_y) * self.scale)

    def dequantize_x(self, col: Column) -> Column:
        return col.cast("double") / self.scale + self.offset_x

    def dequantize_y(self, col: Column) -> Column:
        return col.cast("double") / self.scale + self.offset_y

    def dequantize_area2(self, col: Column) -> Column:
        """Doubled-area in float units from doubled-area in int units."""
        return col.cast("double") / (self.scale * self.scale)


def fixed_scale_adapter(grid_size: float) -> FloatAdapter:
    """User-fixed grid (reference FixedScaleFloatOverlay): scale = 1/grid_size,
    no offset. grid_size should be a power of two for exact roundtrips."""
    return FloatAdapter(0.0, 0.0, 1.0 / grid_size)


def fit_adapter(df: DataFrame, x_cols: list[str], y_cols: list[str]) -> FloatAdapter:
    """Fit from the union bounding box of all float geometry columns (one agg job).

    Columns may be DOUBLE scalars or ARRAY<DOUBLE>; arrays contribute their
    element-wise min/max."""
    from pyspark.sql import functions as F

    def mins_maxs(cols):
        aggs = []
        for c in cols:
            col = F.col(c)
            dt = dict(df.dtypes).get(c, "")
            if dt.startswith("array"):
                aggs.append(F.min(F.array_min(col)))
                aggs.append(F.max(F.array_max(col)))
            else:
                aggs.append(F.min(col))
                aggs.append(F.max(col))
        return aggs

    row = df.agg(*(mins_maxs(x_cols) + mins_maxs(y_cols))).collect()[0]
    vals = list(row)
    nx = 2 * len(x_cols)
    xs = [v for v in vals[:nx] if v is not None]
    ys = [v for v in vals[nx:] if v is not None]
    min_x, max_x = (min(xs), max(xs)) if xs else (0.0, 0.0)
    min_y, max_y = (min(ys), max(ys)) if ys else (0.0, 0.0)
    extent = max(max_x - min_x, max_y - min_y, 1e-12)
    k = TARGET_BITS - _ceil_log2(extent)
    return FloatAdapter(float(min_x), float(min_y), float(math.ldexp(1.0, k)))
