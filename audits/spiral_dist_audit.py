"""Spiral self-union at reference perf scales through the DISTRIBUTED pipeline
(big single jobs route to the x-strip split/fill/extract path on Spark)."""
import sys, time
import numpy as np

import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scenarios_audit import spiral
from ioverlay_spark.session import get_spark

n = int(sys.argv[1]) if len(sys.argv) > 1 else 262144
spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
from ioverlay_spark.functions.float_shell import NumpyFloatAdapter
from ioverlay_spark.options import FillRule, OverlayRule
from ioverlay_spark.operators.distributed import (
    contours_to_segments_df,
    distributed_overlay,
)

path = spiral(n, 100.0)
a = NumpyFloatAdapter.fit([path])
q = a.quantize(path)
rows = [("subject", 0, q[:, 0].tolist(), q[:, 1].tolist())]
df = spark.createDataFrame(rows, ["role", "cid", "pts_x", "pts_y"]).localCheckpoint(
    eager=True
)
t0 = time.time()
out = distributed_overlay(
    contours_to_segments_df(spark, df),
    OverlayRule.SUBJECT,
    FillRule.NON_ZERO,
    force_distributed=True,
)
cnt = out.count()
dt = time.time() - t0
print(f"RESULT n={n} rings={cnt} wall={dt:.1f}s segs_per_s={2*n/dt:,.0f}")
spark.stop()
