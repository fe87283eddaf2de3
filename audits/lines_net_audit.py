import sys, time
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from test_distributed import lines_net, rings_to_contours_rows
from ioverlay_spark.session import get_spark

n = int(sys.argv[1]) if len(sys.argv) > 1 else 512
spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
from ioverlay_spark.options import FillRule, OverlayRule
from ioverlay_spark.operators.distributed import contours_to_segments_df, distributed_overlay

subj, clip = lines_net(n, 20)
df = spark.createDataFrame(rings_to_contours_rows(subj, clip), ["role","cid","pts_x","pts_y"]).localCheckpoint(eager=True)
if "--warm" in sys.argv:
    # spin up the python worker pool + import the shipped package once (the
    # cluster steady state; bench.py's suite warm pass does the same) so the
    # measured wall is the overlay, not a per-core fork+import numpy/pandas/pyarrow
    import pandas as _pd
    def _noop(it):
        import ioverlay_spark.operators.distributed_extract  # noqa: F401
        for pdf in it:
            yield pdf
    spark.range(64).repartition(16).mapInPandas(_noop, "id long").count()
t0 = time.time()
out = distributed_overlay(contours_to_segments_df(spark, df), OverlayRule.INTERSECT, FillRule.EVEN_ODD, force_distributed=True)
cnt = out.count()
a2 = out.agg({"area2": "sum"}).first()[0]
dt = time.time() - t0
exp = 2 * n * n * 10 * 10
print(f"RESULT n={n} rings={cnt} area_ok={int(a2)==exp} wall={dt:.1f}s")
spark.stop()
