"""Phase-timing of cluster_overlay on the not_overlap scenario (VERDICT r04 #3:
distributed not_overlap n=1024 target ~10x of reference 0.745s).

Phases: input build / createDataFrame+checkpoint / labels / counts / overlay+agg.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa

from ioverlay_spark import scenarios
from ioverlay_spark.options import FillRule, OverlayRule

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1024

from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master("local[16]")
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.driver.memory", "48g")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

def _noop(it):
    import ioverlay_spark.operators.distributed_extract  # noqa: F401
    for pdf in it:
        yield pdf

spark.range(64).repartition(16).mapInPandas(_noop, "id long").count()

t0 = time.perf_counter()
subj, clip = scenarios.not_overlap(N)
rings = subj + clip
npolys = len(rings)
counts = np.fromiter((len(r) for r in rings), dtype=np.int64, count=npolys)
offs = np.zeros(npolys + 1, dtype=np.int32)
np.cumsum(counts, out=offs[1:])
P = np.concatenate(rings)
tbl = pa.table(
    {
        "role": pa.array(["subject"] * len(subj) + ["clip"] * len(clip)),
        "cid": pa.array(np.arange(npolys, dtype=np.int64)),
        "pts_x": pa.ListArray.from_arrays(pa.array(offs), pa.array(P[:, 0].copy())),
        "pts_y": pa.ListArray.from_arrays(pa.array(offs), pa.array(P[:, 1].copy())),
    }
)
t1 = time.perf_counter()
print(f"build_input {t1-t0:.2f}s npolys={npolys} pts={len(P)}")

df = spark.createDataFrame(tbl).localCheckpoint(eager=True)
t2 = time.perf_counter()
print(f"createDataFrame+checkpoint {t2-t1:.2f}s")

from ioverlay_spark.operators.cluster_overlay import cluster_labels_df
from ioverlay_spark.session import ship_package

ship_package(spark)
src = df.where(F.size("pts_x") >= 3).localCheckpoint(eager=True)
t3 = time.perf_counter()
print(f"src checkpoint {t3-t2:.2f}s")

labels = cluster_labels_df(src).localCheckpoint(eager=True)
t4 = time.perf_counter()
print(f"labels {t4-t3:.2f}s")

n_labels = labels.limit(8_000_001).count()
t5 = time.perf_counter()
print(f"n_labels count {t5-t4:.2f}s n={n_labels}")

giant = labels.where(F.col("cluster_npts") > 200_000).limit(1).count()
t5b = time.perf_counter()
print(f"giant probe {t5b-t5:.2f}s giants={giant}")

from ioverlay_spark.operators.overlay_df import overlay_pairs
from ioverlay_spark.options import DEFAULT_OPTIONS

small_labels = F.broadcast(labels.where(F.col("cluster_npts") <= 200_000).select("cid", "cluster"))
smalls = src.join(small_labels, "cid")
out = overlay_pairs(
    smalls.select(F.col("cluster").alias("pair_id"), "role", "pts_x", "pts_y"),
    [OverlayRule.UNION],
    FillRule.NON_ZERO,
    DEFAULT_OPTIONS,
)
agg = out.selectExpr("count(*) AS rings", "sum(area2) AS area2",
                     "count(distinct pair_id, shape_id) AS shapes").first()
t6 = time.perf_counter()
print(f"overlay+agg {t6-t5b:.2f}s rings={agg['rings']} shapes={agg['shapes']} area2={agg['area2']}")
print(f"TOTAL(after input) {t6-t1:.2f}s")
spark.stop()
