"""Session utilities: build a tuned SparkSession and ship the package to workers.

`ship_package(spark)` zips ioverlay_spark and addPyFile's it so python workers can
unpickle our UDF closures regardless of the driver's cwd — the same mechanism
`spark-submit --py-files ioverlay_spark.zip` uses on a real cluster (north rule).
Idempotent per SparkContext.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


_ZIP_CACHE: str | None = None


def build_package_zip(zpath: str | None = None) -> str:
    """Zip the ioverlay_spark package for --py-files / addPyFile shipping.

    Always writes fresh content (cached once per process): a pid- or
    path-keyed existence check can pick up a STALE zip left by an earlier
    process — executors then silently run old code."""
    global _ZIP_CACHE
    if zpath is None:
        if _ZIP_CACHE is not None and os.path.exists(_ZIP_CACHE):
            return _ZIP_CACHE
        fd, zpath = tempfile.mkstemp(prefix="ioverlay_spark_", suffix=".zip")
        os.close(fd)
        _ZIP_CACHE = zpath
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "ioverlay_spark", os.path.relpath(full, _PKG_DIR)
                )
                z.write(full, rel)
    return zpath


def ship_package(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, "_ioverlay_shipped", False):
        return
    sc.addPyFile(build_package_zip())
    sc._ioverlay_shipped = True


def audit_desc(spark: SparkSession, label: str) -> None:
    """Name the NEXT Spark jobs for event-log audits (audits/lines_net_jobs.py).

    No-op unless IOVERLAY_AUDIT_JOBDESC is set: the description is a local
    property of the calling thread, but there it replaces the caller's own (a
    setJobGroup label too), so the library only sets it when an audit asks."""
    if os.environ.get("IOVERLAY_AUDIT_JOBDESC"):
        spark.sparkContext.setJobDescription(label)


def get_spark(
    cpus: int | str = "*",
    shuffle_partitions: int | None = None,
    app_name: str = "ioverlay-spark",
    driver_mem: str = "8g",
) -> SparkSession:
    """Local-mode session with the engine's recommended settings; on a cluster use
    spark-submit with --py-files and the same configs."""
    if shuffle_partitions is None:
        shuffle_partitions = 64 if cpus == "*" else 2 * int(cpus)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ship_package(spark)
    return spark
