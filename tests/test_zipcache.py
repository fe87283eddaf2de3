"""Stat-keyed zipimport directory cache (ioverlay_spark/zipcache.py): the
mechanism on a throwaway zip, then the python workers of a live session."""

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pytest

from ioverlay_spark import zipcache


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ zipimport invalidates lazily; the cache is not installed",
)
def test_invalidate_rereads_only_changed_zip(tmp_path, monkeypatch):
    zpath = tmp_path / "zipcache_probe.zip"
    _write_zip(zpath, ["mod_a"])
    monkeypatch.setattr(zipcache, "_dirs", {})
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    for name in ("mod_a", "mod_b"):
        # register with monkeypatch so teardown drops whatever gets imported
        monkeypatch.setitem(sys.modules, name, None)
        del sys.modules[name]
    monkeypatch.syspath_prepend(str(zpath))
    import mod_a

    assert mod_a.NAME == "mod_a"
    importlib.invalidate_caches()  # first call after install: reads and keys

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(10):
        importlib.invalidate_caches()
    assert reads.count(str(zpath)) == 0

    _write_zip(zpath, ["mod_a", "mod_b"])
    importlib.invalidate_caches()
    assert reads.count(str(zpath)) == 1
    import mod_b

    assert mod_b.NAME == "mod_b"

    zpath.unlink()
    importlib.invalidate_caches()  # a vanished archive must not raise


def test_engine_workers_skip_directory_reads(spark):
    from ioverlay_spark.operators.overlay_df import overlay_rows
    from ioverlay_spark.operators.spatial import knn_broadcast_grid

    rows = spark.range(64).selectExpr(
        "id AS pair_id",
        "array(0L, 4L, 4L, 0L) AS subj_x",
        "array(0L, 0L, 4L, 4L) AS subj_y",
        "array(2L, 6L, 6L, 2L) AS clip_x",
        "array(2L, 2L, 6L, 6L) AS clip_y",
    )
    got = overlay_rows(rows, rules=["intersect"]).select("pair_id", "area2").collect()
    assert sorted(r.pair_id for r in got) == list(range(64))
    assert {abs(r.area2) for r in got} == {8}  # 2 x 2 overlap, doubled area

    # inside the 2^20 grid; centers carry doubled coordinates
    pts = spark.range(256).selectExpr("id AS p_id", "id * 4001 AS px", "id * 3001 AS py")
    ctr = spark.range(32).selectExpr("id AS r_id", "id * 60000 AS cx2", "id * 50000 AS cy2")
    knn = knn_broadcast_grid(pts, ctr, k=2).toPandas()
    assert len(knn) == 2 * 256 and set(knn["rnk"]) == {1, 2}

    def probe(it):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in it:
            pass
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "has_pkg": ["ioverlay_spark" in sys.modules],
                "reads": [len(reads)],
            }
        )

    out = (
        spark.range(0, 16, 1, 16)
        .mapInArrow(probe, "pid long, has_pkg boolean, reads long")
        .toPandas()
    )
    assert len(out) == 16
    with_pkg = out[out["has_pkg"]]
    assert len(with_pkg) >= 1, out
    assert np.all(with_pkg["reads"] == 0), out
